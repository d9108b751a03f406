package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ingest.{EventPipeline, IngestJob}
import graft.operators.Dedup
import graft.serve.{DedupIndex, Materialize, Responses, TimeWindowParams}
import graft.streaming.StreamJobs

/** Live ingest beside reads. Micro-batch files (written by the generator in
  * set-up) arrive by rename on a fixed schedule; the stream lands them
  * through dedupByKey and runToIdempotentSink. Aggregation ticks run back to
  * back (IngestJob.run, then a TTL-0 publish of both gold tables) while one
  * closed-loop reader serves the published snapshots. `p50_ms` is the
  * reader's latency, `ops_per_s` the stream's landing capacity.
  */
final class IngestLive(spark: SparkSession, cfg: Config, report: Report)
    extends Base(spark, cfg, report) {
  private val man = cfg.json("manifest.json").get("stream")
  private val rate = man.get("rate_per_s").asDouble
  private val nBatches = man.get("batches").asInt
  private val cumDistinct = man.get("cum_distinct").elements.asScala.map(_.asLong).toIndexedSeq
  private val goldTables = Seq("daily_user_state", "gold_pl_state")
  private def batchName(b: Int) = f"batch-$b%05d.parquet"

  private final case class Dirs(root: String) {
    val incoming = s"$root/incoming"
    val live = s"$root/live" // live/events.parquet is the sink IngestJob reads
    val checkpoint = s"$root/checkpoint"
    val wh = s"$root/wh"
    val gold = s"$root/gold"
  }
  private var dirs: Dirs = _
  private var query: StreamingQuery = _

  private final case class Tick(startMs: Long, endMs: Long, committed: Long, traced: Boolean)
  private val ticks = new ConcurrentLinkedQueue[Tick]()
  private val reads = new ConcurrentLinkedQueue[Op]()
  private val dueMs = new Array[Long](nBatches)
  @volatile private var delivered = 0 // highest delivered batch index
  private var windowStartMs = 0L
  private var windowEndMs = 0L

  private def startStream(d: Dirs): StreamingQuery = {
    new File(d.incoming).mkdirs()
    StreamJobs.runToIdempotentSink(
      StreamJobs.dedupByKey(StreamJobs.fileEventStream(spark, d.incoming)),
      s"${d.live}/events.parquet", d.checkpoint, Seq("event_id"))
  }

  private def deliver(d: Dirs, b: Int, move: Boolean): Unit = {
    val from = new File(s"${cfg.input}/stream/${batchName(b)}").toPath
    val to = new File(s"${d.incoming}/${batchName(b)}").toPath
    if (move) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    else {
      val tmp = new File(s"${d.root}/${batchName(b)}").toPath
      Files.copy(from, tmp)
      Files.move(tmp, to, StandardCopyOption.ATOMIC_MOVE)
    }
    // the file source orders new files by mtime: stamp the delivery time
    to.toFile.setLastModified(System.currentTimeMillis())
  }

  /** Micro-batch id -> commit time (ms), from the checkpoint's commit log. */
  private def commits(d: Dirs): Map[Long, Long] =
    Option(new File(s"${d.checkpoint}/commits").listFiles).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f.lastModified).toMap

  private def logFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten.filterNot(_.getName.startsWith("."))

  /** Delivered file name -> the micro-batch that read it. The file source's
    * log names each file's source offset; the offset log maps micro-batches
    * to source offsets. They differ because the stateful dedup also runs
    * no-data micro-batches to advance its watermark.
    */
  private def sourceLog(d: Dirs): Map[String, Long] = {
    val Entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    val Offset = "\\{\"logOffset\":(\\d+)\\}".r
    val fileOffset = logFiles(s"${d.checkpoint}/sources/0")
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
      .collect { case Entry(p, o) => new File(new java.net.URI(p).getPath).getName -> o.toLong }
    val firstBatch = logFiles(s"${d.checkpoint}/offsets").filter(_.getName.forall(_.isDigit))
      .flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().toList.collect {
          case Offset(o) => o.toLong -> f.getName.toLong
        }
      }.groupBy(_._1).map { case (o, bs) => o -> bs.map(_._2).min }
    fileOffset.flatMap { case (name, o) => firstBatch.get(o).map(name -> _) }.toMap
  }

  private def waitLanded(d: Dirs, upTo: Int, timeoutMs: Long): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    def landed = {
      val log = sourceLog(d)
      val c = commits(d)
      (0 to upTo).forall(b => log.get(batchName(b)).exists(c.contains))
    }
    while (!landed && System.currentTimeMillis() < until) Thread.sleep(50)
    landed
  }

  private def tick(d: Dirs, i: Long): Unit = {
    // a 10 s window holds about one tick, the first: trace even ticks
    val on = i >= 0 && tracedOp(i + 1)
    val startMs = System.currentTimeMillis()
    val committed = if (commits(d).isEmpty) -1L else commits(d).keys.max
    val ok = report.attempt(s"tick $i") {
      Trace.op(spark, 1000000L + i, on) {
        Trace.layer(spark, "ingest", "ingest.tick")(IngestJob.run(spark, d.live, d.wh))
        goldTables.foreach { t =>
          Trace.layer(spark, "serve", "serve.publish") {
            Materialize.goldTable(spark, s"${d.gold}/$t", 0)(spark.read.parquet(s"${d.wh}/$t"))
          }
        }
        true
      }
    }
    if (ok) ticks.add(Tick(startMs, System.currentTimeMillis(), committed, on))
  }

  def setup(): Seq[Double] = {
    timedReps(SetupReps) { r =>
      val d = Dirs(s"${cfg.work}/ingest-$r")
      val q = startStream(d)
      deliver(d, 0, move = r == SetupReps - 1)
      require(waitLanded(d, 0, 60000), "seed batch did not land")
      tick(d, -1)
      if (r == SetupReps - 1) { dirs = d; query = q } else q.stop()
    }.map { s => ticks.clear(); s }
  }

  def measure(): Unit = {
    val d = dirs
    windowStartMs = System.currentTimeMillis()
    windowEndMs = windowStartMs + (cfg.seconds * 1000).toLong
    val feeder = new Thread(() => {
      var b = 1
      while (b < nBatches && windowStartMs + ((b - 1) * 1000 / rate).toLong < windowEndMs) {
        dueMs(b) = windowStartMs + ((b - 1) * 1000 / rate).toLong
        val wait = dueMs(b) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        deliver(d, b, move = true)
        delivered = b
        b += 1
      }
    })
    val reader = new Thread(() => {
      var i = 0L
      while (System.currentTimeMillis() < windowEndMs) {
        // three reads of the per-user table to one of the one-row rollup, so
        // the median falls inside one table's latencies, not between them
        val t = goldTables(if (i % 4 == 3) 1 else 0)
        val on = tracedOp(i)
        val t0 = System.nanoTime()
        val ok = report.attempt(s"read $t") {
          Trace.op(spark, 2000000L + i, on) {
            val df = Trace.layer(spark, "serve", "serve.lookup") {
              Materialize.goldTable(spark, s"${d.gold}/$t", NeverStale)(
                throw new IllegalStateException(s"cache miss on $t"))
            }
            val n = TimeWindowParams.clampLimit(Some(100))
            Trace.layer(spark, "serve", "serve.render")(Responses.toJsonResponse(df, n).body)
              .startsWith("[{")
          }
        }
        if (ok) reads.add(Op(ms(t0), on))
        i += 1
      }
    })
    feeder.start(); reader.start()
    var i = 0L
    while (System.currentTimeMillis() < windowEndMs) { tick(d, i); i += 1 }
    feeder.join(); reader.join()
  }

  def check(): Unit = {
    val d = dirs
    val last = delivered
    report.attempt("all delivered batches land")(waitLanded(d, last, 60000))
    val log = sourceLog(d)
    val c = commits(d)
    val landMs = (1 to last).flatMap(b => log.get(batchName(b)).flatMap(c.get).map(b -> _)).toMap
    val land = landMs.toSeq.map { case (b, t) => (t - dueMs(b)).toDouble }
    reads.asScala.foreach(report.ops.add)
    val done = ticks.asScala.toSeq
    val fresh = (1 to last).flatMap { b =>
      val id = log(batchName(b))
      done.filter(_.committed >= id).sortBy(_.startMs).headOption.map(t => (b, t))
    }
    report.latency("land", "s", land.map(_ / 1000))
    report.latency("fresh", "s", fresh.map { case (b, t) => (t.endMs - dueMs(b)) / 1000.0 })
    report.latency("read", "ms", reads.asScala.filter(!_.traced).map(_.ms).toSeq)
    // landing capacity: events per second of micro-batch time, each batch
    // timed from its offset-log write to its commit
    val started = Option(new File(s"${d.checkpoint}/offsets").listFiles).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).map(f => f.getName.toLong -> f.lastModified).toMap
    val busyMs = (1 to last).flatMap { b =>
      val id = log(batchName(b))
      for (s <- started.get(id); e <- c.get(id)) yield (e - s).max(1L)
    }
    report.completed = busyMs.size * man.get("batch_events").asDouble
    report.window_s = busyMs.sum / 1000.0

    // output checks, after one last tick over the drained, stopped stream:
    // the sink against the generated distinct count, the final gold table
    // against EventPipeline.run over the generated, deduplicated events
    // (recomputed beside the tick: it reads only generated files)
    val want = Future {
      val expected = new File(s"${cfg.work}/expected/events.parquet")
      expected.mkdirs()
      (0 to last).foreach { b =>
        Files.copy(new File(s"${cfg.input}/clean/${batchName(b)}").toPath,
          new File(expected, batchName(b)).toPath)
      }
      EventPipeline.run(spark, expected.getParent).collect().map(_.toString).sorted.toSeq
    }(ExecutionContext.global)
    query.stop()
    tick(d, -2)
    val sink = spark.read.parquet(s"${d.live}/events.parquet")
    val rows = sink.count()
    val distinctIds = sink.select("event_id").distinct().count()
    report.attempt(s"sink holds $distinctIds distinct of $rows rows, expected ${cumDistinct(last)}") {
      distinctIds == cumDistinct(last) && rows == distinctIds
    }
    report.attempt("gold daily_user_state equals EventPipeline.run over the deduplicated events") {
      val got = Materialize.goldTable(spark, s"${d.gold}/daily_user_state", NeverStale)(
        throw new IllegalStateException("gold daily_user_state missing"))
      got.collect().map(_.toString).sorted.toSeq == Await.result(want, Duration.Inf)
    }

    // layer metrics
    val inWindow = (t: Long) => t >= windowStartMs && t <= windowEndMs + 60000
    val prog = Trace.progress.asScala.toSeq.filter(p => inWindow(p.atMs))
    def dur(k: String) = Stats.mean(prog.map(_.durations.getOrElse(k, 0L).toDouble))
    report.layers("streaming.trigger_ms") = dur("triggerExecution")
    report.layers("streaming.add_batch_ms") = dur("addBatch")
    report.layers("streaming.latest_offset_ms") = dur("latestOffset")
    report.layers("streaming.planning_ms") = dur("queryPlanning")
    report.layers("streaming.wal_commit_ms") = dur("walCommit")
    report.layers("streaming.state_rows") = if (prog.isEmpty) 0.0 else prog.map(_.stateRows).max.toDouble
    // files delivered but not yet committed, sampled at every progress event
    report.layers("streaming.backlog_files") = Stats.mean(prog.map { p =>
      (1 to last).count(b => dueMs(b) <= p.atMs && landMs.get(b).forall(_ > p.atMs)).toDouble
    })
    val offered = prog.map(_.inputRows).sum.toDouble
    val written = (distinctIds - cumDistinct(0)).toDouble
    report.layers("sink.rows_offered") = offered
    report.layers("sink.rows_written") = written
    report.layers("sink.dup_drop_ratio") = if (offered > 0) 1 - written / offered else 0.0
    report.layers("sink.files") = Option(new File(s"${d.live}/events.parquet").listFiles).toSeq.flatten
      .count(_.getName.endsWith(".parquet")).toDouble
    val timed = done.filter(t => t.startMs >= windowStartMs && t.startMs < windowEndMs)
    val timedEndMs = (windowEndMs +: timed.map(_.endMs)).max
    report.layers("ingest.tick_s") = Stats.mean(timed.map(t => (t.endMs - t.startMs) / 1000.0))
    report.layers("ingest.tick_wait_s") = Stats.mean(fresh.flatMap { case (b, t) =>
      landMs.get(b).map(l => (t.startMs - l).max(0L) / 1000.0) })
    val runLog = spark.read.parquet(s"${d.wh}/run_log")
      .filter(col("started_ms") >= windowStartMs && col("finished_ms") <= timedEndMs)
      .groupBy("stage").agg(avg((col("finished_ms") - col("started_ms")) / 1000.0))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq("entities", "enriched_purchases", "daily_user_state", "gold_pl_state").foreach { s =>
      report.layers(s"ingest.${s}_s") = runLog.getOrElse(s, 0.0)
    }
    val tracedTicks = math.max(1, timed.count(_.traced))
    report.layers("serve.publish_ms") = layerMean("serve.publish", tracedTicks * goldTables.size)
    val tracedReads = math.max(1, reads.asScala.count(_.traced))
    report.layers("serve.lookup_ms") = layerMean("serve.lookup", tracedReads)
    report.layers("serve.render_ms") = layerMean("serve.render", tracedReads)
  }
}

// ---------------------------------------------------------------------------

/** Closed-loop document admission against a persisted DedupIndex: each
  * batch runs admitNearDupsIndexOnly, appends the admitted docs, and every
  * `CompactEvery` batches the index is compacted.
  */
final class CorpusAdmit(spark: SparkSession, cfg: Config, report: Report)
    extends Base(spark, cfg, report) {
  private val CompactEvery = 2
  private val man = cfg.json("manifest.json").get("corpus")
  private val nBatches = man.get("batches").asInt
  private var root: String = _
  private def standing0 = spark.read.parquet(s"$tables/documents.parquet")
  private def batch(b: Int) = spark.read.parquet(f"${cfg.input}/admit/batch-$b%05d.parquet")
  private val admittedIds = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
  private var lastPairs: Set[(Long, Long, Double)] = Set.empty
  private var incomingDocs = 0L
  private var rejectedDocs = 0L
  private var tracedBatches = 0

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("a"), col("b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Set-up builds the index and admits batch 0, which compacts, so
    * admission, append and compaction are all compiled before the window
    * opens; the window starts at batch 1.
    */
  def setup(): Seq[Double] = timedReps(SetupReps) { r =>
    root = s"${cfg.work}/index-$r"
    admittedIds.clear()
    DedupIndex.build(spark, root, standing0, "doc_id", "text")
    admit(0, on = false)
  }.map { s => incomingDocs = 0; rejectedDocs = 0; s }

  /** Admit batch `b`: reject near-dups, append the rest, compact after the
    * last batch of each cycle of `CompactEvery`.
    */
  private def admit(b: Int, on: Boolean): Boolean = {
    val incoming = batch(b)
    report.attempt(s"admit batch $b") {
      Trace.op(spark, b + 1L, on) {
        val found = Trace.layer(spark, "operators", "operators.admit") {
          pairs(DedupIndex.admitNearDupsIndexOnly(spark, root, incoming, "doc_id", "text"))
        }
        val rejected = found.map(_._1)
        val admitted = incoming.filter(!col("doc_id").isin(rejected.toSeq: _*))
        val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSeq
        Trace.layer(spark, "operators", "operators.append") {
          DedupIndex.append(spark, root, admitted, "doc_id", "text")
        }
        if (b % CompactEvery == 0)
          Trace.layer(spark, "operators", "operators.compact")(DedupIndex.compact(spark, root))
        admittedIds += ids
        lastPairs = found
        incomingDocs += ids.size + rejected.size
        rejectedDocs += rejected.size
        true
      }
    }
  }

  /** Whole compaction cycles of `CompactEvery` batches, the last of each
    * compacting: a cycle started before the deadline always completes, so
    * every run admits the same mix of compacting and plain batches whatever
    * the machine's speed. A traced run traces every second cycle, from the
    * first in the window.
    */
  def measure(): Unit = {
    val end = deadline()
    var b = 1
    while (b + CompactEvery <= nBatches && System.nanoTime() < end) {
      val on = cfg.trace && (b / CompactEvery) % 2 == 0
      if (on) tracedBatches += CompactEvery
      for (_ <- 0 until CompactEvery) {
        val t0 = System.nanoTime()
        if (admit(b, on)) report.ops.add(Op(ms(t0), on))
        b += 1
      }
    }
  }

  def check(): Unit = {
    report.completed = incomingDocs.toDouble
    report.latency("admit", "ms", report.ops.asScala.filter(!_.traced).map(_.ms).toSeq)
    report.named("admit_docs_per_s") = (incomingDocs / report.measured_s, "1/s", admittedIds.size - 1)
    val last = admittedIds.size - 1
    report.attempt(s"batch $last rejections equal Dedup.crossNearDupMinHash") {
      val standing = (0 until last).foldLeft(standing0) { (s, b) =>
        s.unionByName(batch(b).filter(col("doc_id").isin(admittedIds(b): _*)))
      }
      pairs(Dedup.crossNearDupMinHash(batch(last), standing, "doc_id", "text")) == lastPairs
    }
    val c = Trace.counter("operators")
    val n = math.max(1, tracedBatches)
    report.layers("operators.admit_ms") = layerMean("operators.admit", n)
    report.layers("operators.append_ms") = layerMean("operators.append", n)
    report.layers("operators.compact_ms") = Trace.totalMs("operators.compact") /
      math.max(1, Trace.allSpans.count(_.name == "operators.compact"))
    report.layers("operators.segments") = scala.io.Source.fromFile(s"$root/_MANIFEST", "UTF-8")
      .getLines().count(_.trim.nonEmpty).toDouble
    report.layers("operators.rejected_ratio") = rejectedDocs.toDouble / math.max(1L, incomingDocs)
    report.layers("operators.shuffle_write_bytes") = c.shuffleWrite.sum.toDouble / n
  }
}
