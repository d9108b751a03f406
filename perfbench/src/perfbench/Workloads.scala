package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.serve.{Materialize, Responses, TimeWindowParams}

/** Shared plumbing: paths, the measured window, repetitions, worker pools. */
abstract class Base(val spark: SparkSession, val cfg: Config, val report: Report)
    extends Workload {
  val tables = s"${cfg.input}/tables"
  val cpus: Int = Runtime.getRuntime.availableProcessors
  val seed: Long = cfg.json("manifest.json").get("seed").asLong
  /** Never reached: a cache hit must not rebuild. */
  val NeverStale: Long = Long.MaxValue / 4

  /** In a traced run every second measured operation is traced; set-up and
    * check operations (negative ids) never are.
    */
  def tracedOp(i: Long): Boolean = cfg.trace && i >= 0 && (i & 1L) == 1L

  /** Set-up runs this often; `setup_s` is the median. */
  val SetupReps = 2

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timedReps(n: Int)(body: Int => Unit): Seq[Double] = (0 until n).map { i =>
    val t0 = System.nanoTime()
    body(i)
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `f` over `items` on `threads` threads, waiting for all. */
  def parallel[A](threads: Int, items: Seq[A])(f: A => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val fs = items.map(a => pool.submit(new Runnable { def run(): Unit = f(a) }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  def deadline(): Long = System.nanoTime() + (cfg.seconds * 1e9).toLong

  def sleepUntil(ns: Long): Unit = {
    val d = ns - System.nanoTime()
    if (d > 0) Thread.sleep(d / 1000000, (d % 1000000).toInt)
  }

  def layerMean(name: String, n: Int): Double = Trace.totalMs(name) / math.max(1, n)
}

/** The analytics endpoints the serving workload uses: the eight `q_lit_*`
  * pages that rebuild fastest. One publish of all 82 takes about two
  * minutes on four cores, far beyond one run.
  */
object Endpoints {
  val names: Seq[String] = Seq(
    "q_lit_first_block", "q_lit_incentives_pool", "q_lit_leases_search",
    "q_lit_price_latest", "q_lit_protocol_by_name", "q_lit_repayment_sums",
    "q_lit_revenue_total", "q_lit_txs_page")

  def build(spark: SparkSession, tables: String, name: String): DataFrame =
    Trace.span("queries.plan")(SparkEntry.queries(name)(spark, tables))

  /** Publish a fresh snapshot of `name` (TTL 0 forces the rebuild). */
  def publish(spark: SparkSession, tables: String, wh: String, name: String): DataFrame =
    Trace.layer(spark, "queries", "serve.publish") {
      Materialize.goldTable(spark, s"$wh/$name", 0)(build(spark, tables, name))
    }

  /** Order-insensitive content hash: row count plus the sum of row hashes. */
  def hash(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

// ---------------------------------------------------------------------------

/** The reference's serving tier in two phases of one run, sharing one JVM
  * and one set-up. First 40% of the window: the background refresher, a closed loop of
  * nproc/2 workers rebuilding every endpoint once per seeded-order pass with
  * goldTable(ttl = 0); queries and sources do the work, serve only
  * publishes. Then 60%, in the JVM the first phase warmed: open-loop
  * cache-hit reads over the gold tables (lookup with a long TTL ->
  * clampLimit -> toJsonResponse, timed from each request's due time); serve
  * does the work, queries and sources do none. Each phase is the other's
  * control: a plan change should move only the first, a cache-tier change
  * only the second. The phases never overlap: a read racing a republish of
  * the same table can fail on the local file system (the `_CURRENT` pointer
  * and its checksum file are renamed one after the other). Every body must
  * equal the one rendered in set-up; every rebuilt snapshot's content hash
  * the one computed there.
  */
final class ServeRefresh(spark: SparkSession, cfg: Config, report: Report)
    extends Base(spark, cfg, report) {
  private val wh = s"${cfg.work}/gold"
  private val req = cfg.json("requests.json")
  private val rate = req.get("rate_per_s").asDouble
  private val ranks = req.get("rank").elements.asScala.map(_.asInt).toIndexedSeq
  private val limits = req.get("limit").elements.asScala.map(_.asInt).toIndexedSeq
  private def endpoint(i: Int) = Endpoints.names(ranks(i))
  private def limit(l: Int) = Option(l).filter(_ >= 0)
  private val expected = new ConcurrentHashMap[(String, Int), String]()
  private val reference = new ConcurrentHashMap[String, String]()
  private val hits, lookups, bodyBytes = new AtomicLong()
  private val queueWait, genLate = new ConcurrentLinkedQueue[Double]()
  private val refreshes = new ConcurrentLinkedQueue[Op]()
  /** Rebuilt snapshots, content-checked after the window. */
  private val rebuilt = new ConcurrentLinkedQueue[(String, DataFrame)]()
  /** The reference refreshes with bounded parallelism: nproc/2 workers. */
  private val refreshers = math.max(1, cpus / 2)
  private val k = Endpoints.names.size
  private val passStart, passEnd = new ConcurrentHashMap[Int, Long]()
  private val passDone = new ConcurrentHashMap[Int, AtomicInteger]()

  /** Set-up publishes every endpoint's gold table (timed); the reference
    * hashes and bodies the checks compare against are computed once, after.
    */
  def setup(): Seq[Double] = {
    val reps = timedReps(SetupReps) { _ =>
      parallel(cpus, Endpoints.names)(Endpoints.publish(spark, tables, wh, _))
    }
    parallel(cpus, Endpoints.names)(n => reference.put(n, Endpoints.hash(lookup(n))))
    val combos = ranks.indices.map(i => (endpoint(i), limits(i))).distinct
    parallel(cpus, combos) { case (n, l) => expected.put((n, l), render(n, limit(l))) }
    reps
  }

  private def lookup(name: String): DataFrame =
    Materialize.goldTable(spark, s"$wh/$name", NeverStale)(
      throw new IllegalStateException(s"cache miss on $name"))

  private def render(name: String, lim: Option[Int]): String =
    Responses.toJsonResponse(lookup(name), TimeWindowParams.clampLimit(lim)).body

  def measure(): Unit = {
    val refreshEnd = System.nanoTime() + (cfg.seconds * 4e8).toLong
    parallel(refreshers, 0 until refreshers)(_ => refreshLoop(refreshEnd))
    // settle the refresher's garbage so it is not collected during reads;
    // it republished every table with identical content, so the bodies
    // rendered in set-up still hold
    System.gc()
    serveLoop(System.nanoTime() + (cfg.seconds * 6e8).toLong)
  }

  private def serveLoop(end: Long): Unit = {
    val clients = Executors.newFixedThreadPool(cpus)
    val t0 = System.nanoTime()
    var i = 0
    while (i < ranks.size && t0 + (i * 1e9 / rate).toLong < end) {
      val due = t0 + (i * 1e9 / rate).toLong
      sleepUntil(due)
      genLate.add(ms(due))
      val r = i
      clients.submit(new Runnable { def run(): Unit = serve(r, due) })
      i += 1
    }
    clients.shutdown()
    clients.awaitTermination(120, TimeUnit.SECONDS)
  }

  private def serve(i: Int, due: Long): Unit = {
    val on = tracedOp(i)
    queueWait.add(ms(due))
    val name = endpoint(i)
    val ok = report.attempt(s"read $name limit=${limits(i)}") {
      Trace.op(spark, i + 1L, on) {
        val df = Trace.layer(spark, "serve", "serve.lookup") {
          lookups.incrementAndGet()
          val d = lookup(name)
          hits.incrementAndGet()
          d
        }
        val n = Trace.span("serve.clamp")(TimeWindowParams.clampLimit(limit(limits(i))))
        val body = Trace.layer(spark, "serve", "serve.render")(Responses.toJsonResponse(df, n).body)
        bodyBytes.addAndGet(body.length)
        body == expected.get((name, limits(i)))
      }
    }
    if (ok) report.ops.add(Op(ms(due), on))
  }

  private val nextRefresh = new AtomicInteger()

  private def order(pass: Int): IndexedSeq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Endpoints.names).toIndexedSeq

  /** A pass starts only before the deadline and then always completes, so
    * every run refreshes whole passes: the same mix of endpoints.
    */
  private val passStarted = new ConcurrentHashMap[Int, java.lang.Boolean]()

  private def refreshLoop(end: Long): Unit = while ({
    val i = nextRefresh.getAndIncrement()
    val pass = i / k
    passStarted.computeIfAbsent(pass, _ => System.nanoTime() < end) && { refresh(i, pass); true }
  }) ()

  private def refresh(i: Int, pass: Int): Unit = {
    val name = order(pass)(i % k)
    val on = tracedOp(i)
    val t0 = System.nanoTime()
    passStart.putIfAbsent(pass, t0)
    report.attempt(s"refresh $name") {
      val snap = Trace.op(spark, 1000000L + i, on)(Endpoints.publish(spark, tables, wh, name))
      refreshes.add(Op(ms(t0), on))
      passEnd.merge(pass, System.nanoTime(), (a, b) => math.max(a, b))
      passDone.computeIfAbsent(pass, _ => new AtomicInteger()).incrementAndGet()
      rebuilt.add(name -> snap)
      true
    }
  }

  def check(): Unit = {
    parallel(cpus, rebuilt.asScala.toSeq) { case (name, snap) =>
      report.attempt(s"refreshed $name snapshot hash")(Endpoints.hash(snap) == reference.get(name))
    }
    val plain = (q: ConcurrentLinkedQueue[Op]) => q.asScala.filter(!_.traced).map(_.ms).toSeq
    report.latency("read", "ms", plain(report.ops))
    report.latency("refresh", "ms", plain(refreshes))
    val full = passDone.asScala.collect {
      case (p, c) if c.get == k => (passEnd.get(p) - passStart.get(p)) / 1e9
    }.toSeq
    report.attempt(s"every started refresh pass completed")(full.size == passStarted.asScala.count(_._2))
    if (full.nonEmpty) report.named("refresh_sweep_s") = (Stats.pct(full, 0.5), "s", full.size)
    // refresher capacity: refreshes per second of worker time, times the
    // workers -- the idle tail of the last pass is not counted
    report.completed = refreshes.size
    report.window_s = refreshes.asScala.map(_.ms).sum / 1000.0 / refreshers

    val tracedReads = math.max(1, report.ops.asScala.count(_.traced))
    report.layers("serve.lookup_ms") = layerMean("serve.lookup", tracedReads)
    report.layers("serve.render_ms") = layerMean("serve.render", tracedReads)
    report.layers("serve.queue_wait_ms") = Stats.mean(queueWait.asScala.toSeq)
    report.layers("serve.gen_late_ms") = Stats.mean(genLate.asScala.toSeq)
    report.layers("serve.body_bytes") = bodyBytes.get.toDouble / math.max(1L, lookups.get)
    report.layers("serve.hit_ratio") = hits.get.toDouble / math.max(1L, lookups.get)
    val traced = math.max(1, refreshes.asScala.count(_.traced))
    val q = Trace.counter("queries")
    report.layers("queries.plan_ms") = layerMean("queries.plan", traced)
    report.layers("serve.publish_ms") =
      (Trace.totalMs("serve.publish") - Trace.totalMs("queries.plan")) / traced
    report.layers("queries.jobs") = q.jobs.sum.toDouble / traced
    report.layers("queries.tasks") = q.tasks.sum.toDouble / traced
    report.layers("queries.exec_busy_ms") = q.execRunMs.sum.toDouble / traced
    report.layers("queries.shuffle_write_bytes") = q.shuffleWrite.sum.toDouble / traced
    report.layers("queries.spill_bytes") = q.spill.sum.toDouble / traced
    report.layers("sources.bytes_read") = q.bytesRead.sum.toDouble / traced
    report.layers("sources.rows_read") = q.rowsRead.sum.toDouble / traced
  }
}
