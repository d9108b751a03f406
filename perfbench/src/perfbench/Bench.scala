package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, one workload per JVM.
  *
  * Usage: perfbench.Bench --workload W --input DIR --work DIR --seconds S
  *          --trace 0|1 --out FILE
  *
  * `--input` holds the generated inputs (gen.py), `--work` is scratch space
  * for warehouses, checkpoints and snapshots. The result is written to
  * `--out` as one JSON object; perfbench/run.py turns it into the final line.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(opts("workload"), opts("input"), opts("work"),
      opts("seconds").toDouble, opts("trace") == "1")
    Trace.enabled = cfg.trace
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/spark-warehouse")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${cfg.work}/tmp")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.install(spark)
    val report = new Report(cfg)
    report.session_s = (System.nanoTime() - t0) / 1e9
    try runWorkload(spark, cfg, report)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        report.crashed = Option(e.toString)
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    }
    if (cfg.trace) Trace.writeSpans(s"${cfg.work}/spans.jsonl")
    report.write(opts("out"))
    if (report.crashed.nonEmpty) sys.exit(3)
  }

  private def runWorkload(spark: SparkSession, cfg: Config, report: Report): Unit = {
    val w = Workloads(cfg.workload, spark, cfg, report)
    report.setupReps = w.setup()
    val gc0 = Gc.snapshot()
    val tRun = System.nanoTime()
    w.measure()
    report.measured_s = (System.nanoTime() - tRun) / 1e9
    val gc1 = Gc.snapshot()
    report.gcMs = gc1._1 - gc0._1
    report.gcCount = gc1._2 - gc0._2
    report.heapLiveMb = Heap.liveMb()
    val tCheck = System.nanoTime()
    w.check()
    report.check_s = (System.nanoTime() - tCheck) / 1e9
  }
}

object Workloads {
  def apply(name: String, spark: SparkSession, cfg: Config, report: Report): Workload = name match {
    case "serve_refresh" => new ServeRefresh(spark, cfg, report)
    case "ingest_live"   => new IngestLive(spark, cfg, report)
    case "corpus_admit"  => new CorpusAdmit(spark, cfg, report)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

final case class Config(workload: String, input: String, work: String,
    seconds: Double, trace: Boolean) {
  def json(name: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(s"$input/$name"))
}

/** One workload: `setup` prepares state (returns the wall time of each
  * repetition), `measure` drives load for the configured seconds, `check`
  * verifies the outputs the run left behind.
  */
trait Workload {
  def setup(): Seq[Double]
  def measure(): Unit
  def check(): Unit
}

/** One timed operation: latency in ms, and whether it ran traced. */
final case class Op(ms: Double, traced: Boolean)

final class Report(cfg: Config) {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  var session_s = 0.0
  var measured_s = 0.0
  var check_s = 0.0
  var setupReps: Seq[Double] = Nil
  var gcMs = 0L
  var gcCount = 0L
  var heapLiveMb = 0.0
  var crashed: Option[String] = None
  /** Primary-operation latencies; p50 of the untraced ones is `p50_ms`.
    * A traced run alternates traced and untraced operations; the difference
    * of their medians is the tracing overhead.
    */
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  /** Closed-loop operations completed in the measured window, and that
    * window's length when it differs from the measured phase.
    */
  var completed = 0.0
  var window_s = 0.0
  /** Named end-to-end metrics with unit and sample count (detail output). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(what)
  }

  /** Count one attempted operation; a thrown exception or a false result
    * is a failure.
    */
  def attempt(what: => String)(body: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val ok = try body catch { case e: Exception => fail(s"$what: $e"); return false }
    if (!ok) fail(what)
    ok
  }

  /** Median and the highest of p90/p75/p50 with at least ten samples
    * above it, under `base` (`base`_p50 and `base`_pNN).
    */
  def latency(base: String, unit: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
    named(s"${base}_p50_$unit") = (Stats.pct(xs, 0.5), unit, xs.size)
    Seq(0.9, 0.75).find(p => xs.size * (1 - p) >= 10).foreach { p =>
      named(f"${base}_p${(p * 100).toInt}%d_$unit") = (Stats.pct(xs, p), unit, xs.size)
    }
  }

  def write(path: String): Unit = {
    val untraced = ops.asScala.filter(!_.traced).map(_.ms).toSeq
    val tracedOps = ops.asScala.filter(_.traced).map(_.ms).toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "p50_ms" -> (Stats.pct(untraced, 0.5), "ms"),
      "ops_per_s" -> (completed / math.max(if (window_s > 0) window_s else measured_s, 1e-9), "1/s"),
      "setup_s" -> (Stats.pct(setupReps, 0.5), "s"),
      "heap_live_mb" -> (heapLiveMb, "MB"))
    named("setup_s") = (e2e("setup_s")._1, "s", setupReps.size)
    named("heap_live_mb") = (heapLiveMb, "MB", 1)
    named("error_rate") = (failed.get.toDouble / math.max(1L, attempted.get), "ratio", attempted.get.toInt)
    if (cfg.trace) {
      layers("jvm.gc_ms") = gcMs.toDouble
      layers("jvm.gc_count") = gcCount.toDouble
      // 0 when a run too short had no operation on one side
      layers("trace.overhead_ms") =
        if (tracedOps.isEmpty || untraced.isEmpty) 0.0
        else Stats.pct(tracedOps, 0.5) - Stats.pct(untraced, 0.5)
      layers("trace.spans") = Trace.allSpans.size.toDouble
      // self time: span duration minus what its direct children cover, per
      // traced operation that entered the layer
      val spans = Trace.allSpans
      val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
      spans.groupBy(_.name.takeWhile(_ != '.')).toSeq.sortBy(_._1).foreach { case (l, ss) =>
        layers(s"self.${l}_ms") =
          ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum / ss.map(_.req).distinct.size
      }
    }
    val j = new StringBuilder
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    j ++= s"""{"workload":${str(cfg.workload)},"attempted":${attempted.get},"failed":${failed.get},"""
    j ++= s""""crashed":${crashed.map(str).getOrElse("null")},"session_s":${num(session_s)},"""
    j ++= s""""measured_s":${num(measured_s)},"check_s":${num(check_s)},"setup_reps":[${setupReps.map(num).mkString(",")}],"""
    j ++= s""""failures":[${failures.asScala.map(str).mkString(",")}],"""
    j ++= "\"e2e\":{" + e2e.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString(",") + "},"
    j ++= "\"named\":{" + named.map { case (k, (v, u, n)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)},\"n\":$n}" }.mkString(",") + "},"
    j ++= "\"layers\":{" + layers.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",") + "}}"
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(j.toString) finally w.close()
  }
}

object Stats {
  /** Linear-interpolated percentile (the `statistics.quantiles` inclusive
    * method); NaN on an empty sample.
    */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Gc {
  def snapshot(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(b => math.max(0L, b.getCollectionTime)).sum, bs.map(b => math.max(0L, b.getCollectionCount)).sum)
  }
}

/** Heap the run retains: occupancy right after a full collection at the
  * end of the measured window, in MB. (The peak old-generation occupancy
  * after young collections moved with promotion timing from run to run.)
  */
object Heap {
  def liveMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}
