package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a program layer, recorded by the benchmark around a
  * public entry point. `parent` is the enclosing span on the same thread
  * (0 at the root); spans of one operation share `req`.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus Spark listeners, active only in a traced run.
  *
  * A traced run alternates traced and untraced operations, so both halves
  * see the same warm-up and load; the tracing overhead is the difference of
  * their medians. Spark work is attributed to a layer through a thread-local
  * job property set by [[layer]]; only jobs started inside a traced
  * operation are counted.
  */
object Trace {
  @volatile var enabled = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val traced = new ThreadLocal[Long] { override def initialValue() = 0L }

  /** Run `body` as operation `req`; spans and Spark counters are recorded
    * when tracing is enabled and `on` is set for this operation.
    */
  def op[T](spark: SparkSession, req: Long, on: Boolean)(body: => T): T =
    if (!enabled || !on) body
    else {
      traced.set(req)
      try body finally {
        traced.set(0L)
        spark.sparkContext.setLocalProperty(LayerKey, null)
      }
    }

  def span[T](name: String)(body: => T): T = {
    val req = traced.get
    if (req == 0L) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), req, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }
  }

  /** [[span]] that also tags every Spark job started inside it with `layer`. */
  def layer[T](spark: SparkSession, layerName: String, name: String)(body: => T): T =
    if (traced.get == 0L) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(LayerKey, layerName)
      try span(name)(body) finally sc.setLocalProperty(LayerKey, prev)
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def totalMs(name: String): Double = allSpans.filter(_.name == name).map(_.ms).sum

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }

  // ---- Spark job counters, per layer --------------------------------------

  val LayerKey = "perfbench.layer"

  final class Counters {
    val jobs, tasks, execRunMs, shuffleWrite, spill, bytesRead, rowsRead = new LongAdder
  }
  val counters = TrieMap.empty[String, Counters]
  private val stageLayer = TrieMap.empty[Int, String]

  def counter(layerName: String): Counters = counters.getOrElseUpdate(layerName, new Counters)

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey))).foreach { l =>
        counter(l).jobs.increment()
        e.stageIds.foreach(stageLayer.put(_, l))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (l <- stageLayer.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counter(l)
        c.tasks.increment()
        c.execRunMs.add(m.executorRunTime)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.bytesRead.add(m.inputMetrics.bytesRead)
        c.rowsRead.add(m.inputMetrics.recordsRead)
      }
  }

  // ---- streaming progress ------------------------------------------------

  final case class Progress(batchId: Long, inputRows: Long, durations: Map[String, Long],
      stateRows: Long, atMs: Long)
  val progress = new ConcurrentLinkedQueue[Progress]()

  private object StreamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add(Progress(p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum, System.currentTimeMillis()))
    }
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(JobListener)
    spark.streams.addListener(StreamListener)
  }
}
