package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` is the span that caused it (-1 for the
  * run's root); times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Task-level counters summed over one Spark job. */
final case class JobCost(cpuNs: Long, gcMs: Long, shuffleBytes: Long,
                         inputBytes: Long)

/** Spans kept in memory for the length of a run and written out once at
  * its end. Calls into a layer open a span with [[span]]; the Spark jobs
  * they submit become child spans through the `bench.span` local
  * property the job inherits from the calling thread.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Run `body` as a span of `layer`, the child of the span open on this
    * thread. Spans and Spark jobs it starts from this thread become its
    * children. Untraced runs only time the body.
    */
  def span[T](sc: org.apache.spark.SparkContext, layer: String, name: String)
             (body: => T): (T, Span) = {
    val id = nextId()
    val prior = sc.getLocalProperty(Tracer.SpanKey)
    val parent = Option(prior).flatMap(_.toLongOption).getOrElse(-1L)
    if (enabled) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = Tracer.nowMs()
    try {
      val r = body
      val s = Span(id, parent, layer, name, t0, Tracer.nowMs())
      add(s)
      (r, s)
    } finally if (enabled) sc.setLocalProperty(Tracer.SpanKey, prior)
  }

  /** Spans as one JSON document, for the file a traced run leaves. */
  def toJson: String = all.sortBy(_.startMs).map { s =>
    val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
      s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
      s""""end_ms":${Json.num(s.endMs)},"attrs":{$a}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanKey = "bench.span"

  /** Wall clock with sub-millisecond resolution, on the epoch scale the
    * Spark and streaming events report.
    */
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Job spans and their task counters, attached only to traced runs. Job
  * times come from the scheduler events; a job belongs to the span named
  * by its `bench.span` property, or to the streaming stage whose query
  * submitted it.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  import JobListener.Open
  private val open = new ConcurrentHashMap[Int, Open]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val cost = new ConcurrentHashMap[Int, Array[Long]]()
  private val handlerNs = new AtomicLong(0)
  private val finished = new java.util.concurrent.ConcurrentLinkedQueue[(Int, JobCost)]()

  /** Streaming query id → stage name, filled as the chain starts. */
  val streamNames = new ConcurrentHashMap[String, String]()

  def handlerMs: Double = handlerNs.get() / 1e6

  def costs: Map[Int, JobCost] = finished.asScala.toMap

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    handlerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    val parent = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val stream = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
      .flatMap(q => Option(streamNames.get(q)))
    val layer = stream.map(n => s"streaming.$n").getOrElse("spark.job")
    open.put(e.jobId, Open(e.time, parent, layer, s"job ${e.jobId}"))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    cost.put(e.jobId, new Array[Long](4))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) Option(stageJob.get(e.stageId)).foreach { j =>
      val c = cost.get(j)
      if (c != null) c.synchronized {
        c(0) += m.executorCpuTime
        c(1) += m.jvmGCTime
        c(2) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c(3) += m.inputMetrics.bytesRead
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(open.remove(e.jobId)).foreach { o =>
      val c = Option(cost.remove(e.jobId)).getOrElse(new Array[Long](4))
      val jc = JobCost(c(0), c(1), c(2), c(3))
      finished.add(e.jobId -> jc)
      tracer.add(Span(tracer.nextId(), o.parent, o.layer, o.name,
        o.start.toDouble, e.time.toDouble,
        Map("job_id" -> e.jobId.toDouble, "cpu_ms" -> jc.cpuNs / 1e6,
          "gc_ms" -> jc.gcMs.toDouble, "shuffle_bytes" -> jc.shuffleBytes.toDouble,
          "input_bytes" -> jc.inputBytes.toDouble)))
    }
  }
}

object JobListener {
  private final case class Open(start: Long, parent: Long, layer: String,
                                name: String)
}

/** What one micro-batch's progress event reported. */
final case class BatchProgress(stage: String, batchId: Long, startMs: Long,
                               durations: Map[String, Long], rowsIn: Long,
                               stateRows: Long, stateMemBytes: Long,
                               stateCommitMs: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + triggerMs
}

/** The chain's progress feed. Every run keeps the O(1) state the
  * end-to-end metrics need: each serve batch's commit time and the
  * running count of rows silver took in. Traced runs also keep every
  * progress event.
  */
final class ChainListener(keepAll: Boolean) extends StreamingQueryListener {
  val serveCommits = new ConcurrentHashMap[Long, Long]()
  val committedServe = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
  val silverRowsIn = new AtomicLong(0)
  val silverBatches = new AtomicLong(0)
  val failure = new AtomicReference[String](null)
  private val handlerNs = new AtomicLong(0)
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  def progress: Seq[BatchProgress] = all.asScala.toSeq
  def handlerMs: Double = handlerNs.get() / 1e6

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure.compareAndSet(null, x.take(500)))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    p.name match {
      case "graft_serve" =>
        serveCommits.put(p.batchId, startMs + trigger)
        committedServe.put(p.batchId)
      case "graft_silver" =>
        silverRowsIn.addAndGet(p.numInputRows)
        silverBatches.incrementAndGet()
      case _ =>
    }
    if (keepAll) {
      val st = p.stateOperators
      all.add(BatchProgress(p.name.stripPrefix("graft_"), p.batchId, startMs,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum))
    }
    handlerNs.addAndGet(System.nanoTime() - t0)
  }
}

/** Seconds-resolution host facts recorded with every result. */
object Host {
  def loadavg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** (all, steal) CPU jiffies of the machine so far, from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** Heap the program holds, in MB: heap in use after a full collection.
    * The collection pauses the JVM, so it is taken outside the window.
    */
  def heapRetainedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

}
