package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.streaming.Pipeline

/** What a workload hands back besides the metrics it put. */
final case class WorkloadResult(attempted: Long, failed: Long, correct: Boolean,
                                windowStartMs: Double, windowEndMs: Double,
                                detail: Seq[(String, String)])

/** State shared between the entry point and a workload for one run. */
final class RunContext(val work: String, val seed: Long, val seconds: Int,
                       val trace: Boolean, val tracer: Tracer,
                       build: () => SparkSession) {
  private val t0 = System.nanoTime()
  private var setupNs = -1L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var handlerMs = 0.0
  var jobs: Option[JobListener] = None
  var session: SparkSession = _

  /** Marks the end of set-up; the first call wins. */
  def setupDone(): Unit = if (setupNs < 0) setupNs = System.nanoTime() - t0
  def setupSeconds: Double = setupNs / 1e9

  def put(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def layer(name: String, v: Double): Unit = layers(name) = v

  /** A fresh session after the SparkContext died. */
  def rebuild(): SparkSession = {
    session = build()
    jobs.foreach(session.sparkContext.addSparkListener)
    session
  }
}

/** Guarded operations: a failure or a timeout is an outcome, not a crash. */
object Ops {
  private val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "bench-op-timeout"); t.setDaemon(true); t
  }

  /** Runs `body` in its own job group. Past `timeoutMs` the group's jobs
    * are cancelled. A throw, including the cancellation, yields None.
    */
  def guarded[T](sc: org.apache.spark.SparkContext, group: String,
                 timeoutMs: Long)(body: => T): Option[T] = {
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val cancel = timer.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(group)
    }, timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try Some(body)
    catch { case e: Throwable =>
      System.err.println(s"[bench] $group failed: ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").take(300))
      None
    } finally {
      cancel.cancel(false)
      if (!sc.isStopped) sc.clearJobGroup()
    }
  }
}

/** Entry point. One run of one workload; prints one JSON result as the
  * last line of standard output.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --data <dir> --digests <file> [--derive-digests <file>]
  * }}}
  */
object Main {
  val Workloads = Seq("chain_steady", "batch_registry")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms")

  /** Every per-layer name, in report order. Layers a workload does not run
    * report zero.
    */
  val PerLayer: Seq[String] =
    Seq("gen.late_ms_p99") ++
      Seq("silver", "gold", "serve").flatMap(s => Seq("rows_in", "addBatch_ms",
        "queryPlanning_ms", "latestOffset_ms", "commit_ms", "busy_share")
        .map(m => s"streaming.$s.$m")) ++
      Seq("state_rows", "state_mem_mb", "state_commit_ms", "backlog_max")
        .map(m => s"streaming.silver.$m") ++
      Seq("silver_files", "gold_changes_files", "serve_tail_dirs",
        "live_mb_per_100k_events", "optimize_ms", "optimizeServe_ms",
        "vacuumChangeFeed_ms").map(m => s"storage.$m") ++
      Seq("ops.Serve.read_plan_ms", "ops.Serve.read_exec_ms") ++
      Layers.names.flatMap(l => Seq("wall_s", "build_s", "jobs", "task_cpu_s",
        "driver_gap_s").map(m => s"$l.$m")) ++
      Seq("batch.shuffle_mb", "batch.input_mb", "batch.gc_s",
        "jvm.heap_retained_mb", "trace.handler_share", "trace.unattributed_share")

  def session(work: String, chain: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    if (chain) Pipeline.rocksDbConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val trace = opt("trace") == "1"
    val work = opt("work")
    val chain = workload.startsWith("chain_")
    val loadStart = Host.loadavg()
    val cpuStart = Host.cpuJiffies()

    val tracer = new Tracer(trace)
    val ctx = new RunContext(work, seed, seconds, trace, tracer,
      () => session(work, chain))
    val spark = ctx.rebuild()
    if (trace) {
      val jl = new JobListener(tracer)
      ctx.jobs = Some(jl)
      spark.sparkContext.addSparkListener(jl)
    }
    val r = workload match {
      case "chain_steady" => Chain.run(spark, ctx)
      case "batch_registry" =>
        val derive = opts.get("derive-digests")
        Registry.run(spark, ctx, opt("data"),
          if (derive.isDefined) Map.empty else Registry.readDigests(opt("digests")),
          derive)
    }
    ctx.put("setup_s", ctx.setupSeconds, "s")

    val window = r.windowEndMs - r.windowStartMs
    if (trace) {
      ctx.jobs.foreach(j => ctx.handlerMs += j.handlerMs)
      ctx.layer("trace.handler_share", ctx.handlerMs / window)
      val top = tracer.all.filter(s => s.parent == -1 && s.layer != "spark.job")
      val covered = Stats.unionLength(top.map(s => (s.startMs.toLong, s.endMs.toLong)),
        r.windowStartMs.toLong, r.windowEndMs.toLong)
      ctx.layer("trace.unattributed_share", math.max(0.0, 1.0 - covered / window))
      tracer.add(Span(tracer.nextId(), -1, "bench", s"window $workload",
        r.windowStartMs, r.windowEndMs))
      val out = java.nio.file.Paths.get(work).getParent.resolve(s"trace-$workload-$seed.json")
      java.nio.file.Files.write(out, tracer.toJson.getBytes("UTF-8"))
    }
    val sparkVersion = ctx.session.version
    ctx.session.stop()

    val unmeasured = EndToEnd.map(_._1).filter(n => ctx.e2e.get(n).forall(_._1.isNaN))
    require(unmeasured.isEmpty, s"no measurement for: ${unmeasured.mkString(", ")}")
    val cpuEnd = Host.cpuJiffies()
    val metrics =
      if (trace) PerLayer.map(n => (n, ctx.layers.getOrElse(n, 0.0), unitOf(n)))
      else EndToEnd.map { case (n, u) => (n, ctx.e2e(n)._1, u) }
    val host = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> Json.str(if (trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(Host.loadavg()),
      "steal_share" -> Json.num((cpuEnd._2 - cpuStart._2).toDouble /
        math.max(1L, cpuEnd._1 - cpuStart._1)),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(sparkVersion),
      "window_s" -> Json.num(window / 1000.0),
      "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
      "failed_share" -> Json.num(r.failed.toDouble / math.max(1L, r.attempted)),
      "rss_peak_mb" -> Json.num(Host.rssPeakMb())) ++
      r.detail ++
      ctx.e2e.toSeq.map { case (n, (v, _)) => s"e2e.$n" -> Json.num(v) }
    println("[bench] " + Json.obj(host))
    println(Json.obj(Seq(
      // a failed operation is left out of every timing, so a run with one
      // cannot count as correct
      "correct" -> (r.correct && r.failed == 0).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.metrics(metrics))))
  }

  def unitOf(layerMetric: String): String = {
    val m = layerMetric.substring(layerMetric.lastIndexOf('.') + 1)
    if (m.endsWith("_ms") || m.startsWith("late_ms")) "ms"
    else if (m.endsWith("_s")) "s"
    else if (m.endsWith("_mb") || m == "live_mb_per_100k_events") "MB"
    else if (m.endsWith("_share")) "ratio"
    else "count"
  }
}
