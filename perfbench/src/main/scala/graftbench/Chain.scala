package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}

import graft.model.Event
import graft.ops.Serve
import graft.storage.TableFormat
import graft.streaming.Pipeline

/** The streaming workload: all three stages of the medallion chain
  * ([[Pipeline.startAll]]) fed from a `MemoryStream` standing in for the
  * topic, open loop at a fixed rate, with a dashboard reader paging the
  * serving view once a second and maintenance on a batch cadence.
  */
object Chain {
  val Groups = 200
  val TickMs = 100L
  val EventsPerSec = 2000
  val PageSize = 20
  val ReadEveryMs = 1000L
  val CompactEvery = 5
  val OpTimeoutMs = 20000L

  /** What the benchmark sent, reduced to the answers the chain must give:
    * every distinct id once in silver, and per group the event count and
    * the exact score sum. Gold keeps the reference deployment's
    * batch-overwrite semantics for the first and last times (the minimum
    * and maximum of the last batch that touched the group), so each served
    * time must be one of the group's sent times.
    */
  final case class Agg(n: Long, sum: BigDecimal)

  final class Reference {
    val ids = new java.util.HashSet[String]()
    val groups = mutable.HashMap.empty[String, Agg]
    val times = mutable.HashMap.empty[String, mutable.HashSet[Long]]
    var rowsSent = 0L

    def add(events: Seq[Event], dupes: Int): Unit = synchronized {
      rowsSent += events.size + dupes
      events.foreach { e =>
        if (ids.add(e.id)) {
          val s = BigDecimal(e.score.toDouble)
          times.getOrElseUpdate(e.group_id, mutable.HashSet.empty[Long]) += e.event_timestamp
          val a = groups.getOrElse(e.group_id, Agg(0, BigDecimal(0)))
          groups(e.group_id) = Agg(a.n + 1, a.sum + s)
        }
      }
    }
  }

  /** Scores are multiples of 1/4 so their float, decimal and double
    * forms are all exact, and the served sums can be compared exactly.
    */
  def score(rnd: scala.util.Random): Float = rnd.nextInt(400) / 4.0f

  def groupIds(n: Int, seed: Long): IndexedSeq[String] =
    (0 until n).map(g => new java.util.UUID(seed, g.toLong).toString)

  /** A tick of the open loop: one event per group, then 5% of them sent
    * again inside the same tick.
    */
  def tick(rnd: scala.util.Random, groups: IndexedSeq[String], seed: Long,
           firstId: Long, dueMs: Long): (Seq[Event], Seq[Event]) = {
    val fresh = groups.indices.map(g => Event(s"s$seed-${firstId + g}",
      groups(g), score(rnd), dueMs))
    val dupes = (0 until fresh.size / 20).map(_ => fresh(rnd.nextInt(fresh.size)))
    (fresh, dupes)
  }

  /** Rows of one committed serve batch, read straight from its parquet
    * files so the measurement adds no Spark job to the system under test.
    */
  def readServeBatch(conf: org.apache.hadoop.conf.Configuration,
                     dir: Path, batch: Long): Seq[ServedRow] = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            st.getPath).withConf(conf).build()
        val out = mutable.ArrayBuffer.empty[ServedRow]
        try {
          var g = reader.read()
          while (g != null) {
            out += ServedRow(batch, g.getString("group_id", 0),
              g.getLong("last_event_timestamp", 0))
            g = reader.read()
          }
        } finally reader.close()
        out
      }
  }

  def run(spark: SparkSession, ctx: RunContext): WorkloadResult = {
    import spark.implicits._
    val sc = spark.sparkContext
    val tracer = ctx.tracer
    // gold buckets sized as the pipeline documents, about one per 5,000
    // groups: 200 groups fit in one
    val cfg = Pipeline.Config(s"${ctx.work}/chain", goldBuckets = 1)
    val fmt = TableFormat.parquet
    val listener = new ChainListener(keepAll = ctx.trace)
    spark.streams.addListener(listener)
    val rnd = new scala.util.Random(ctx.seed)
    val ref = new Reference
    val input = MemoryStream[Event](1, spark, None)

    val queries = Pipeline.startAll(spark, input.toDF(), cfg)
    Seq("silver", "gold", "serve").zip(queries).foreach { case (n, q) =>
      ctx.jobs.foreach(_.streamNames.put(q.id.toString, n))
    }
    val silverQ = queries.head
    def drain(): Unit = queries.foreach(_.processAllAvailable())

    // the collector: rows of every committed serve batch, read as soon as
    // the commit is reported
    val served = new ConcurrentLinkedQueue[ServedRow]()
    val collecting = new AtomicBoolean(true)
    val hconf = sc.hadoopConfiguration
    val collector = new Thread(() => {
      while (collecting.get() || !listener.committedServe.isEmpty) {
        val b = listener.committedServe.poll(50, TimeUnit.MILLISECONDS)
        if (b != null) readServeBatch(hconf,
          new Path(cfg.servePath, s"_serve_batch=$b"), b).foreach(served.add)
      }
    }, "bench-serve-collector")
    collector.setDaemon(true)
    collector.start()

    // warm-up: one tick through all three stages
    val groups = groupIds(Groups, ctx.seed)
    var nextId = 0L
    def send(events: Seq[Event], dupes: Seq[Event]): Unit = {
      ref.add(events, dupes.size)
      input.addData(rnd.shuffle(events ++ dupes))
    }
    val (w, wd) = tick(rnd, groups, ctx.seed, nextId, System.currentTimeMillis())
    nextId += w.size
    send(w, wd)
    drain()

    val failed = new AtomicLong(0)
    val attempted = new AtomicLong(0)
    val readMs = new ConcurrentLinkedQueue[(Double, Double, Double)]()
    // A page read racing optimizeServe can list a serve tail the compaction
    // then deletes (PATH_NOT_FOUND); reads and serve compaction take turns,
    // and a read's time includes any wait for a compaction.
    val serveMaintenance = new Object
    val maint = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
    val late = new ConcurrentLinkedQueue[Double]()
    val backlog = new AtomicLong(0)
    val inWindow = new AtomicBoolean(false)
    val sentInWindow = new ConcurrentLinkedQueue[(String, Long)]()

    var detail = Seq.empty[(String, String)]

    // open loop: events are due every tick whatever the chain does; an
    // event's timestamp is when it was due
    val stopGen = new AtomicBoolean(false)
    val genStart = System.currentTimeMillis() + TickMs
    val perTick = (EventsPerSec * TickMs / 1000).toInt
    require(perTick == Groups, "one event per group per tick")
    val gen = new Thread(() => {
      var k = 0L
      while (!stopGen.get()) {
        val due = genStart + k * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val (ev, du) = tick(rnd, groups, ctx.seed, nextId, due)
        nextId += ev.size
        send(ev, du)
        val lateMs = System.currentTimeMillis() - due
        if (inWindow.get()) {
          ev.foreach(e => sentInWindow.add((e.group_id, due)))
          late.add(lateMs.toDouble)
          backlog.accumulateAndGet(ref.rowsSent - listener.silverRowsIn.get(), math.max)
        }
        k += 1
      }
    }, "bench-generator")
    gen.setDaemon(true)
    gen.start()

    // set-up ends when the start-up backlog first drains: silver has
    // taken in all but one second of the load
    val transientDeadline = System.currentTimeMillis() + 60000L
    Thread.sleep(1000)
    while (ref.synchronized(ref.rowsSent) - listener.silverRowsIn.get() >
        EventsPerSec * 21 / 20 && System.currentTimeMillis() < transientDeadline)
      Thread.sleep(50)
    ctx.setupDone()
    val windowStart = Tracer.nowMs()
    val silverAtStart = listener.silverRowsIn.get()
    inWindow.set(true)

    val stopAux = new AtomicBoolean(false)
    val reader = new Thread(() => {
      var after = ""
      var k = 0L
      val t0 = System.currentTimeMillis()
      while (!stopAux.get()) {
        val due = t0 + k * ReadEveryMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stopAux.get()) {
          attempted.incrementAndGet()
          val r0 = Tracer.nowMs()
          Ops.guarded(sc, s"read-$k", OpTimeoutMs) { serveMaintenance.synchronized {
            val (frame, plan) = tracer.span(sc, "ops.Serve", "read_plan") {
              Serve.keyset(Pipeline.serveSnapshot(spark, cfg), col("_id"),
                lit(after), PageSize)
            }
            val (rows, exec) = tracer.span(sc, "ops.Serve", "read_exec") {
              frame.select("_id", "event_count").collect()
            }
            val ids = rows.map(_.getString(0)).toSeq
            val ok = ids.size <= PageSize && ids == ids.sorted.distinct &&
              ids.forall(_ > after) && rows.forall(_.getLong(1) > 0)
            (ok, (plan.durMs, exec.durMs, Tracer.nowMs() - r0), ids)
          }} match {
            case Some((true, t, ids)) =>
              readMs.add(t)
              after = if (ids.size < PageSize) "" else ids.last
            case _ => failed.incrementAndGet(); after = ""
          }
        }
        k += 1
      }
    }, "bench-reader")
    val maintainer = new Thread(() => {
      var lastAt = listener.silverBatches.get()
      while (!stopAux.get()) {
        if (listener.silverBatches.get() - lastAt >= CompactEvery) {
          lastAt = listener.silverBatches.get()
          def timed(n: String)(f: => Unit): Unit = {
            val (_, s) = tracer.span(sc, "storage", n)(f)
            maint.computeIfAbsent(n, _ => new ConcurrentLinkedQueue[Double]()).add(s.durMs)
          }
          serveMaintenance.synchronized {
            timed("optimizeServe")(fmt.optimizeServe(spark, cfg))
          }
          timed("vacuumChangeFeed")(fmt.vacuumChangeFeed(spark, cfg,
            keepVersions = 2 * CompactEvery))
        } else Thread.sleep(20)
      }
    }, "bench-maintenance")
    Seq(reader, maintainer).foreach { t => t.setDaemon(true); t.start() }
    Thread.sleep(ctx.seconds * 1000L)
    inWindow.set(false)
    val windowEnd = Tracer.nowMs()
    val silverInWindow = listener.silverRowsIn.get() - silverAtStart
    stopAux.set(true)
    stopGen.set(true)
    Seq(reader, maintainer, gen).foreach(_.join(OpTimeoutMs + 5000))
    detail :+= ("silver_rows_in_window" -> silverInWindow.toString)
    drain()
    // on the drained chain, before any stage stops
    if (ctx.trace) ctx.layer("jvm.heap_retained_mb", Host.heapRetainedMb())
    // Silver's OPTIMIZE deletes the part files it folds while the
    // silver MERGE may still be reading them, which fails the silver
    // stage; it is timed here, on the drained chain, instead.
    silverQ.stop()
    val (_, opt) = tracer.span(sc, "storage", "optimize")(fmt.optimize(spark, cfg))
    maint.computeIfAbsent("optimize", _ => new ConcurrentLinkedQueue[Double]()).add(opt.durMs)
    ctx.put("ops_per_s", silverInWindow / ((windowEnd - windowStart) / 1000.0), "1/s")

    queries.foreach(_.stop())
    collecting.set(false)
    collector.join(30000)
    Option(listener.failure.get()).foreach { m =>
      throw new IllegalStateException(s"a chain stage failed: $m")
    }

    // latency, per event sent in the window: until the serving view first
    // reflects it. Per served row (newest contributing event to the
    // commit) it is reported alongside; its samples cluster by serve
    // batch, a few per run, so it spreads more from run to run.
    val commits = listener.serveCommits.asScala.map { case (k, v) => k.longValue -> v.longValue }.toMap
    val rows = served.asScala.toSeq
    val vis = Visibility.latencies(rows, commits, sentInWindow.asScala.toSeq)
    ctx.put("latency_p50_ms", Stats.median(vis), "ms")
    ctx.put("latency_p90_ms", Stats.percentile(vis, 90), "ms")
    val lat = Latency.eventToServe(rows, commits, windowStart.toLong, windowEnd.toLong)
    detail ++= Seq(
      "latency_samples" -> vis.size.toString,
      "latency_supported_percentile" -> Json.num(Stats.highestSupported(vis.size)),
      "e2e_latency_p50_ms" -> Json.num(Stats.median(lat)),
      "e2e_latency_p90_ms" -> Json.num(Stats.percentile(lat, 90)),
      "e2e_latency_samples" -> lat.size.toString)

    // correctness: silver holds each distinct id once, and every served
    // group equals the reference
    val silver = spark.read.parquet(cfg.silverPath).select("id")
    val (silverRows, silverDistinct) = {
      val r = silver.agg(org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.countDistinct(col("id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val silverOk = silverRows == ref.ids.size && silverDistinct == ref.ids.size
    val snap = Pipeline.serveSnapshot(spark, cfg)
      .select("_id", "event_count", "cumulative_score", "first_event_timestamp",
        "last_event_timestamp").collect()
    val byId = snap.map(r => r.getString(0) -> r).toMap
    var groupFails = 0L
    ref.groups.foreach { case (g, a) =>
      attempted.incrementAndGet()
      val ok = byId.get(g).exists { r =>
        r.getLong(1) == a.n && r.getDouble(2) == a.sum.toDouble &&
          ref.times(g).contains(r.getLong(3)) && ref.times(g).contains(r.getLong(4)) &&
          r.getLong(3) <= r.getLong(4)
      }
      if (!ok) {
        failed.incrementAndGet(); groupFails += 1
        if (groupFails == 1) detail :+= ("first_mismatch" -> Json.str(
          s"$g expected $a, served ${byId.get(g).map(_.toString).getOrElse("nothing")}"))
      }
    }
    val extra = byId.keySet -- ref.groups.keySet
    if (extra.nonEmpty) { failed.addAndGet(extra.size); attempted.addAndGet(extra.size) }
    detail ++= Seq("silver_rows" -> silverRows.toString,
      "distinct_ids_sent" -> ref.ids.size.toString,
      "groups_mismatched" -> groupFails.toString,
      "served_groups" -> byId.size.toString)

    // per-layer figures (all zero for layers this workload does not run)
    if (ctx.trace) {
      val inWin = listener.progress.filter(p =>
        p.endMs >= windowStart && p.startMs <= windowEnd)
      val win = windowEnd - windowStart
      Seq("silver", "gold", "serve").foreach { st =>
        val ps = inWin.filter(_.stage == st)
        def med(f: BatchProgress => Double) = if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
        def d(p: BatchProgress, k: String) = p.durations.getOrElse(k, 0L).toDouble
        ctx.layer(s"streaming.$st.rows_in", ps.map(_.rowsIn).sum.toDouble)
        ctx.layer(s"streaming.$st.addBatch_ms", med(d(_, "addBatch")))
        ctx.layer(s"streaming.$st.queryPlanning_ms", med(d(_, "queryPlanning")))
        ctx.layer(s"streaming.$st.latestOffset_ms", med(d(_, "latestOffset")))
        ctx.layer(s"streaming.$st.commit_ms", med(p => d(p, "walCommit") + d(p, "commitOffsets")))
        ctx.layer(s"streaming.$st.busy_share", ps.map(p =>
          math.min(p.endMs.toDouble, windowEnd) - math.max(p.startMs.toDouble, windowStart)).sum / win)
        ps.foreach(p => tracer.add(Span(tracer.nextId(), -1, s"streaming.$st",
          s"batch ${p.batchId}", p.startMs.toDouble, p.endMs.toDouble,
          p.durations.map { case (k, v) => k -> v.toDouble })))
      }
      val sp = inWin.filter(_.stage == "silver")
      ctx.layer("streaming.silver.state_rows", sp.lastOption.map(_.stateRows.toDouble).getOrElse(0.0))
      ctx.layer("streaming.silver.state_mem_mb",
        sp.lastOption.map(_.stateMemBytes / 1048576.0).getOrElse(0.0))
      ctx.layer("streaming.silver.state_commit_ms",
        if (sp.isEmpty) 0.0 else Stats.median(sp.map(_.stateCommitMs.toDouble)))
      ctx.layer("streaming.silver.backlog_max", backlog.get().toDouble)
      ctx.layer("gen.late_ms_p99", if (late.isEmpty) 0.0 else Stats.percentile(late.asScala.toSeq, 99))
      val fs = new Path(cfg.baseDir).getFileSystem(hconf)
      def files(p: String): Long = {
        val path = new Path(p)
        if (!fs.exists(path)) 0L else {
          val it = fs.listFiles(path, true)
          var n = 0L
          while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
          n
        }
      }
      ctx.layer("storage.silver_files", files(cfg.silverPath).toDouble)
      ctx.layer("storage.gold_changes_files", files(cfg.goldChangesPath).toDouble)
      ctx.layer("storage.serve_tail_dirs", fs.listStatus(new Path(cfg.servePath))
        .count(_.getPath.getName.startsWith("_serve_batch=")).toDouble)
      val live = Seq(cfg.silverPath, cfg.goldPath, cfg.goldChangesPath, cfg.servePath,
        s"${cfg.baseDir}/serve_snapshot").map(new Path(_)).filter(fs.exists)
        .map(p => fs.getContentSummary(p).getLength).sum
      ctx.layer("storage.live_mb_per_100k_events", live / 1048576.0 / ref.ids.size * 100000)
      def maintMed(n: String) = Option(maint.get(n)).map(q => Stats.median(q.asScala.toSeq)).getOrElse(0.0)
      ctx.layer("storage.optimize_ms", maintMed("optimize"))
      ctx.layer("storage.optimizeServe_ms", maintMed("optimizeServe"))
      ctx.layer("storage.vacuumChangeFeed_ms", maintMed("vacuumChangeFeed"))
      val rs = readMs.asScala.toSeq
      ctx.layer("ops.Serve.read_plan_ms", if (rs.isEmpty) 0.0 else Stats.median(rs.map(_._1)))
      ctx.layer("ops.Serve.read_exec_ms", if (rs.isEmpty) 0.0 else Stats.median(rs.map(_._2)))
      ctx.handlerMs += listener.handlerMs
    }
    val rs = readMs.asScala.toSeq.map(_._3)
    if (rs.nonEmpty) detail ++= Seq(
      "serve_read_p50_ms" -> Json.num(Stats.median(rs)),
      "serve_read_p90_ms" -> Json.num(Stats.percentile(rs, 90)),
      "serve_reads" -> rs.size.toString)
    spark.streams.removeListener(listener)
    WorkloadResult(attempted.get(), failed.get(),
      correct = silverOk && groupFails == 0 && extra.isEmpty,
      windowStart, windowEnd, detail)
  }
}
