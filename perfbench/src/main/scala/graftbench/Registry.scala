package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.SparkEntry

/** The batch workload: registered queries run one at a time by a single
  * closed-loop client, each timed by a `noop` write that computes every
  * output column and the final sort, with an order-insensitive digest
  * observed on the way out.
  */
object Registry {

  /** The timed panel: one query per layer that runs the layer's own
    * operator, chosen from the cheaper half of the layer's warm times
    * (sf0.001, 4 cores) so that a warmed pass takes about 7-12 s and a
    * run's window holds several whole passes. A pass over all 221 queries takes
    * about 150 s on 4 cores, more than one run may last; every query stays
    * tagged in [[Layers]], so the panel can be changed without touching
    * the table.
    */
  val Timed: Seq[String] = Seq(
    "dedup_exact", "ann_lsh_topk", "ann_pq_indexed", "rung_consistency",
    "text_repetition", "pii_redact", "layout_zorder", "serve_forget_page",
    "text_clf_train", "mm_features", "agg_groups", "anomaly_daily",
    "join_asof", "join_interval_overlap", "join_skew_salted",
    "antijoin_dedup", "serve_keyset", "tpch_q6")

  final case class Digest(rows: Long, hash: BigDecimal) {
    def line(name: String): String = s"$name\t$rows\t$hash"
  }

  def readDigests(path: String): Map[String, Digest] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, r, h) = l.split("\t")
      n -> Digest(r.toLong, BigDecimal(h))
    }.toMap
    finally src.close()
  }

  /** Hashable form of a column: maps have no hash, so they go as JSON. */
  private def hashable(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(s"`${f.name}`")
      }
    }

  /** Run `df` to completion through the noop sink and return its digest:
    * the row count and the exact sum of one 64-bit hash per row.
    */
  def fullEvaluation(df: DataFrame, name: String): Digest = {
    val obs = Observation(s"digest_$name")
    val cols = hashable(df)
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"),
        sum(h.cast(DecimalType(38, 0))).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    Digest(r("rows").asInstanceOf[Long],
      Option(r("hash")).map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal]))
        .getOrElse(BigDecimal(0)))
  }

  /** One timed execution: wall and build time, and whether it failed. */
  final case class Exec(name: String, pass: Int, wallMs: Double, buildMs: Double,
                        ok: Boolean, spanId: Long, startMs: Double, endMs: Double)

  def run(spark: SparkSession, ctx: RunContext, dataDir: String,
          digests: Map[String, Digest],
          derive: Option[String]): WorkloadResult = {
    val missing = SparkEntry.queries.keySet.toSeq.filterNot(Layers.table.contains)
    require(missing.isEmpty, s"untagged registry queries: ${missing.sorted.mkString(", ")}")
    val tracer = ctx.tracer
    val rnd = new scala.util.Random(ctx.seed)
    var session = spark
    val mismatches = mutable.ArrayBuffer.empty[String]
    val derived = mutable.LinkedHashMap.empty[String, Digest]

    def setUp(s: SparkSession): Unit =
      tracer.span(s.sparkContext, "SparkEntry", "registerForgetFixtures") {
        SparkEntry.registerForgetFixtures(s, dataDir)
      }

    /** One query: build, then full evaluation; None when it failed. */
    def execute(name: String, pass: Int): Exec = {
      val s = session
      val (out, qspan) = tracer.span(s.sparkContext, Layers.of(name), name) {
        Ops.guarded(s.sparkContext, s"q-$name-$pass", Chain.OpTimeoutMs * 3) {
          val (df, b) = tracer.span(s.sparkContext, Layers.of(name), s"$name.build") {
            SparkEntry.queries(name)(s, dataDir)
          }
          val (d, _) = tracer.span(s.sparkContext, Layers.of(name), s"$name.action") {
            fullEvaluation(df, name)
          }
          (b.durMs, d)
        }
      }
      val ok = out match {
        case Some((_, d)) if derive.isDefined => derived(name) = d; true
        case Some((_, d)) if digests.get(name).contains(d) => true
        case Some((_, d)) =>
          mismatches += s"$name: got ${d.rows} rows / ${d.hash}, expected ${digests.get(name)}"
          false
        case None => false
      }
      if (session.sparkContext.isStopped) { session = ctx.rebuild(); setUp(session) }
      Exec(name, pass, qspan.durMs, out.map(_._1).getOrElse(0.0), ok, qspan.id,
        qspan.startMs, qspan.endMs)
    }

    // deriving the digests runs every registered query once, unwarmed
    val panel = if (derive.isDefined) SparkEntry.queries.keys.toSeq.sorted else Timed
    setUp(session)
    // warm pass: standing-index builds and code generation land here
    val w0 = Tracer.nowMs()
    if (derive.isEmpty) rnd.shuffle(panel).foreach(execute(_, -1))
    val warmMs = Tracer.nowMs() - w0
    ctx.setupDone()

    val execs = mutable.ArrayBuffer.empty[Exec]
    val windowStart = Tracer.nowMs()
    val deadline = windowStart + ctx.seconds * 1000.0
    // whole passes, each in a fresh seeded order, until the window is
    // spent; the last one may end after it, so that every query weighs
    // the same in the percentiles
    var pass = 0
    while (pass == 0 || derive.isEmpty && Tracer.nowMs() < deadline) {
      rnd.shuffle(panel).foreach(n => execs += execute(n, pass))
      pass += 1
    }
    val windowEnd = Tracer.nowMs()
    if (ctx.trace) ctx.layer("jvm.heap_retained_mb", Host.heapRetainedMb())
    derive.foreach { path =>
      val out = derived.toSeq.sortBy(_._1).map { case (n, d) => d.line(n) }
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (("# name\trows\tsum of xxhash64 over all columns") +: out)
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    val good = execs.filter(_.ok)
    val walls = good.map(_.wallMs).toSeq
    ctx.put("ops_per_s", good.size / ((windowEnd - windowStart) / 1000.0), "1/s")
    ctx.put("latency_p50_ms", Stats.median(walls), "ms")
    ctx.put("latency_p90_ms", Stats.percentile(walls, 90), "ms")
    val perQuery = good.groupBy(_.name).map { case (n, es) => n -> Stats.median(es.map(_.wallMs).toSeq) }
    val passWalls = good.groupBy(_.pass).values.filter(_.size == panel.size)
      .map(_.map(_.wallMs).sum / 1000.0).toSeq
    val detail = Seq(
      "passes" -> pass.toString,
      "warm_pass_s" -> Json.num(warmMs / 1000.0),
      "pass_s" -> Json.num(Stats.median(passWalls)),
      "query_geomean_s" -> Json.num(Stats.geomean(perQuery.values.toSeq) / 1000.0),
      "latency_samples" -> walls.size.toString,
      "latency_supported_percentile" -> Json.num(Stats.highestSupported(walls.size)),
      "digest_mismatches" -> Json.str(mismatches.mkString("; ")),
      "query_median_ms" -> Json.obj(perQuery.toSeq.sortBy(_._1).map { case (n, v) => n -> Json.num(v) }))

    if (ctx.trace) {
      val spans = tracer.all
      val costs = ctx.jobs.map(_.costs).getOrElse(Map.empty)
      val childrenOf = spans.groupBy(_.parent)
      def jobsUnder(id: Long): Seq[Span] = childrenOf.getOrElse(id, Nil).flatMap { c =>
        if (c.layer == "spark.job") Seq(c) else jobsUnder(c.id)
      }
      final case class Q(wall: Double, build: Double, jobs: Double, cpu: Double, gap: Double,
                         shuffle: Double, input: Double, gc: Double)
      val qs = good.map { e =>
        val js = jobsUnder(e.spanId)
        val cs = js.flatMap(j => costs.get(j.attrs("job_id").toInt))
        val covered = Stats.unionLength(js.map(j => (j.startMs.toLong, j.endMs.toLong)),
          e.startMs.toLong, e.endMs.toLong)
        e -> Q(e.wallMs / 1000, e.buildMs / 1000, js.size, cs.map(_.cpuNs).sum / 1e9,
          (e.wallMs - covered) / 1000, cs.map(_.shuffleBytes).sum / 1048576.0,
          cs.map(_.inputBytes).sum / 1048576.0, cs.map(_.gcMs).sum / 1000.0)
      }
      val passes = math.max(1, good.map(_.pass).distinct.size).toDouble
      Layers.names.foreach { l =>
        val in = qs.filter { case (e, _) => Layers.of(e.name) == l }.map(_._2)
        def per(f: Q => Double) = in.map(f).sum / passes
        ctx.layer(s"$l.wall_s", per(_.wall))
        ctx.layer(s"$l.build_s", per(_.build))
        ctx.layer(s"$l.jobs", per(_.jobs))
        ctx.layer(s"$l.task_cpu_s", per(_.cpu))
        ctx.layer(s"$l.driver_gap_s", per(_.gap))
      }
      ctx.layer("batch.shuffle_mb", qs.map(_._2.shuffle).sum / passes)
      ctx.layer("batch.input_mb", qs.map(_._2.input).sum / passes)
      ctx.layer("batch.gc_s", qs.map(_._2.gc).sum / passes)
    }
    WorkloadResult(execs.size, execs.count(!_.ok), mismatches.isEmpty && derive.isEmpty ||
      derive.isDefined && execs.forall(_.ok), windowStart, windowEnd, detail)
  }
}
