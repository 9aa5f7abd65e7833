package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.{Aggregate, Dedup, Ingest, Serve}
import graft.ops.Exact.round6

/** One registered query: the Spark builder the driver runs and the
  * DuckDB oracle SQL its result must match, declared side by side.
  */
final case class QuerySpec(name: String,
                           build: (SparkSession, String) => DataFrame,
                           oracle: String)

/** Driver contract — query registry + DuckDB oracle SQL.
  *
  * The registry is one list of [[QuerySpec]]s, split across two files:
  * the core (reference-surface) specs here, the LLM-pipeline extension
  * specs in [[ExtEntry]]. `queries` and `oracleSql` are the two views
  * the driver reads, derived once from that list; a name declared twice
  * fails the derivation instead of silently dropping a query.
  *
  * Numeric-determinism convention (SURVEY §7.5 hard-part d): every
  * floating-point SUM is computed as an exact DECIMAL sum and cast to
  * double at the end, in BOTH the Spark query and the oracle SQL. Decimal
  * addition is associative, so partial-aggregation order (Spark) vs
  * single-threaded order (DuckDB) cannot produce differing doubles.
  * Divisions happen in double after the exact sums — IEEE-deterministic.
  * Every query ends with a total ORDER BY so row order is reproducible.
  */
object SparkEntry {

  /** Exact decimal sum of a double column, surfaced as double. */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(27, scale))).cast("double")

  /** lineitem revenue term: extendedprice * (1 - discount), exact. */
  private def revTerm(): Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))

  private val revSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  /** events with epoch-ms + 180-s bucket derived columns (SURVEY §2.2 P4). */
  private def silverBase(s: SparkSession, dir: String): DataFrame =
    Ingest.events(s, dir)
      .withColumn("event_timestamp", unix_millis(col("ts")))
      .withColumn("minute_timestamp", Ingest.minuteBucket(col("event_timestamp")))

  /** The retention view both `serve_analytics*` page forms serve: the
    * distinct (user, day) grid rolled up through `Analytics.retentionOf`
    * with the Mongo-shaped `_id` — one definition so the offset and
    * keyset surfaces cannot diverge.
    */
  private def analyticsRetentionFrame(s: SparkSession,
                                      dir: String): DataFrame = {
    val grid = Ingest.events(s, dir)
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / lit(86400000L)).cast("long")
          .as("day"))
      .distinct()
    graft.ops.Analytics.retentionOf(grid)
      .withColumn("_id",
        concat_ws(":", col("cohort_day"), col("day_offset")))
  }

  private def analyticsRetentionCols(page: DataFrame): DataFrame =
    page.select(col("_id"), col("cohort_day"), col("day_offset"),
      col("n_active"), col("cohort_size"), col("retention"))

  /** Shared input of the `join_range*` queries: all events as points
    * (p_user, ems) and the sampled users' 30-min-gap sessions as
    * intervals (s_user, [session_start, session_end = last + 30 min]).
    */
  private def sessionIntervals(s: SparkSession, dir: String,
                               userMod: Int = 15): (DataFrame, DataFrame) = {
    val ev = silverBase(s, dir)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val run = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("event_timestamp").asc, col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val iv = ev.filter(col("user_id") % userMod === 0)
      .withColumn("prev", lag(col("event_timestamp"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull ||
          col("event_timestamp") - col("prev") > 1800000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("event_timestamp")).as("session_start"),
        (max(col("event_timestamp")) + 1800000L).as("session_end"))
      .select(col("user_id").as("s_user"),
        col("session_start"), col("session_end"))
    val pts = ev.select(col("user_id").as("p_user"),
      col("event_timestamp").as("ems"))
    (pts, iv)
  }

  /** Flagship: dedup'd per-group running aggregates (SURVEY §7.3) —
    * the batch analog of the reference's silver→gold pipeline.
    */
  def goldFlagship(s: SparkSession, dir: String): DataFrame =
    goldFlagshipOf(silverBase(s, dir))

  /** The flagship gold rollup over a caller-supplied event frame — the
    * seam the live (user-tombstone-filtered) form shares with the plain
    * one, so the two can never drift.
    */
  private def goldFlagshipOf(ev: DataFrame): DataFrame = {
    // first-wins per event_id via min_by aggregation — one exchange, no
    // sort (the window-dedup twin is Dedup.latestPerKey; same rows)
    val ded = Dedup.latestPerKeyAgg(ev, Seq("event_id"),
      struct(col("ts"), col("user_id")), latest = false)
    ded.groupBy(col("user_id")).agg(
        dsum(col("value")).as("cumulative_score"),
        count(lit(1)).as("event_count"),
        (dsum(col("value")) / count(lit(1))).as("avg_score"),
        min(col("event_timestamp")).as("first_event_timestamp"),
        max(col("event_timestamp")).as("last_event_timestamp"))
      .orderBy(col("user_id"))
  }

  /** The deterministic user tombstone set the registered user-forget
    * anchors share (user_id % 41 == 11), mirrored verbatim in their
    * oracles' predicate — registered as STRING gids, the one key space
    * spanning the batch tables' long ids and the pipeline's group_id.
    */
  private def registeredForgetUsersSet(s: SparkSession,
                                       dir: String): DataFrame =
    Ingest.events(s, dir).filter(col("user_id") % 41 === 11)
      .select(col("user_id").cast("string").as("group_id")).distinct()

  /** The Verify/Bench tombstone fixture (r15 VERDICT next #5): the
    * three deterministic deletion sets (vec_id % 23 == 5,
    * doc_id % 31 == 7, user_id % 41 == 11 — the predicates the DuckDB
    * oracles mirror) registered ONCE per sf dir before the query loop,
    * so the registered forget queries price the steady-state read path
    * — one broadcast anti-join against the standing log — instead of
    * re-paying idempotent registration probes per run. Registration
    * stays part of the public API and its replay contract is
    * spec-pinned; this only moves WHEN the fixture pays it.
    */
  def registerForgetFixtures(s: SparkSession, dir: String): Unit = {
    ExtEntry.registerForgetFixtures(s, dir)
    graft.streaming.UserForget.forgetUsers(s, dir,
      registeredForgetUsersSet(s, dir))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    goldFlagship(spark, "/root/testdata/sf0.001")

  private lazy val specs: Seq[QuerySpec] = core ++ ExtEntry.specs

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(specs)(_.build)

  lazy val oracleSql: Map[String, String] = byName(specs)(_.oracle)

  /** `name -> field` over `specs`, rejecting a name declared twice. */
  private[graft] def byName[V](specs: Seq[QuerySpec])(
      field: QuerySpec => V): Map[String, V] = {
    val twice = specs.groupBy(_.name).collect {
      case (name, same) if same.size > 1 => name
    }
    require(twice.isEmpty,
      s"query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> field(q)).toMap
  }

  // ————————————————— reference surface (SURVEY §2) —————————————————

  private val rangeJoinOracle =
    """WITH g AS (SELECT user_id, event_id, epoch_ms(ts) AS ems,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events WHERE user_id % 15 = 0),
      |m AS (SELECT user_id, event_id, ems,
      |    CASE WHEN prev IS NULL OR ems - prev > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM g),
      |s AS (SELECT user_id, ems, sum(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ems, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
      |iv AS (SELECT user_id AS s_user, min(ems) AS session_start,
      |    max(ems) + 1800000 AS session_end
      |  FROM s GROUP BY user_id, sid),
      |e AS (SELECT user_id AS p_user, epoch_ms(ts) AS ems FROM events)
      |SELECT iv.s_user, iv.session_start,
      |  count(*) AS n_concurrent, count(DISTINCT e.p_user) AS n_users
      |FROM iv JOIN e ON e.ems >= iv.session_start AND e.ems <= iv.session_end
      |  AND e.p_user <> iv.s_user
      |GROUP BY iv.s_user, iv.session_start
      |ORDER BY iv.s_user, iv.session_start""".stripMargin

  private val overlapJoinOracle =
    """WITH g AS (SELECT user_id, event_id, epoch_ms(ts) AS ems,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events WHERE user_id % 5 = 0),
      |m AS (SELECT user_id, event_id, ems,
      |    CASE WHEN prev IS NULL OR ems - prev > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM g),
      |s AS (SELECT user_id, ems, sum(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ems, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
      |iv AS (SELECT user_id AS s_user, min(ems) AS session_start,
      |    max(ems) + 1800000 AS session_end
      |  FROM s GROUP BY user_id, sid)
      |SELECT a.s_user AS a_user, b.s_user AS b_user,
      |  count(*) AS n_overlaps
      |FROM iv a JOIN iv b
      |  ON a.session_start <= b.session_end
      |  AND b.session_start <= a.session_end
      |  AND a.s_user < b.s_user
      |GROUP BY a.s_user, b.s_user
      |ORDER BY a_user, b_user""".stripMargin

  private lazy val core: Seq[QuerySpec] = Seq(
    QuerySpec("gold_flagship", (s, dir) => goldFlagship(s, dir),
      """WITH ded AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS cumulative_score,
        |  count(*) AS event_count,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS avg_score,
        |  min(epoch_ms(ts)) AS first_event_timestamp,
        |  max(epoch_ms(ts)) AS last_event_timestamp
        |FROM ded GROUP BY user_id ORDER BY user_id""".stripMargin),

    // the USER-deletion lifecycle in the reference's own domain (round
    // 15): tombstoned users excluded at the SOURCE frame by one
    // broadcast anti-join, so the gold rollup and the serving page
    // close ranks as if the user never existed; physical erase across
    // silver/gold/changes/serve is graft.streaming.UserForget's
    // maintenance pass (spec-run — it rewrites pipeline dirs, which the
    // read-only testdata corpus has none of). The tombstones are
    // PRE-REGISTERED by the Verify/Bench fixture
    // ([[registerForgetFixtures]]) so the queries price the read path,
    // not registration (r15 VERDICT next #5)
    // oracle: the flagship chain with the user deletion predicate woven into
    // its source — the engine filters the SOURCE frame, so the dedup window
    // and the rollup see only live users
    QuerySpec("gold_forget_flagship", (s, dir) =>
      goldFlagshipOf(graft.streaming.UserForget.excludeForgottenUsers(
        s, dir, silverBase(s, dir), "user_id")),
      """WITH ded AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
        |    FROM events WHERE NOT (user_id % 41 = 11)) WHERE rn = 1)
        |SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS cumulative_score,
        |  count(*) AS event_count,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS avg_score,
        |  min(epoch_ms(ts)) AS first_event_timestamp,
        |  max(epoch_ms(ts)) AS last_event_timestamp
        |FROM ded GROUP BY user_id ORDER BY user_id""".stripMargin),

    // the serving page with deleted users gone AND the page boundary
    // closing ranks over the survivors (pagination must not leak a
    // tombstoned user's slot as an empty hole)
    QuerySpec("serve_forget_page", (s, dir) => {
      val live = graft.streaming.UserForget.excludeForgottenUsers(
        s, dir, silverBase(s, dir), "user_id")
      val gold = live.groupBy(col("user_id")).agg(
        dsum(col("value")).as("cumulative_score"),
        count(lit(1)).as("event_count"))
      Serve.page(Serve.withDocId(gold, "user_id"), Seq(col("user_id")),
          pageNo = 2, pageSize = 20)
        .select(col("user_id"), col("_id"), col("cumulative_score"),
          col("event_count"))
    },
      """SELECT user_id, user_id AS _id,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS cumulative_score,
        |  count(*) AS event_count
        |FROM events WHERE NOT (user_id % 41 = 11)
        |GROUP BY user_id ORDER BY user_id LIMIT 20 OFFSET 20""".stripMargin),

    // P1-P5, P9: projections, casts, JSON parse, derived time columns
    QuerySpec("silver_projection", (s, dir) =>
      Ingest.silverProjection(s, dir).orderBy(col("event_id")),
      """SELECT event_id, user_id, event_type, value,
        |  epoch_ms(ts) AS event_timestamp,
        |  CAST(floor(epoch_ms(ts) / 1000.0 / 180.0) AS BIGINT) AS minute_timestamp,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
        |FROM events ORDER BY event_id""".stripMargin),

    // P6 + P8: NOT-IN filter, column drop
    QuerySpec("filter_notin", (s, dir) =>
      silverBase(s, dir)
        .filter(!col("event_type").isin("error", "view"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("event_timestamp"))
        .orderBy(col("event_id")),
      """SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS event_timestamp
        |FROM events WHERE event_type NOT IN ('error', 'view')
        |ORDER BY event_id""".stripMargin),

    // P7: SQL-string predicate
    QuerySpec("filter_sqlexpr", (s, dir) =>
      Ingest.events(s, dir)
        .filter(expr("value > 100 AND event_type <> 'error'"))
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy(col("event_id")),
      """SELECT event_id, event_type, value FROM events
        |WHERE value > 100 AND event_type <> 'error' ORDER BY event_id""".stripMargin),

    // J1: insert-only MERGE as left-anti join with target-scan pruning
    QuerySpec("antijoin_dedup", (s, dir) => {
      val ev = silverBase(s, dir)
      val batch = ev.filter(col("ts") >= lit("2024-01-25").cast("timestamp"))
      val target = ev.filter(col("event_id") % 3 === 0)
      Dedup.insertOnlyMerge(batch, target, "minute_timestamp", "event_id")
        .select(col("event_id"), col("user_id"), col("value"),
          col("minute_timestamp"))
        .orderBy(col("event_id"))
    },
      """WITH base AS (
        |  SELECT *, epoch_ms(ts) AS ems,
        |    CAST(floor(epoch_ms(ts) / 1000.0 / 180.0) AS BIGINT) AS minute_timestamp
        |  FROM events),
        |batch AS (SELECT * FROM base WHERE ts >= TIMESTAMP '2024-01-25'),
        |target AS (SELECT * FROM base WHERE event_id % 3 = 0)
        |SELECT b.event_id, b.user_id, b.value, b.minute_timestamp
        |FROM batch b WHERE NOT EXISTS (
        |  SELECT 1 FROM target t
        |  WHERE t.minute_timestamp = b.minute_timestamp AND t.event_id = b.event_id)
        |ORDER BY b.event_id""".stripMargin),

    // J2/A2: fold a batch partial aggregate into the running gold table
    QuerySpec("upsert_fold", (s, dir) => {
      val ev = silverBase(s, dir)
      val cut = lit("2024-01-21").cast("timestamp")
      val gold1 = Aggregate.partial(ev.filter(col("ts") < cut),
          "user_id", "value", "event_timestamp")
        .select(col("user_id"),
          col("batch_score").as("cumulative_score"),
          col("batch_events").as("event_count"),
          (col("batch_score") / col("batch_events")).as("avg_score"),
          col("batch_first").as("first_event_timestamp"),
          col("batch_last").as("last_event_timestamp"))
      val batch2 = Aggregate.partial(ev.filter(col("ts") >= cut),
        "user_id", "value", "event_timestamp")
      Aggregate.fold(gold1, batch2, "user_id")
        .select(col("user_id"),
          col("cumulative_score").cast(DecimalType(27, 4)).cast("double")
            .as("cumulative_score"),
          col("event_count"),
          col("avg_score"),
          col("first_event_timestamp"), col("last_event_timestamp"))
        .orderBy(col("user_id"))
    },
      """WITH p1 AS (
        |  SELECT user_id, SUM(CAST(value AS DECIMAL(27,4))) AS s, count(*) AS c,
        |    min(epoch_ms(ts)) AS f, max(epoch_ms(ts)) AS l
        |  FROM events WHERE ts < TIMESTAMP '2024-01-21' GROUP BY user_id),
        |p2 AS (
        |  SELECT user_id, SUM(CAST(value AS DECIMAL(27,4))) AS s, count(*) AS c,
        |    min(epoch_ms(ts)) AS f, max(epoch_ms(ts)) AS l
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-21' GROUP BY user_id)
        |SELECT coalesce(p1.user_id, p2.user_id) AS user_id,
        |  CAST(coalesce(p1.s, 0) + coalesce(p2.s, 0) AS DOUBLE) AS cumulative_score,
        |  coalesce(p1.c, 0) + coalesce(p2.c, 0) AS event_count,
        |  CAST(coalesce(p1.s, 0) + coalesce(p2.s, 0) AS DOUBLE)
        |    / (coalesce(p1.c, 0) + coalesce(p2.c, 0)) AS avg_score,
        |  coalesce(p2.f, p1.f) AS first_event_timestamp,
        |  coalesce(p2.l, p1.l) AS last_event_timestamp
        |FROM p1 FULL OUTER JOIN p2 ON p1.user_id = p2.user_id
        |ORDER BY user_id""".stripMargin),

    // A1: per-group batch partial aggregate
    QuerySpec("agg_groups", (s, dir) =>
      Aggregate.partial(silverBase(s, dir), "user_id", "value", "event_timestamp")
        .select(col("user_id"),
          col("batch_score").cast(DecimalType(27, 4)).cast("double")
            .as("batch_score"),
          col("batch_events"), col("batch_first"), col("batch_last"))
        .orderBy(col("user_id")),
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS batch_score,
        |  count(*) AS batch_events,
        |  min(epoch_ms(ts)) AS batch_first, max(epoch_ms(ts)) AS batch_last
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // A3: distinct clustering buckets
    QuerySpec("distinct_buckets", (s, dir) =>
      silverBase(s, dir).select(col("minute_timestamp")).distinct()
        .orderBy(col("minute_timestamp")),
      """SELECT DISTINCT CAST(floor(epoch_ms(ts) / 1000.0 / 180.0) AS BIGINT)
        |  AS minute_timestamp
        |FROM events ORDER BY minute_timestamp""".stripMargin),

    // A4: count
    QuerySpec("count_rows", (s, dir) =>
      Ingest.events(s, dir).agg(count(lit(1)).as("n")),
      "SELECT count(*) AS n FROM events"),

    // W1: latest-per-key dedup — max_by aggregation (single exchange, no
    // sort; row_number window twin kept as Dedup.latestPerKey)
    QuerySpec("latest_per_key", (s, dir) =>
      Dedup.latestPerKeyAgg(silverBase(s, dir), Seq("user_id"),
          struct(col("ts"), col("event_id")), latest = true)
        .select(col("user_id"), col("event_id"), col("event_timestamp"),
          col("value"))
        .orderBy(col("user_id")),
      """SELECT user_id, event_id, epoch_ms(ts) AS event_timestamp, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // S12 + P9: deterministic pagination over gold, with Mongo _id shape
    QuerySpec("serve_page", (s, dir) => {
      val gold = silverBase(s, dir).groupBy(col("user_id")).agg(
        dsum(col("value")).as("cumulative_score"),
        count(lit(1)).as("event_count"))
      Serve.page(Serve.withDocId(gold, "user_id"), Seq(col("user_id")),
          pageNo = 2, pageSize = 20)
        .select(col("user_id"), col("_id"), col("cumulative_score"),
          col("event_count"))
    },
      """SELECT user_id, user_id AS _id,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS cumulative_score,
        |  count(*) AS event_count
        |FROM events GROUP BY user_id ORDER BY user_id LIMIT 20 OFFSET 20""".stripMargin),

    // S12 closure over the analytics family (VERDICT r6 #6): the
    // retention view serves through the same paginated surface as gold —
    // Serve.page + the Mongo _id projection, keyed by the composite
    // (cohort_day, day_offset) cell id
    QuerySpec("serve_analytics", (s, dir) =>
      analyticsRetentionCols(Serve.page(analyticsRetentionFrame(s, dir),
        Seq(col("cohort_day"), col("day_offset")),
        pageNo = 2, pageSize = 20)),
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id),
        |act AS (SELECT cohort_day, day - cohort_day AS day_offset,
        |    count(DISTINCT ud.user_id) AS n_active
        |  FROM ud JOIN c ON ud.user_id = c.user_id
        |  GROUP BY cohort_day, day - cohort_day),
        |sz AS (SELECT cohort_day, n_active AS cohort_size FROM act
        |  WHERE day_offset = 0)
        |SELECT CAST(a.cohort_day AS VARCHAR) || ':' ||
        |    CAST(day_offset AS VARCHAR) AS _id,
        |  a.cohort_day, day_offset, n_active, cohort_size,
        |  floor(CAST((CAST(n_active AS DOUBLE) / cohort_size) AS DOUBLE)*1000000 + 0.5)/1000000 AS retention
        |FROM act a JOIN sz s ON a.cohort_day = s.cohort_day
        |ORDER BY a.cohort_day, day_offset LIMIT 20 OFFSET 20""".stripMargin),

    // serve_analytics' deep-page twin (VERDICT r9 #5): the same
    // retention grid sought by composite keyset — (cohort_day,
    // day_offset) lexicographically after (19723, 5), the fixed first
    // cohort day at every test SF — no offset sort-and-discard
    QuerySpec("serve_analytics_keyset", (s, dir) =>
      analyticsRetentionCols(Serve.keyset2(analyticsRetentionFrame(s, dir),
        col("cohort_day"), col("day_offset"), lit(19723L), lit(5L), 20)),
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id),
        |act AS (SELECT cohort_day, day - cohort_day AS day_offset,
        |    count(DISTINCT ud.user_id) AS n_active
        |  FROM ud JOIN c ON ud.user_id = c.user_id
        |  GROUP BY cohort_day, day - cohort_day),
        |sz AS (SELECT cohort_day, n_active AS cohort_size FROM act
        |  WHERE day_offset = 0)
        |SELECT CAST(a.cohort_day AS VARCHAR) || ':' ||
        |    CAST(day_offset AS VARCHAR) AS _id,
        |  a.cohort_day, day_offset, n_active, cohort_size,
        |  floor(CAST((CAST(n_active AS DOUBLE) / cohort_size) AS DOUBLE)*1000000 + 0.5)/1000000 AS retention
        |FROM act a JOIN sz s ON a.cohort_day = s.cohort_day
        |WHERE a.cohort_day >= 19723
        |  AND (a.cohort_day > 19723 OR day_offset > 5)
        |ORDER BY a.cohort_day, day_offset LIMIT 20""".stripMargin),

    // keyset (seek) pagination — serve_page's deep-page twin: the same
    // gold projection, but the page starts AFTER the last seen key
    // (user_id 7 — a key present at every test SF) via a pushed-down key
    // predicate, no offset sort-and-discard anywhere in the plan
    QuerySpec("serve_keyset", (s, dir) => {
      val gold = silverBase(s, dir).groupBy(col("user_id")).agg(
        dsum(col("value")).as("cumulative_score"),
        count(lit(1)).as("event_count"))
      Serve.keyset(Serve.withDocId(gold, "user_id"), col("user_id"),
          lit(7L), 20)
        .select(col("user_id"), col("_id"), col("cumulative_score"),
          col("event_count"))
    },
      """SELECT user_id, user_id AS _id,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS cumulative_score,
        |  count(*) AS event_count
        |FROM events WHERE user_id > 7
        |GROUP BY user_id ORDER BY user_id LIMIT 20""".stripMargin),

    // top-k serving (TakeOrderedAndProject — no global sort)
    QuerySpec("serve_topk", (s, dir) => {
      val gold = silverBase(s, dir).groupBy(col("user_id"))
        .agg(dsum(col("value")).as("cumulative_score"))
      Serve.topK(gold, Seq(col("cumulative_score").desc, col("user_id").asc), 10)
    },
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS cumulative_score
        |FROM events GROUP BY user_id
        |ORDER BY cumulative_score DESC, user_id LIMIT 10""".stripMargin),

    // skew-safe salted two-phase aggregation — identical results to the
    // direct groupBy, so the plain SQL is the oracle
    QuerySpec("agg_salted", (s, dir) =>
      Aggregate.saltedGold(silverBase(s, dir), "user_id", "value",
          "event_timestamp", saltBuckets = 16)
        .orderBy(col("user_id")),
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS cumulative_score,
        |  count(*) AS event_count,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS avg_score,
        |  min(epoch_ms(ts)) AS first_event_timestamp,
        |  max(epoch_ms(ts)) AS last_event_timestamp
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // tumbling 1-hour event-time windows (batch analog of the streaming
    // windowed aggregation; epoch-aligned in both engines)
    QuerySpec("agg_tumbling", (s, dir) =>
      Ingest.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(unix_millis(col("w.start")).as("win_start"), col("n"),
          col("total"))
        .orderBy(col("win_start")),
      """SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total
        |FROM events GROUP BY win_start ORDER BY win_start""".stripMargin),

    // sliding (overlapping) windows: 10-min windows every 5 min — each
    // event lands in exactly two epoch-aligned windows; same single
    // shuffle as the tumbling case, rows duplicated by the window explode
    QuerySpec("agg_sliding", (s, dir) =>
      Ingest.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(unix_millis(col("w.start")).as("win_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy(col("win_start"), col("event_type")),
      """WITH e AS (SELECT epoch_ms(ts) AS ems, event_type, value FROM events),
        |w AS (SELECT unnest([
        |    (ems // 300000) * 300000 - 300000,
        |    (ems // 300000) * 300000]) AS win_start, event_type, value
        |  FROM e)
        |SELECT win_start, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total
        |FROM w GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin),

    // quantile sketch with a checkable bound (the percentile twin of
    // agg_approx_distinct): approx_percentile at accuracy 100 has rank
    // error ≤ 1%, so its value must land inside the exact ±5%-rank
    // window — asserted as booleans the oracle expects to be TRUE
    QuerySpec("agg_approx_percentile", (s, dir) =>
      Ingest.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round6(percentile(col("value"), lit(0.5))).as("exact_p50"),
          round6(percentile(col("value"), lit(0.9))).as("exact_p90"),
          approx_percentile(col("value"), lit(0.5), lit(100)).as("a50"),
          approx_percentile(col("value"), lit(0.9), lit(100)).as("a90"),
          percentile(col("value"), lit(0.45)).as("lo50"),
          percentile(col("value"), lit(0.55)).as("hi50"),
          percentile(col("value"), lit(0.85)).as("lo90"),
          percentile(col("value"), lit(0.95)).as("hi90"))
        .select(col("event_type"), col("exact_p50"), col("exact_p90"),
          col("a50").between(col("lo50"), col("hi50")).as("p50_within_rank_eps"),
          col("a90").between(col("lo90"), col("hi90")).as("p90_within_rank_eps"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  floor(CAST((quantile_cont(value, 0.5)) AS DOUBLE)*1000000 + 0.5)/1000000 AS exact_p50,
        |  floor(CAST((quantile_cont(value, 0.9)) AS DOUBLE)*1000000 + 0.5)/1000000 AS exact_p90,
        |  TRUE AS p50_within_rank_eps, TRUE AS p90_within_rank_eps
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // interpolated percentiles per group (same linear-interpolation
    // definition in both engines; rounded to 6 digits)
    QuerySpec("agg_percentiles", (s, dir) =>
      Ingest.events(s, dir)
        .groupBy(col("event_type"))
        .agg(round6(percentile(col("value"), lit(0.5))).as("p50"),
          round6(percentile(col("value"), lit(0.9))).as("p90"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  floor(CAST((quantile_cont(value, 0.5)) AS DOUBLE)*1000000 + 0.5)/1000000 AS p50,
        |  floor(CAST((quantile_cont(value, 0.9)) AS DOUBLE)*1000000 + 0.5)/1000000 AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // as-of join: each event enriched with the latest order at-or-before
    // its timestamp for the same user (union + keyed sort + carry-forward;
    // see ops.AsOf scaladoc)
    QuerySpec("join_asof", (s, dir) => {
      val e = silverBase(s, dir)
        .select(col("event_id"), col("user_id"),
          col("event_timestamp").as("ems"), col("value"))
      val o = Ingest.table(s, dir, "orders")
        .select(col("o_custkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_ms"),
          col("o_orderkey"), col("o_totalprice"))
      val oDedup = graft.ops.Dedup.latestPerKeyAgg(o,
        Seq("o_custkey", "o_ms"), struct(col("o_orderkey")), latest = true)
      graft.ops.AsOf.asOfJoin(e, oDedup, "user_id", "o_custkey",
          "ems", "o_ms", Seq("o_orderkey", "o_totalprice", "o_ms"))
        .select(col("event_id"), col("user_id"), col("ems"), col("value"),
          col("o_orderkey"), col("o_totalprice"), col("o_ms"))
        .orderBy(col("event_id"))
    },
      """WITH o AS (
        |  SELECT o_custkey, epoch_ms(o_orderdate) AS o_ms,
        |    max(o_orderkey) AS o_orderkey,
        |    max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, epoch_ms(o_orderdate)),
        |e AS (SELECT event_id, user_id, epoch_ms(ts) AS ems, value FROM events)
        |SELECT e.event_id, e.user_id, e.ems, e.value,
        |  o.o_orderkey, o.o_totalprice, o.o_ms
        |FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ems >= o.o_ms
        |ORDER BY e.event_id""".stripMargin),

    // as-of with staleness tolerance (pandas merge_asof tolerance): a
    // match older than tol counts as no match — payload nulls together
    QuerySpec("join_asof_tol", (s, dir) => {
      val e = silverBase(s, dir)
        .select(col("event_id"), col("user_id"),
          col("event_timestamp").as("ems"), col("value"))
      val o = Ingest.table(s, dir, "orders")
        .select(col("o_custkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_ms"),
          col("o_orderkey"), col("o_totalprice"))
      val oDedup = graft.ops.Dedup.latestPerKeyAgg(o,
        Seq("o_custkey", "o_ms"), struct(col("o_orderkey")), latest = true)
      val joined = graft.ops.AsOf.asOfJoin(e, oDedup, "user_id", "o_custkey",
        "ems", "o_ms", Seq("o_orderkey", "o_totalprice", "o_ms"))
      graft.ops.AsOf.withTolerance(joined, "ems", "o_ms",
          Seq("o_orderkey", "o_totalprice", "o_ms"), tol = 730000000000L)
        .select(col("event_id"), col("user_id"), col("ems"), col("value"),
          col("o_orderkey"), col("o_totalprice"), col("o_ms"))
        .orderBy(col("event_id"))
    },
      """WITH o AS (
        |  SELECT o_custkey, epoch_ms(o_orderdate) AS o_ms,
        |    max(o_orderkey) AS o_orderkey,
        |    max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, epoch_ms(o_orderdate)),
        |e AS (SELECT event_id, user_id, epoch_ms(ts) AS ems, value FROM events),
        |j AS (SELECT e.event_id, e.user_id, e.ems, e.value,
        |    o.o_orderkey, o.o_totalprice, o.o_ms
        |  FROM e ASOF LEFT JOIN o
        |    ON e.user_id = o.o_custkey AND e.ems >= o.o_ms)
        |SELECT event_id, user_id, ems, value,
        |  CASE WHEN o_ms IS NULL OR ems - o_ms > 730000000000
        |    THEN NULL ELSE o_orderkey END AS o_orderkey,
        |  CASE WHEN o_ms IS NULL OR ems - o_ms > 730000000000
        |    THEN NULL ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_ms IS NULL OR ems - o_ms > 730000000000
        |    THEN NULL ELSE o_ms END AS o_ms
        |FROM j ORDER BY event_id""".stripMargin),

    // forward as-of: each event enriched with the user's NEXT order at or
    // after the event time (the look-ahead twin of join_asof; DuckDB
    // native `ASOF LEFT JOIN ... ON ems <= o_ms` as the oracle)
    QuerySpec("join_asof_fwd", (s, dir) => {
      val e = silverBase(s, dir)
        .select(col("event_id"), col("user_id"),
          col("event_timestamp").as("ems"), col("value"))
      val o = Ingest.table(s, dir, "orders")
        .select(col("o_custkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_ms"),
          col("o_orderkey"), col("o_totalprice"))
      val oDedup = graft.ops.Dedup.latestPerKeyAgg(o,
        Seq("o_custkey", "o_ms"), struct(col("o_orderkey")), latest = true)
      graft.ops.AsOf.asOfJoinForward(e, oDedup, "user_id", "o_custkey",
          "ems", "o_ms", Seq("o_orderkey", "o_totalprice", "o_ms"))
        .select(col("event_id"), col("user_id"), col("ems"), col("value"),
          col("o_orderkey"), col("o_totalprice"), col("o_ms"))
        .orderBy(col("event_id"))
    },
      """WITH o AS (
        |  SELECT o_custkey, epoch_ms(o_orderdate) AS o_ms,
        |    max(o_orderkey) AS o_orderkey,
        |    max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, epoch_ms(o_orderdate)),
        |e AS (SELECT event_id, user_id, epoch_ms(ts) AS ems, value FROM events)
        |SELECT e.event_id, e.user_id, e.ems, e.value,
        |  o.o_orderkey, o.o_totalprice, o.o_ms
        |FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ems <= o.o_ms
        |ORDER BY e.event_id""".stripMargin),

    // range join: concurrent-activity audit — for each 30-min-gap session
    // of the sampled users (user_id % 15 = 0), count events from OTHER
    // users inside the session's active window [start, last + gap].
    // Bucketed point-in-interval equi-join, NOT a nested-loop range
    // predicate (see ops.RangeJoin scaladoc); 1-hour buckets ≈ the typical
    // session span, so each interval explodes into ~2 bucket rows.
    // the oracle states the range join declaratively (DuckDB's IEJoin
    // handles the inequality); the Spark side must produce the identical
    // result through the bucketed plan — hand-written (join_range) or
    // optimizer-rewritten (join_range_auto)
    QuerySpec("join_range", (s, dir) => {
      val (pts, iv) = sessionIntervals(s, dir)
      graft.ops.RangeJoin.pointInInterval(pts, iv,
          "ems", "session_start", "session_end", 3600000L)
        .filter(col("p_user") =!= col("s_user"))
        .groupBy(col("s_user"), col("session_start"))
        .agg(count(lit(1)).as("n_concurrent"),
          count_distinct(col("p_user")).as("n_users"))
        .orderBy(col("s_user"), col("session_start"))
    },
      rangeJoinOracle),

    // interval x interval OVERLAP join (the shape point-in-interval
    // can't state): concurrent-session pairs across distinct users,
    // bucketed equi-join with per-pair single-bucket attribution — no
    // nested loop, no pair-wide distinct
    QuerySpec("join_interval_overlap", (s, dir) => {
      // % 5 (not the shared % 15): sf0.001 has user ids 0..14 — one
      // sessioned user would make cross-user overlap vacuously empty
      val (_, iv) = sessionIntervals(s, dir, userMod = 5)
      val a = iv.select(col("s_user").as("a_user"),
        col("session_start").as("a_start"), col("session_end").as("a_end"))
      val b = iv.select(col("s_user").as("b_user"),
        col("session_start").as("b_start"), col("session_end").as("b_end"))
      graft.ops.RangeJoin.intervalOverlap(a, b,
          "a_start", "a_end", "b_start", "b_end", 3600000L)
        .filter(col("a_user") < col("b_user"))
        .groupBy(col("a_user"), col("b_user"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("a_user"), col("b_user"))
    },
      overlapJoinOracle),

    // the same audit through the OPTIMIZER: the join is WRITTEN naively
    // (a pure BETWEEN band — nested-loop as written) and
    // plans.RangeJoinRewrite turns it into the identical bucketed
    // equi-join at optimization time. The bin width is a SESSION conf —
    // the same contract as Databricks' range-join binSize — left set
    // rather than scoped with a localCheckpoint barrier: the rule's
    // guards (inner join, pure long-typed range band, no cross-side
    // equality) make it provably inert for every other query shape
    // (RangeJoinRewriteSpec pins equi/outer/non-long cases untouched),
    // and dropping the barrier removes ~0.7s of materialization that
    // existed only to contain the conf (VERDICT r6 #4).
    QuerySpec("join_range_auto", (s, dir) => {
      graft.plans.RangeJoinRewrite.install(s)
      s.conf.set(graft.plans.RangeJoinRewrite.widthKey, "3600000")
      val (pts, iv) = sessionIntervals(s, dir)
      pts.join(iv, col("ems") >= col("session_start") &&
          col("ems") <= col("session_end"))
        .filter(col("p_user") =!= col("s_user"))
        .groupBy(col("s_user"), col("session_start"))
        .agg(count(lit(1)).as("n_concurrent"),
          count_distinct(col("p_user")).as("n_users"))
        .orderBy(col("s_user"), col("session_start"))
    },
      rangeJoinOracle),

    // the rank-CAPPED overlap join (VERDICT r15 next #7): overlap pair
    // counts multiply with traffic density (measured 10–12× at ×10
    // data — genuine pair multiplication, and ×100 multiplies again),
    // so the deployable form bounds fan-out per left interval — each
    // session keeps its first 3 overlapping sessions of other users by
    // (start, user). The row_number ≤ cap window plans as
    // WindowGroupLimit(Partial) before the exchange, so the shuffle is
    // bounded by cap × sessions, never by the raw pair count
    // oracle: the capped form: same session intervals, pairs ranked per LEFT
    // session by (right start, right user) and cut at 3 — the cap and the
    // rank order are in the oracle, so the EXACT kept set is pinned
    // cross-engine, not just its size
    QuerySpec("join_interval_overlap_capped", (s, dir) => {
      val (_, iv) = sessionIntervals(s, dir, userMod = 5)
      val a = iv.select(col("s_user").as("a_user"),
        col("session_start").as("a_start"), col("session_end").as("a_end"))
      val b = iv.select(col("s_user").as("b_user"),
        col("session_start").as("b_start"), col("session_end").as("b_end"))
      graft.ops.RangeJoin.intervalOverlapCapped(a, b,
          "a_start", "a_end", "b_start", "b_end", 3600000L,
          leftKeys = Seq("a_user", "a_start"),
          rightOrder = Seq("b_start", "b_user"), cap = 3,
          pairFilter = col("a_user") =!= col("b_user"))
        .select(col("a_user"), col("a_start"), col("b_user"),
          col("b_start"))
        .orderBy(col("a_user"), col("a_start"), col("b_start"),
          col("b_user"))
    },
      """WITH g AS (SELECT user_id, event_id, epoch_ms(ts) AS ems,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE user_id % 5 = 0),
        |m AS (SELECT user_id, event_id, ems,
        |    CASE WHEN prev IS NULL OR ems - prev > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM g),
        |s AS (SELECT user_id, ems, sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ems, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |iv AS (SELECT user_id AS s_user, min(ems) AS session_start,
        |    max(ems) + 1800000 AS session_end
        |  FROM s GROUP BY user_id, sid),
        |pairs AS (SELECT a.s_user AS a_user, a.session_start AS a_start,
        |    b.s_user AS b_user, b.session_start AS b_start,
        |    row_number() OVER (PARTITION BY a.s_user, a.session_start
        |      ORDER BY b.session_start, b.s_user) AS rk
        |  FROM iv a JOIN iv b
        |    ON a.session_start <= b.session_end
        |    AND b.session_start <= a.session_end
        |    AND a.s_user <> b.s_user)
        |SELECT a_user, a_start, b_user, b_start FROM pairs WHERE rk <= 3
        |ORDER BY a_user, a_start, b_start, b_user""".stripMargin),

    // the overlap twin of join_range_auto: the join is WRITTEN naively
    // (pure overlap band — nested-loop as written) and the optimizer
    // rule rewrites it to the double-exploded bucketed equi-join with
    // single-bucket pair attribution
    QuerySpec("join_overlap_auto", (s, dir) => {
      graft.plans.RangeJoinRewrite.install(s)
      s.conf.set(graft.plans.RangeJoinRewrite.widthKey, "3600000")
      val (_, iv) = sessionIntervals(s, dir, userMod = 5)
      val a = iv.select(col("s_user").as("a_user"),
        col("session_start").as("a_start"), col("session_end").as("a_end"))
      val b = iv.select(col("s_user").as("b_user"),
        col("session_start").as("b_start"), col("session_end").as("b_end"))
      a.join(b, col("a_start") <= col("b_end") &&
          col("b_start") <= col("a_end"))
        .filter(col("a_user") < col("b_user"))
        .groupBy(col("a_user"), col("b_user"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("a_user"), col("b_user"))
    },
      overlapJoinOracle),

    // Corrected fold variant: true all-time min/max (SURVEY §7.5-3)
    QuerySpec("upsert_fold_alltime", (s, dir) => {
      val ev = silverBase(s, dir)
      val cut = lit("2024-01-21").cast("timestamp")
      val gold1 = Aggregate.partial(ev.filter(col("ts") < cut),
          "user_id", "value", "event_timestamp")
        .select(col("user_id"),
          col("batch_score").as("cumulative_score"),
          col("batch_events").as("event_count"),
          col("batch_first").as("first_event_timestamp"),
          col("batch_last").as("last_event_timestamp"))
      val batch2 = Aggregate.partial(ev.filter(col("ts") >= cut),
        "user_id", "value", "event_timestamp")
      Aggregate.foldAllTime(gold1, batch2, "user_id")
        .select(col("user_id"),
          col("cumulative_score").cast("double").as("cumulative_score"),
          col("event_count"), col("avg_score"),
          col("first_event_timestamp"), col("last_event_timestamp"))
        .orderBy(col("user_id"))
    },
      """WITH p1 AS (
        |  SELECT user_id, SUM(CAST(value AS DECIMAL(27,4))) AS s, count(*) AS c,
        |    min(epoch_ms(ts)) AS f, max(epoch_ms(ts)) AS l
        |  FROM events WHERE ts < TIMESTAMP '2024-01-21' GROUP BY user_id),
        |p2 AS (
        |  SELECT user_id, SUM(CAST(value AS DECIMAL(27,4))) AS s, count(*) AS c,
        |    min(epoch_ms(ts)) AS f, max(epoch_ms(ts)) AS l
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-21' GROUP BY user_id)
        |SELECT coalesce(p1.user_id, p2.user_id) AS user_id,
        |  CAST(coalesce(p1.s, 0) + coalesce(p2.s, 0) AS DOUBLE) AS cumulative_score,
        |  coalesce(p1.c, 0) + coalesce(p2.c, 0) AS event_count,
        |  CAST(coalesce(p1.s, 0) + coalesce(p2.s, 0) AS DOUBLE)
        |    / (coalesce(p1.c, 0) + coalesce(p2.c, 0)) AS avg_score,
        |  least(coalesce(p1.f, p2.f), coalesce(p2.f, p1.f)) AS first_event_timestamp,
        |  greatest(coalesce(p1.l, p2.l), coalesce(p2.l, p1.l)) AS last_event_timestamp
        |FROM p1 FULL OUTER JOIN p2 ON p1.user_id = p2.user_id
        |ORDER BY user_id""".stripMargin),

    // exact count-distinct (expand-based, oracle-exact — HLL sketches are
    // engine-specific so the approximate variant is unit-tested instead)
    QuerySpec("agg_count_distinct", (s, dir) =>
      Ingest.events(s, dir).agg(
        count_distinct(col("user_id")).as("n_users"),
        count_distinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n_events")),
      """SELECT count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_types, count(*) AS n_events
        |FROM events""".stripMargin),

    // HLL++ sketch count-distinct: the 100 TB path (constant memory per
    // group, mergeable partials). Sketch estimates are engine-specific,
    // so the ORACLE-CHECKED surface is the deterministic bound: the exact
    // counts plus booleans asserting the sketch landed within 5×rsd
    // (rsd=0.02 → ±10%) — DuckDB reproduces the exact counts and expects
    // the booleans TRUE, turning sketch accuracy into a hash-checkable
    // fact. AggregateSpec additionally bounds the raw estimates.
    QuerySpec("agg_approx_distinct", (s, dir) =>
      Ingest.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count_distinct(col("user_id")).as("exact_users"),
          count_distinct(col("event_id")).as("exact_events"),
          approx_count_distinct(col("user_id"), 0.02).as("au"),
          approx_count_distinct(col("event_id"), 0.02).as("ae"))
        .select(col("event_type"), col("exact_users"), col("exact_events"),
          (abs(col("au") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.10).as("users_within_5rsd"),
          (abs(col("ae") - col("exact_events")) <=
            col("exact_events").cast("double") * 0.10).as("events_within_5rsd"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(DISTINCT event_id) AS exact_events,
        |  TRUE AS users_within_5rsd, TRUE AS events_within_5rsd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Two-level sketch rollup — the pattern that makes count-distinct
    // re-aggregable at 100 TB: level 1 builds one DataSketches HLL per
    // (event_type, 180-s bucket) — the partial a daily partition would
    // PERSIST — and level 2 answers the per-type question by hll_union of
    // those sketches alone, never rescanning raw events. A re-slice by a
    // different dimension is a different union over the same stored
    // partials (KBs per bucket, not TBs of raw). Estimates are
    // engine-specific, so the oracle-checked surface is the deterministic
    // part (n_buckets, exact_users) plus the bound boolean, as in
    // agg_approx_distinct (lgConfigK=12 → rsd ≈ 1.6%; bound 10%).
    QuerySpec("agg_sketch_rollup", (s, dir) => {
      val ev = Ingest.events(s, dir)
        .withColumn("minute", Ingest.minuteBucket(unix_millis(col("ts"))))
      val partials = ev.groupBy(col("event_type"), col("minute"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val rolled = partials.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_buckets"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
      rolled.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_buckets"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.10).as("union_within_10pct"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
        |  count(DISTINCT CAST(floor(epoch_ms(ts) / 1000.0 / 180.0) AS BIGINT))
        |    AS n_buckets,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS union_within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Two-level HISTOGRAM quantile — the mergeable-percentile companion
    // to agg_sketch_rollup (Spark exposes no t-digest partial column, but
    // equi-width bin counts are the poor-man's mergeable sketch: integer
    // counts add associatively, so level-1 partials per (type, 180-s
    // bucket) roll up by summation and a re-slice never rescans raw
    // events). The estimate — left edge of the bin where the cumulative
    // count reaches the integer target rank — is DETERMINISTIC, so the
    // oracle checks it hash-exactly alongside the exact interpolated
    // percentiles (bin width = range/64 bounds the error; target ranks
    // use pure integer arithmetic: ceil(q·n) = (q·n + denom-1) div denom
    // — no float rank compare to drift between engines).
    QuerySpec("agg_percentile_rollup", (s, dir) => {
      val ev = Ingest.events(s, dir)
        .withColumn("minute", Ingest.minuteBucket(unix_millis(col("ts"))))
      val mm = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
        .withColumn("bw", (col("mx") - col("mn")) / lit(64.0))
      val partials = ev.crossJoin(broadcast(mm))
        .withColumn("bin", when(col("bw") === 0.0, lit(0L))
          .otherwise(least(
            floor((col("value") - col("mn")) / col("bw")).cast("long"),
            lit(63L))))
        .groupBy(col("event_type"), col("minute"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val hist = partials.groupBy(col("event_type"), col("bin"))
        .agg(sum(col("c")).as("c"))
      val n = hist.groupBy(col("event_type")).agg(sum(col("c")).as("nt"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("bin"))
      val picks = hist.join(n, Seq("event_type"))
        .withColumn("cum", sum(col("c")).over(wc))
        .groupBy(col("event_type"))
        .agg(
          min(when(col("cum") >= expr("(nt + 1) div 2"), col("bin")))
            .as("b50"),
          min(when(col("cum") >= expr("(9 * nt + 9) div 10"), col("bin")))
            .as("b90"))
      val exact = ev.groupBy(col("event_type"))
        .agg(round6(percentile(col("value"), lit(0.5))).as("exact_p50"),
          round6(percentile(col("value"), lit(0.9))).as("exact_p90"))
      picks.crossJoin(broadcast(mm))
        .select(col("event_type"),
          round6(col("mn") + col("b50") * col("bw")).as("hist_p50"),
          round6(col("mn") + col("b90") * col("bw")).as("hist_p90"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("exact_p50"), col("hist_p50"),
          col("exact_p90"), col("hist_p90"))
        .orderBy(col("event_type"))
    },
      """WITH mm AS (SELECT min(value) AS mn, max(value) AS mx,
        |    (max(value) - min(value)) / 64.0 AS bw FROM events),
        |binned AS (SELECT event_type,
        |    CASE WHEN bw = 0 THEN 0
        |         ELSE least(CAST(floor((value - mn) / bw) AS BIGINT), 63)
        |    END AS bin
        |  FROM events, mm),
        |hist AS (SELECT event_type, bin, count(*) AS c
        |  FROM binned GROUP BY event_type, bin),
        |n AS (SELECT event_type, sum(c) AS nt FROM hist GROUP BY event_type),
        |cum AS (SELECT hist.event_type, bin, nt,
        |    sum(c) OVER (PARTITION BY hist.event_type ORDER BY bin) AS cum
        |  FROM hist JOIN n ON hist.event_type = n.event_type),
        |picks AS (SELECT event_type,
        |    min(CASE WHEN cum >= (nt + 1) // 2 THEN bin END) AS b50,
        |    min(CASE WHEN cum >= (9 * nt + 9) // 10 THEN bin END) AS b90
        |  FROM cum GROUP BY event_type),
        |exact AS (SELECT event_type,
        |    floor(CAST((quantile_cont(value, 0.5)) AS DOUBLE)*1000000 + 0.5)/1000000 AS exact_p50,
        |    floor(CAST((quantile_cont(value, 0.9)) AS DOUBLE)*1000000 + 0.5)/1000000 AS exact_p90
        |  FROM events GROUP BY event_type)
        |SELECT p.event_type, exact_p50,
        |  floor(CAST((mn + b50 * bw) AS DOUBLE)*1000000 + 0.5)/1000000 AS hist_p50,
        |  exact_p90,
        |  floor(CAST((mn + b90 * bw) AS DOUBLE)*1000000 + 0.5)/1000000 AS hist_p90
        |FROM picks p JOIN exact ON p.event_type = exact.event_type, mm
        |ORDER BY p.event_type""".stripMargin),

    // sessionization: 30-min-gap sessions via lag + running sum windows
    // Daily volume anomaly detection — the monitoring query a streaming
    // deployment runs against its own history: per (event_type, day)
    // counts z-scored against that type's distribution over all days.
    // Variance comes from EXACT integer sums (n, Σc, Σc²) combined in one
    // fixed IEEE expression — deliberately NOT stddev_samp, whose
    // Welford-style accumulation is engine- and order-dependent and would
    // break the hash-exact oracle. sqrt is correctly rounded per IEEE 754,
    // so the whole z-score is deterministic. The day-count grid is tiny
    // (types × days) — raw events collapse at the mappers, the stats
    // table is a broadcast.
    // The rollup below the daily grid lives in ops/Analytics.
    QuerySpec("anomaly_daily", (s, dir) => {
      val daily = Ingest.events(s, dir)
        .groupBy(col("event_type"),
          floor(unix_millis(col("ts")) / lit(86400000L)).cast("long")
            .as("day"))
        .agg(count(lit(1)).as("c"))
      graft.ops.Analytics.anomalyOf(daily)
    },
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day,
        |    count(*) AS c
        |  FROM events GROUP BY event_type, 2),
        |stats AS (SELECT event_type,
        |    CAST(sum(c) AS DOUBLE) / count(*) AS mean,
        |    CASE WHEN count(*) > 1 THEN
        |      sqrt((CAST(sum(c * c) AS DOUBLE) -
        |        CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE) / count(*)) /
        |        (count(*) - 1))
        |    ELSE 0.0 END AS std
        |  FROM daily GROUP BY event_type)
        |SELECT d.event_type, day, c AS n_events,
        |  CASE WHEN std = 0 THEN 0.0
        |       ELSE floor(CAST(((c - mean) / std) AS DOUBLE)*1000000 + 0.5)/1000000 END AS z,
        |  std > 0 AND abs((c - mean) / std) > 2.0 AS is_anomaly
        |FROM daily d JOIN stats s ON d.event_type = s.event_type
        |ORDER BY d.event_type, day""".stripMargin),

    // per-type winsorized values: clip at the exact order-statistic
    // [p05, p95] — the outlier-clean pass before value aggregation
    QuerySpec("clean_winsorize", (s, dir) =>
      graft.ops.Analytics.winsorize(
        Ingest.events(s, dir), "event_type", "event_id"),
      """WITH e AS (SELECT event_id, event_type, floor(CAST((value) AS DOUBLE)*1000000 + 0.5)/1000000 AS rv
        |  FROM events),
        |bv AS (SELECT event_type, rv, count(*) AS c
        |  FROM e GROUP BY event_type, rv),
        |cm AS (SELECT event_type, rv,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY rv) AS cum
        |  FROM bv),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY event_type),
        |b AS (SELECT cm.event_type,
        |    min(CASE WHEN cum >= ceil(0.05 * n) THEN rv END) AS lo_v,
        |    min(CASE WHEN cum >= ceil(0.95 * n) THEN rv END) AS hi_v
        |  FROM cm JOIN tot USING (event_type) GROUP BY cm.event_type)
        |SELECT e.event_id, e.event_type, e.rv AS value,
        |  CASE WHEN e.rv < lo_v THEN lo_v
        |       WHEN e.rv > hi_v THEN hi_v ELSE e.rv END AS value_w,
        |  (e.rv < lo_v OR e.rv > hi_v) AS clipped
        |FROM e JOIN b USING (event_type) ORDER BY event_id""".stripMargin),

    // realized clip rate under FROZEN bounds — the drift metric behind
    // the re-freeze rule (Analytics.shouldRefreezeBounds): bounds frozen
    // on the even-id half of history, measured against the whole table
    // oracle: bounds frozen on the even-id half (the same exact
    // order-statistic chain as clean_winsorize), realized clip rate over the
    // whole table
    QuerySpec("clean_clip_drift", (s, dir) => {
      val ev = Ingest.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      graft.ops.Analytics.clipDrift(ev, "event_type",
        graft.ops.Analytics.winsorizeBounds(
          ev.filter(col("event_id") % 2 === 0), "event_type"))
    },
      """WITH e AS (SELECT event_id, event_type, floor(CAST((value) AS DOUBLE)*1000000 + 0.5)/1000000 AS rv
        |  FROM events),
        |h AS (SELECT * FROM e WHERE event_id % 2 = 0),
        |bv AS (SELECT event_type, rv, count(*) AS c
        |  FROM h GROUP BY event_type, rv),
        |cm AS (SELECT event_type, rv,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY rv) AS cum
        |  FROM bv),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM h GROUP BY event_type),
        |b AS (SELECT cm.event_type,
        |    min(CASE WHEN cum >= ceil(0.05 * n) THEN rv END) AS lo_v,
        |    min(CASE WHEN cum >= ceil(0.95 * n) THEN rv END) AS hi_v
        |  FROM cm JOIN tot USING (event_type) GROUP BY cm.event_type),
        |d AS (SELECT e.event_type, e.rv, lo_v, hi_v
        |  FROM e LEFT JOIN b USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN lo_v IS NOT NULL AND (rv < lo_v OR rv > hi_v)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |  floor(CAST((CAST(sum(CASE WHEN lo_v IS NOT NULL AND
        |      (rv < lo_v OR rv > hi_v) THEN 1 ELSE 0 END) AS DOUBLE) /
        |    count(*)) AS DOUBLE)*1000000 + 0.5)/1000000 AS clip_frac,
        |  0.05 + (1.0 - 0.95) AS expected_frac,
        |  bool_or(lo_v IS NULL) AS uncovered
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Daily retention cohorts — the funnel's sibling analytics shape:
    // cohort = a user's first active day; each (cohort, day-offset) cell
    // counts users still active that many days later, with the fraction
    // of the cohort it represents. The raw event table collapses FIRST
    // into the distinct user-day activity grid (map-side-combinable, and
    // orders of magnitude smaller than raw events at 100 TB — a user's
    // thousandth event that day is dropped at the mapper); every
    // aggregate after that (min, count_distinct, the cohort-size self
    // join) runs on the grid, keyed by user_id or the tiny cohort table.
    QuerySpec("retention_cohorts", (s, dir) => {
      val grid = Ingest.events(s, dir)
        .select(col("user_id"),
          floor(unix_millis(col("ts")) / lit(86400000L)).cast("long")
            .as("day"))
        .distinct()
      graft.ops.Analytics.retentionOf(grid)
    },
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id),
        |act AS (SELECT cohort_day, day - cohort_day AS day_offset,
        |    count(DISTINCT ud.user_id) AS n_active
        |  FROM ud JOIN c ON ud.user_id = c.user_id
        |  GROUP BY cohort_day, day - cohort_day),
        |sz AS (SELECT cohort_day, n_active AS cohort_size FROM act
        |  WHERE day_offset = 0)
        |SELECT a.cohort_day, day_offset, n_active, cohort_size,
        |  floor(CAST((CAST(n_active AS DOUBLE) / cohort_size) AS DOUBLE)*1000000 + 0.5)/1000000 AS retention
        |FROM act a JOIN sz s ON a.cohort_day = s.cohort_day
        |ORDER BY a.cohort_day, day_offset""".stripMargin),

    // Ordered-step funnel (view → click → purchase, strictly increasing
    // event time): how many users reach each step. Implemented as CHAINED
    // CONDITIONAL MIN-AGGREGATIONS, not per-user event arrays: min is
    // decomposable, so each stage partial-aggregates map-side and a
    // million-event bot user contributes one partial per mapper — the
    // reducer never sees raw rows. Each stage's join keys and groupBy
    // keys are all user_id, so the stages reuse one hash partitioning.
    QuerySpec("funnel_steps", (s, dir) => {
      val e = Ingest.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ems"))
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ems")).as("t1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ems") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ems")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ems") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ems")).as("t3"))
      def level(df: DataFrame, step: Long, ty: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(step).as("step"), lit(ty).as("event_type"),
            col("n_users"))
      level(s1, 1L, "view")
        .unionAll(level(s2, 2L, "click"))
        .unionAll(level(s3, 3L, "purchase"))
        .orderBy(col("step"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ems FROM events),
        |s1 AS (SELECT user_id, min(ems) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(ems) AS t2 FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE event_type = 'click' AND ems > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(ems) AS t3 FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE event_type = 'purchase' AND ems > t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |  (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin),

    QuerySpec("window_sessionize", (s, dir) => {
      val ev = silverBase(s, dir)
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val marked = ev
        .withColumn("prev", lag(col("event_timestamp"), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev").isNull ||
            col("event_timestamp") - col("prev") > 1800000L, 1).otherwise(0))
      val run = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("event_timestamp").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      marked.withColumn("session_id", sum(col("new_s")).over(run).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_timestamp")).as("session_start"),
          max(col("event_timestamp")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    },
      """WITH g AS (SELECT user_id, event_id, epoch_ms(ts) AS ems,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (SELECT user_id, event_id, ems,
        |    CASE WHEN prev IS NULL OR ems - prev > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM g),
        |s AS (SELECT user_id, ems, sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ems, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ems) AS session_start, max(ems) AS session_end
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),

    // ranking-window family (rank / dense_rank / ntile) over per-type
    // user totals: one shuffle for the agg, one sort per partition for
    // the three window functions computed together; the rnk<=10 cut
    // happens AFTER ntile so quartiles are over the full partition
    QuerySpec("window_rank", (s, dir) => {
      val totals = Ingest.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(dsum(col("value")).as("total_value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("total_value").desc_nulls_last, col("user_id").asc)
      totals.select(col("event_type"), col("user_id"), col("total_value"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"))
        .filter(col("rnk") <= 10)
        .orderBy(col("event_type"), col("rnk"), col("user_id"))
    },
      """WITH totals AS (
        |  SELECT event_type, user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY event_type, user_id),
        |r AS (
        |  SELECT event_type, user_id, total_value,
        |    rank() OVER (PARTITION BY event_type
        |      ORDER BY total_value DESC NULLS LAST, user_id) AS rnk,
        |    dense_rank() OVER (PARTITION BY event_type
        |      ORDER BY total_value DESC NULLS LAST, user_id) AS drnk,
        |    ntile(4) OVER (PARTITION BY event_type
        |      ORDER BY total_value DESC NULLS LAST, user_id) AS quartile
        |  FROM totals)
        |SELECT event_type, user_id, total_value, rnk, drnk, quartile
        |FROM r WHERE rnk <= 10
        |ORDER BY event_type, rnk, user_id""".stripMargin),

    // native session windows (30-min gap) — oracle is the first-principles
    // lag+running-sum formulation, so this cross-checks Spark's
    // session_window semantics against plain SQL
    QuerySpec("agg_session_window", (s, dir) =>
      Ingest.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_millis(col("w.start")).as("session_start"),
          unix_millis(col("w.end")).as("session_end_gapped"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start")),
      """WITH g AS (SELECT user_id, event_id, epoch_ms(ts) AS ems,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (SELECT user_id, event_id, ems,
        |    CASE WHEN prev IS NULL OR ems - prev > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM g),
        |s AS (SELECT user_id, ems, sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ems, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ems) AS session_start,
        |  max(ems) + 1800000 AS session_end_gapped, count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),

    // rollup: hierarchical totals (event_type, cohort) → type → grand
    QuerySpec("agg_rollup", (s, dir) =>
      silverBase(s, dir)
        .withColumn("cohort", (col("user_id") % 10).cast("long"))
        .rollup(col("event_type"), col("cohort"))
        .agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("cohort").asc_nulls_first),
      """SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM events GROUP BY ROLLUP(event_type, cohort)
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin),

    // cube: all 2^k grouping-set combinations in one pass — Spark expands
    // the sets inside a single Expand+hash-agg, not k separate scans
    QuerySpec("agg_cube", (s, dir) =>
      silverBase(s, dir)
        .withColumn("cohort", (col("user_id") % 10).cast("long"))
        .cube(col("event_type"), col("cohort"))
        .agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("cohort").asc_nulls_first),
      """SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM events GROUP BY CUBE(event_type, cohort)
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin),

    // distribution window family: percent_rank / cume_dist / lead over a
    // TOTAL order (value, then user_id) so the rational rank fractions
    // are engine-exact; same single sort-per-partition as window_rank
    QuerySpec("window_dist", (s, dir) => {
      val totals = Ingest.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(dsum(col("value")).as("total_value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("total_value").asc, col("user_id").asc)
      totals.select(col("event_type"), col("user_id"), col("total_value"),
          round6(percent_rank().over(w)).as("pct_rank"),
          round6(cume_dist().over(w)).as("cum_dist"),
          lead(col("total_value"), 1).over(w).as("next_total"))
        .orderBy(col("event_type"), col("total_value"), col("user_id"))
    },
      """WITH totals AS (
        |  SELECT event_type, user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY event_type, user_id)
        |SELECT event_type, user_id, total_value,
        |  floor(CAST((percent_rank() OVER (PARTITION BY event_type
        |    ORDER BY total_value, user_id)) AS DOUBLE)*1000000 + 0.5)/1000000 AS pct_rank,
        |  floor(CAST((cume_dist() OVER (PARTITION BY event_type
        |    ORDER BY total_value, user_id)) AS DOUBLE)*1000000 + 0.5)/1000000 AS cum_dist,
        |  lead(total_value, 1) OVER (PARTITION BY event_type
        |    ORDER BY total_value, user_id) AS next_total
        |FROM totals
        |ORDER BY event_type, total_value, user_id""".stripMargin),

    // explicit grouping sets: (type) and (cohort) marginals WITHOUT the
    // grand total or cross cells — the shape rollup/cube cannot state;
    // still one Expand + single-pass hash-agg
    QuerySpec("agg_grouping_sets", (s, dir) =>
      silverBase(s, dir)
        .withColumn("cohort", (col("user_id") % 10).cast("long"))
        .groupingSets(Seq(Seq(col("event_type")), Seq(col("cohort"))),
          col("event_type"), col("cohort"))
        .agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first,
          col("cohort").asc_nulls_first),
      """SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort,
        |  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM events GROUP BY GROUPING SETS ((event_type), (CAST(user_id % 10 AS BIGINT)))
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin),

    // pivot: event_type values widened to columns (explicit value list, so
    // no extra distinct-collect pass) — one hash-agg, conditional branches
    QuerySpec("agg_pivot", (s, dir) =>
      silverBase(s, dir)
        .withColumn("cohort", (col("user_id") % 10).cast("long"))
        .groupBy(col("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value")))
        .orderBy(col("cohort")),
      """SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(27,4)) END) AS DOUBLE) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(27,4)) END) AS DOUBLE) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,4)) END) AS DOUBLE) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(27,4)) END) AS DOUBLE) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(27,4)) END) AS DOUBLE) AS view
        |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin),

    // set ops over the 180-s buckets: INTERSECT / EXCEPT (distinct set
    // semantics in both engines)
    QuerySpec("set_ops_buckets", (s, dir) => {
      val b = silverBase(s, dir).select(col("minute_timestamp").as("bucket"),
        col("event_type"))
      def of(t: String) = b.filter(col("event_type") === t).select(col("bucket"))
      of("purchase").intersect(of("click")).except(of("error"))
        .orderBy(col("bucket"))
    },
      """WITH b AS (SELECT CAST(floor(epoch_ms(ts)/1000.0/180.0) AS BIGINT) AS bucket,
        |    event_type FROM events)
        |SELECT * FROM (
        |  (SELECT bucket FROM b WHERE event_type = 'purchase'
        |   INTERSECT SELECT bucket FROM b WHERE event_type = 'click')
        |  EXCEPT SELECT bucket FROM b WHERE event_type = 'error')
        |ORDER BY bucket""".stripMargin),

    // TPC-H-ish anchors: scan-heavy agg, broadcast-dim join, multi-way join
    QuerySpec("tpch_q1", (s, dir) =>
      Ingest.table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(revTerm()).cast("double").as("sum_disc_price"),
          sum(revTerm() * (lit(1).cast(DecimalType(18, 2)) +
            col("l_tax").cast(DecimalType(18, 2)))).cast("double").as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($revSql) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($revSql * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("tpch_q3", (s, dir) => {
      val cust = Ingest.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = Ingest.table(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Ingest.table(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(revTerm()).cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      s"""SELECT l_orderkey, CAST(SUM($revSql) AS DOUBLE) AS revenue,
         |  epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // q10-style returned-item report: 4-way join (two broadcast dims),
    // decimal-exact revenue, top-20 — TakeOrderedAndProject after one agg
    QuerySpec("tpch_q10", (s, dir) => {
      val ord = Ingest.table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val li = Ingest.table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
      val cust = Ingest.table(s, dir, "customer")
      val nat = Ingest.table(s, dir, "nation")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(revTerm()).cast("double").as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      s"""SELECT c_custkey, c_name, n_name, CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-04-01'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // q12-style conditional aggregation (the testdata lacks shipmode/
    // commit/receipt dates, so the priority split groups by returnflag):
    // one shuffle, both CASE sums in the same partial aggregate
    QuerySpec("tpch_q12", (s, dir) => {
      val li = Ingest.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      li.join(Ingest.table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    QuerySpec("tpch_q6", (s, dir) =>
      Ingest.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(18, 2)))
          .cast("double").as("revenue")),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),

    QuerySpec("tpch_q18", (s, dir) => {
      val li = Ingest.table(s, dir, "lineitem")
      val bigOrders = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val ord = Ingest.table(s, dir, "orders")
      val cust = Ingest.table(s, dir, "customer")
      ord.join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
          col("o_totalprice"),
          col("sum_qty").cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    },
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |  epoch_ms(o_orderdate) AS o_orderdate_ms, o_totalprice,
        |  CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // data-quality audit over the event feed: null/range/duplicate checks
    QuerySpec("audit_events", (s, dir) => {
      val ev = Ingest.events(s, dir)
      ev.agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("event_id")).as("n_distinct_ids"),
        sum(when(col("value").isNull, 1).otherwise(0)).as("null_values"),
        sum(when(col("event_type").isNull, 1).otherwise(0)).as("null_types"),
        sum(when(col("value") < 0, 1).otherwise(0)).as("negative_values"),
        min(unix_millis(col("ts"))).as("min_ts"),
        max(unix_millis(col("ts"))).as("max_ts"))
    },
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT event_id) AS n_distinct_ids,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_values,
        |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_types,
        |  CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_values,
        |  min(epoch_ms(ts)) AS min_ts, max(epoch_ms(ts)) AS max_ts
        |FROM events""".stripMargin),

    QuerySpec("tpch_q9", (s, dir) => {
      val part = Ingest.table(s, dir, "part")
        .filter(col("p_name").like("%a%"))
      val li = Ingest.table(s, dir, "lineitem")
      val supp = Ingest.table(s, dir, "supplier")
      val ord = Ingest.table(s, dir, "orders")
      val nation = Ingest.table(s, dir, "nation")
      li.join(broadcast(part), col("p_partkey") === col("l_partkey"))
        .join(broadcast(supp), col("s_suppkey") === col("l_suppkey"))
        .join(ord, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate").cast("timestamp")).cast("long").as("o_year"))
        .agg(sum(revTerm()).cast("double").as("revenue"))
        .orderBy(col("n_name").asc, col("o_year").desc)
    },
      s"""SELECT n_name, year(o_orderdate) AS o_year,
         |  CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM part JOIN lineitem ON p_partkey = l_partkey
         |JOIN supplier ON s_suppkey = l_suppkey
         |JOIN orders ON o_orderkey = l_orderkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%a%'
         |GROUP BY n_name, o_year ORDER BY n_name, o_year DESC""".stripMargin),

    QuerySpec("tpch_q5", (s, dir) => {
      val region = Ingest.table(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Ingest.table(s, dir, "nation")
      val supp = Ingest.table(s, dir, "supplier")
      val cust = Ingest.table(s, dir, "customer")
      val ord = Ingest.table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = Ingest.table(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(revTerm()).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
      s"""SELECT n_name, CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // q4-style order-priority check: EXISTS as a LEFT SEMI join — orders
    // never duplicate however many returned lines match, and the semi
    // build side carries only l_orderkey
    QuerySpec("tpch_q4", (s, dir) => {
      val ord = Ingest.table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      val returned = Ingest.table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // q7-style nation-pair volume: the same dimension in two join roles
    // (supplier nation / customer nation), both broadcast
    QuerySpec("tpch_q7", (s, dir) => {
      val li = Ingest.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val nation = Ingest.table(s, dir, "nation")
      val n1 = nation.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val n2 = nation.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      li.join(Ingest.table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Ingest.table(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Ingest.table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_0" && col("cust_nation") === "NATION_3") ||
          (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_0"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("timestamp")).cast("long").as("l_year"))
        .agg(sum(revTerm()).cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      s"""SELECT supp_nation, cust_nation, l_year, CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |        year(l_shipdate) AS l_year, l_extendedprice, l_discount
         |      FROM lineitem
         |      JOIN orders ON o_orderkey = l_orderkey
         |      JOIN supplier ON s_suppkey = l_suppkey
         |      JOIN customer ON c_custkey = o_custkey
         |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |      WHERE ((n1.n_name = 'NATION_0' AND n2.n_name = 'NATION_3')
         |          OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_0'))
         |        AND l_shipdate >= TIMESTAMP '1996-01-01'
         |        AND l_shipdate < TIMESTAMP '1998-01-01')
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // q13-style customer order-count distribution: left outer join
    // preserving order-less customers, then a distribution re-aggregation
    QuerySpec("tpch_q13", (s, dir) => {
      val cust = Ingest.table(s, dir, "customer")
      val ord = Ingest.table(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips nulls
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // q14-style promotion share: conditional aggregation over a broadcast
    // part join; both CASE branches in one partial aggregate
    QuerySpec("tpch_q14", (s, dir) => {
      val li = Ingest.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      li.join(broadcast(Ingest.table(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", revTerm())
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
          sum(revTerm()).cast("double")).as("promo_revenue"))
    },
      s"""SELECT CAST(100.0 AS DOUBLE) *
         |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revSql
         |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
         |  CAST(SUM($revSql) AS DOUBLE) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin),

    // q15-style top supplier: quarterly revenue per supplier, selected by
    // a broadcast scalar max — no window, no driver collect
    QuerySpec("tpch_q15", (s, dir) => {
      val rev = Ingest.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revTerm()).cast("double").as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
      Ingest.table(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      s"""WITH rev AS (
         |  SELECT l_suppkey, CAST(SUM($revSql) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin),

    // q17-style small-quantity revenue: correlated scalar subquery
    // (0.2 × per-part avg quantity) as a pre-aggregated join, computed
    // only over the brand's parts (left-semi prune BEFORE the avg — the
    // all-parts average would be the 100 TB mistake)
    QuerySpec("tpch_q17", (s, dir) => {
      val li = Ingest.table(s, dir, "lineitem")
      val partKeys = Ingest.table(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
      val liBrand = li.join(broadcast(partKeys),
        col("l_partkey") === col("p_partkey"), "left_semi")
      val avgQ = liBrand.groupBy(col("l_partkey").as("a_pk"))
        .agg((lit(0.2) * (sum(col("l_quantity").cast(DecimalType(27, 4)))
          .cast("double") / count(lit(1)))).as("qty_limit"))
      liBrand.join(broadcast(avgQ), col("l_partkey") === col("a_pk"))
        .filter(col("l_quantity") < col("qty_limit"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    },
      """WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |agg AS (SELECT l_partkey AS a_pk,
        |    CAST(0.2 AS DOUBLE) *
        |      (CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) / count(*))
        |      AS qty_limit
        |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM p)
        |  GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM lineitem
        |JOIN p ON p_partkey = l_partkey
        |JOIN agg ON a_pk = l_partkey
        |WHERE l_quantity < qty_limit""".stripMargin),

    // q19-style OR-of-conjunctions: the disjunction mixes columns of both
    // sides, so it stays a residual on the broadcast hash join while
    // l_quantity's covering range still pushes to the lineitem scan
    QuerySpec("tpch_q19", (s, dir) => {
      val li = Ingest.table(s, dir, "lineitem")
      li.join(broadcast(Ingest.table(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) &&
            col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
            col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) &&
            col("p_size").between(1, 15)))
        .agg(sum(revTerm()).cast("double").as("revenue"))
    },
      s"""SELECT CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
         |    AND p_size BETWEEN 1 AND 5)
         |  OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
         |    AND p_size BETWEEN 1 AND 10)
         |  OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
         |    AND p_size BETWEEN 1 AND 15)""".stripMargin),

    // q21-style sole-returner: EXISTS (another supplier in the order) AND
    // NOT EXISTS (another supplier who also returned) — a semi then an
    // anti self-join, both equi on l_orderkey with the <> as residual.
    // Join order is deliberate: the selective orders('F') semi-join runs
    // FIRST so both self-joins see the reduced l1, not the other way
    // around — the ordering that matters when lineitem is the 100 TB side
    QuerySpec("tpch_q21", (s, dir) => {
      val li = Ingest.table(s, dir, "lineitem")
      val l1 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("lo"), col("l_suppkey").as("ls"))
        .join(Ingest.table(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")), col("lo") === col("o_orderkey"), "left_semi")
      val others = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val othersR = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      val sole = l1
        .join(others, col("o2") === col("lo") && col("s2") =!= col("ls"), "left_semi")
        .join(othersR, col("o3") === col("lo") && col("s3") =!= col("ls"), "left_anti")
      sole.join(broadcast(Ingest.table(s, dir, "supplier")),
          col("ls") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    },
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),

    // q16-style supplier-count distribution: NOT IN subquery as an anti
    // join (excluded suppliers), broadcast part dims, count-distinct per
    // three-column group
    QuerySpec("tpch_q16", (s, dir) => {
      val part = Ingest.table(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#45" &&
          !col("p_type").isin("PROMO", "ECONOMY") &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      val badSupp = Ingest.table(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      Ingest.table(s, dir, "lineitem")
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type NOT IN ('PROMO','ECONOMY')
        |  AND p_size IN (1,4,9,14,19,23,36,45)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // q11-style revenue concentration: HAVING against a global scalar
    // subquery — the per-group aggregate computed once, its grand total
    // broadcast back as the threshold (no second scan of lineitem)
    QuerySpec("tpch_q11", (s, dir) => {
      val rev = Ingest.table(s, dir, "lineitem")
        .join(broadcast(Ingest.table(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Ingest.table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(revTerm()).as("val_dec"))
      val total = rev.agg(sum(col("val_dec")).as("total_dec"))
      rev.crossJoin(broadcast(total))
        .filter(col("val_dec").cast("double") >
          col("total_dec").cast("double") * lit(0.04))
        .select(col("n_name"), col("val_dec").cast("double").as("value"))
        .orderBy(col("value").desc, col("n_name"))
    },
      s"""WITH rev AS (
         |  SELECT n_name, SUM($revSql) AS val_dec
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  GROUP BY n_name)
         |SELECT n_name, CAST(val_dec AS DOUBLE) AS value
         |FROM rev
         |WHERE CAST(val_dec AS DOUBLE) >
         |  (SELECT CAST(SUM(val_dec) AS DOUBLE) * CAST(0.04 AS DOUBLE) FROM rev)
         |ORDER BY value DESC, n_name""".stripMargin),

    // q22-style idle-customer balance: anti join against open orders + a
    // broadcast scalar threshold (decimal-exact average of positives)
    QuerySpec("tpch_q22", (s, dir) => {
      val cust = Ingest.table(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(DecimalType(27, 4))).cast("double") /
          count(lit(1))).as("avg_bal"))
      val openOrders = Ingest.table(s, dir, "orders")
        .filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      cust.join(openOrders,
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("cntrycode"))
    },
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) / count(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin),

    // q20-style nested correlated subquery: suppliers (in one nation) with
    // some 'red' part whose Q1-1996 shipments exceed half their all-time
    // shipments of that part. The correlated aggregate threshold (classic
    // q20's availqty > 0.5 * sum(l_quantity) per (part, supplier)) becomes
    // ONE conditional aggregation over a single semi-pruned lineitem scan —
    // window sum and all-time sum in the same groupBy, so the 100 TB fact
    // table is read once, not once per subquery level. Threshold compared
    // as 2*win > all in exact decimals (no float rounding at the boundary).
    QuerySpec("tpch_q20", (s, dir) => {
      val redParts = Ingest.table(s, dir, "part")
        .filter(col("p_name").startsWith("red")).select(col("p_partkey"))
      val qdec = col("l_quantity").cast(DecimalType(27, 4))
      val agg = Ingest.table(s, dir, "lineitem")
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(
          sum(when(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"), qdec)
            .otherwise(lit(0).cast(DecimalType(27, 4)))).as("qty_win"),
          sum(qdec).as("qty_all"))
      val supKeys = agg.filter(col("qty_win") * 2 > col("qty_all"))
        .select(col("l_suppkey"))
      Ingest.table(s, dir, "supplier")
        .join(broadcast(Ingest.table(s, dir, "nation")
          .filter(col("n_name") === "NATION_13")),
          col("s_nationkey") === col("n_nationkey"))
        .join(supKeys, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },
      """WITH fp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
        |agg AS (
        |  SELECT l_partkey, l_suppkey,
        |    SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |          AND l_shipdate < TIMESTAMP '1996-04-01'
        |        THEN CAST(l_quantity AS DECIMAL(27,4))
        |        ELSE CAST(0 AS DECIMAL(27,4)) END) AS qty_win,
        |    SUM(CAST(l_quantity AS DECIMAL(27,4))) AS qty_all
        |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM fp)
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT s_suppkey, s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_13'
        |  AND s_suppkey IN (SELECT l_suppkey FROM agg WHERE qty_win * 2 > qty_all)
        |ORDER BY s_suppkey""".stripMargin),

    // q8-style national market share: of AMERICA-region customers'
    // ECONOMY-part revenue, the fraction supplied by NATION_19, per order
    // year. Two nation roles (customer side prunes via region; supplier
    // side labels the share) and numerator+denominator live in the SAME
    // partial aggregate, so the two 100 TB facts (lineitem, orders)
    // shuffle once on l_orderkey and are each read once. part and
    // supplier-nation are broadcast; the region restriction becomes a
    // semi-join prune on orders BEFORE the fact-fact join.
    QuerySpec("tpch_q8", (s, dir) => {
      val econParts = Ingest.table(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      val nation = Ingest.table(s, dir, "nation")
      val amerNations = nation
        .join(broadcast(Ingest.table(s, dir, "region")
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val amerCust = Ingest.table(s, dir, "customer")
        .join(broadcast(amerNations),
          col("c_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("c_custkey"))
      val suppNation = Ingest.table(s, dir, "supplier")
        .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val ord = Ingest.table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(amerCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderdate"))
      Ingest.table(s, dir, "lineitem")
        .join(broadcast(econParts),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate").cast("timestamp")).cast("long")
          .as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_19", revTerm())
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
          sum(revTerm()).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    },
      s"""SELECT o_year,
         |  CAST(SUM(CASE WHEN nation = 'NATION_19' THEN volume
         |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
         |  CAST(SUM(volume) AS DOUBLE) AS mkt_share
         |FROM (
         |  SELECT year(o_orderdate) AS o_year, $revSql AS volume,
         |    n2.n_name AS nation
         |  FROM lineitem
         |  JOIN part ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
         |  JOIN region ON r_regionkey = n1.n_regionkey
         |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
         |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01'
         |    AND o_orderdate < TIMESTAMP '1997-01-01')
         |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // q2-style cheapest-supplier-per-part: this corpus has no partsupp
    // table, so supply cost is DERIVED — the minimum observed unit price
    // (l_extendedprice / l_quantity, IEEE-identical in both engines) per
    // (part, supplier) from lineitem. q2's correlated scalar subquery
    // ("cost = the min cost among this part's regional suppliers")
    // becomes a window min over the per-(part,supplier) aggregate: ONE
    // lineitem scan, one (part,supplier) shuffle, one part shuffle, then
    // a broadcast join back to supplier details and a top-20 tail.
    QuerySpec("tpch_q2", (s, dir) => {
      val econ = Ingest.table(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      val eurSupp = Ingest.table(s, dir, "supplier")
        .join(broadcast(Ingest.table(s, dir, "nation")
          .join(broadcast(Ingest.table(s, dir, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val cost = Ingest.table(s, dir, "lineitem")
        .join(broadcast(econ), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .join(broadcast(eurSupp.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      val perPart = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
      cost.withColumn("min_cost", min(col("unit_cost")).over(perPart))
        .filter(col("unit_cost") === col("min_cost"))
        .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("unit_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(20)
    },
      """WITH eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'EUROPE'),
        |cost AS (SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
        |    AND l_suppkey IN (SELECT s_suppkey FROM eur)
        |  GROUP BY l_partkey, l_suppkey),
        |w AS (SELECT *, min(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
        |  FROM cost)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_cost
        |FROM w JOIN eur ON l_suppkey = s_suppkey
        |WHERE unit_cost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 20""".stripMargin)
  )
}
