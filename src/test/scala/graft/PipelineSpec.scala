package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Event
import graft.streaming.Pipeline

/** Streaming-semantics tests (SURVEY §5.3): MemoryStream[Event] through
  * the watermark + dropDuplicatesWithinWatermark silver stage, the J1
  * cross-batch guard, and the chained gold fold. RocksDB state store is
  * configured session-wide in SparkTestBase.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def freshCfg(): Pipeline.Config =
    Pipeline.Config(Files.createTempDirectory("graft_pipe").toString)

  private def ev(id: String, group: String, score: Float, tsMs: Long) =
    Event(id, group, score, tsMs)

  test("kafka-shaped binary payloads parse into the event schema") {
    import org.apache.spark.sql.functions.encode
    val raw = Seq(("k1", """{"id":"a","group_id":"g","score":0.5,"event_timestamp":1700000000000}"""))
      .toDF("key", "v")
      .select(encode(col("key"), "UTF-8").as("key"),
        encode(col("v"), "UTF-8").as("value"))
    val parsed = Pipeline.parseKafkaShaped(raw).collect().head
    assert(parsed.getAs[String]("id") == "a")
    assert(parsed.getAs[String]("group_id") == "g")
    assert(math.abs(parsed.getAs[Float]("score") - 0.5f) < 1e-6)
    assert(parsed.getAs[Long]("event_timestamp") == 1700000000000L)
  }

  test("silver stage dedups within a batch and across batches") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](1, spark, None)
    val q = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      val t0 = 1700000000000L
      // batch 1: duplicate id within the batch
      input.addData(
        ev("a", "g1", 1.0f, t0),
        ev("a", "g1", 1.0f, t0 + 10),
        ev("b", "g1", 2.0f, t0 + 20))
      q.processAllAvailable()
      // batch 2: id "a" again (beyond state or not — the J1 anti-join must
      // catch it), plus a new id
      input.addData(
        ev("a", "g1", 1.0f, t0 + 30),
        ev("c", "g2", 3.0f, t0 + 40))
      q.processAllAvailable()

      val silver = spark.read.parquet(cfg.silverPath)
      val ids = silver.select("id").as[String].collect().sorted.toSeq
      assert(ids == Seq("a", "b", "c"), s"got $ids")
    } finally q.stop()
  }

  test("late events past the watermark are dropped by the dedup stage state, " +
    "but the merge guard still blocks re-inserts") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](2, spark, None)
    val q = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      val t0 = 1700000000000L
      input.addData(ev("x", "g1", 1.0f, t0))
      q.processAllAvailable()
      // advance event time far beyond the 30 s watermark
      input.addData(ev("y", "g1", 1.0f, t0 + 600000))
      q.processAllAvailable()
      // replay "x" way late: dedup state for it may be expired, but the
      // cross-batch anti-join (J1) must still reject it
      input.addData(ev("x", "g1", 1.0f, t0))
      q.processAllAvailable()

      val silver = spark.read.parquet(cfg.silverPath)
      assert(silver.filter(col("id") === "x").count() == 1)
    } finally q.stop()
  }

  test("silver→gold chain: gold equals one-shot aggregate of unique events") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](3, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      val t0 = 1700000000000L
      input.addData(
        ev("e1", "g1", 1.5f, t0),
        ev("e2", "g1", 2.5f, t0 + 1000),
        ev("e3", "g2", 4.0f, t0 + 2000),
        ev("e1", "g1", 1.5f, t0)) // duplicate
      silverQ.processAllAvailable()
      input.addData(
        ev("e4", "g2", 1.0f, t0 + 3000),
        ev("e2", "g1", 2.5f, t0 + 1000)) // cross-batch duplicate
      silverQ.processAllAvailable()

      val goldQ = Pipeline.startGold(spark, cfg)
      try goldQ.processAllAvailable() finally goldQ.stop()

      val gold = Pipeline.serveProjection(spark, cfg)
        .orderBy("group_id")
        .collect()
      val byGroup = gold.map(r => r.getAs[String]("group_id") ->
        (r.getAs[Double]("cumulative_score"), r.getAs[Long]("event_count"))).toMap
      assert(byGroup("g1")._2 == 2L)
      assert(math.abs(byGroup("g1")._1 - 4.0) < 1e-6)
      assert(byGroup("g2")._2 == 2L)
      assert(math.abs(byGroup("g2")._1 - 5.0) < 1e-6)
      assert(gold.forall(r => r.getAs[String]("_id") == r.getAs[String]("group_id")))
    } finally silverQ.stop()
  }

  test("retention stage maintains the cohort view incrementally over the " +
    "real silver chain") {
    val cfg = freshCfg()
    val D = 86400000L
    val t0 = 1700006400000L // day-aligned-ish base; alignment irrelevant
    val input = MemoryStream[Event](40, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      input.addData(
        ev("r1", "g1", 1f, t0), ev("r2", "g2", 1f, t0 + D))
      silverQ.processAllAvailable()
      val retQ = Pipeline.startRetention(spark, cfg)
      try {
        retQ.processAllAvailable()
        input.addData( // g1 returns next day; g3 is a new cohort
          ev("r3", "g1", 1f, t0 + D), ev("r4", "g2", 1f, t0 + 2 * D),
          ev("r5", "g3", 1f, t0 + 2 * D))
        silverQ.processAllAvailable(); retQ.processAllAvailable()
        input.addData( // same-day repeat (must not re-count) + late riser
          ev("r6", "g1", 1f, t0 + D + 1000), ev("r7", "g3", 1f, t0 + 3 * D))
        silverQ.processAllAvailable(); retQ.processAllAvailable()

        val streamed = graft.ops.Analytics.retentionFromActivity(
          Pipeline.retentionActivity(spark, cfg).localCheckpoint(true))
          .collect().toSeq.map(_.toSeq)
        val grid = spark.read.parquet(cfg.silverPath)
          .select(col("group_id").as("user_id"),
            floor(col("event_timestamp") / lit(D)).cast("long").as("day"))
          .distinct()
        val batch = graft.ops.Analytics.retentionOf(grid)
          .collect().toSeq.map(_.toSeq)
        assert(streamed.nonEmpty && streamed == batch,
          s"streamed $streamed vs batch $batch")
      } finally retQ.stop()
    } finally silverQ.stop()
  }

  test("stage 6 serves the maintained retention view through the same " +
    "paginated surface as the batch query, with a freshness probe") {
    val cfg = freshCfg()
    val D = 86400000L
    val t0 = 1700006400000L
    val input = MemoryStream[Event](45, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      val retQ = Pipeline.startRetention(spark, cfg)
      try {
        Seq(
          Seq(ev("s1", "g1", 1f, t0), ev("s2", "g2", 1f, t0 + D)),
          Seq(ev("s3", "g1", 1f, t0 + D), ev("s4", "g3", 1f, t0 + 2 * D)),
          Seq(ev("s5", "g2", 1f, t0 + 2 * D), ev("s6", "g1", 1f, t0 + 2 * D))
        ).foreach { b =>
          input.addData(b)
          silverQ.processAllAvailable(); retQ.processAllAvailable()
        }

        val served = Pipeline.serveRetention(spark, cfg, pageNo = 1, pageSize = 3)
          .collect().toSeq.map(_.toSeq)

        // the batch equivalent: the same rollup + page over the silver
        // log's distinct (entity, day) grid — what serve_analytics runs
        val grid = spark.read.parquet(cfg.silverPath)
          .select(col("group_id").as("user_id"),
            floor(col("event_timestamp") / lit(D)).cast("long").as("day"))
          .distinct()
        val ret = graft.ops.Analytics.retentionOf(grid)
          .withColumn("_id",
            concat_ws(":", col("cohort_day"), col("day_offset")))
        val batch = graft.ops.Serve.page(ret,
            Seq(col("cohort_day"), col("day_offset")), 1, 3)
          .select(col("_id"), col("cohort_day"), col("day_offset"),
            col("n_active"), col("cohort_size"), col("retention"))
          .collect().toSeq.map(_.toSeq)
        assert(served.nonEmpty && served == batch,
          s"served $served vs batch $batch")

        // deep-page twin (VERDICT r9 #5): seeking after page-1's last
        // (cohort_day, day_offset) must serve exactly offset-page 2,
        // with NO offset sort-and-discard anywhere in the plan
        val last = served.last
        val (lastC, lastO) = (last(1).asInstanceOf[Long],
          last(2).asInstanceOf[Long])
        val keysetDf = Pipeline.serveRetentionKeyset(spark, cfg,
          lastC, lastO, pageSize = 3)
        // "offset=" matches the limit-node parameter, not the
        // day_offset column name
        val keysetPlan = keysetDf.queryExecution.executedPlan.toString
        assert(!keysetPlan.toLowerCase.contains("offset="),
          s"stage-6 keyset page planned an offset:\n$keysetPlan")
        val page2 = graft.ops.Serve.page(ret,
            Seq(col("cohort_day"), col("day_offset")), 2, 3)
          .select(col("_id"), col("cohort_day"), col("day_offset"),
            col("n_active"), col("cohort_size"), col("retention"))
          .collect().toSeq.map(_.toSeq)
        assert(keysetDf.collect().toSeq.map(_.toSeq) == page2,
          "keyset page must chain to exactly the next offset page")

        val f = graft.streaming.Metrics
          .retentionFreshness(spark, cfg, System.currentTimeMillis())
          .collect().head
        assert(f.getAs[Long]("lag_ms") >= 0L &&
          f.getAs[Long]("snapshot_version") >= 0L, s"freshness row: $f")
      } finally retQ.stop()
    } finally silverQ.stop()
  }

  test("retention stage survives a checkpoint restart: committed batches " +
    "are not re-folded, the view still equals the batch rollup") {
    val cfg = freshCfg()
    val D = 86400000L
    val t0 = 1700006400000L
    val input = MemoryStream[Event](46, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      val ret1 = Pipeline.startRetention(spark, cfg)
      try {
        input.addData(ev("r1", "g1", 1f, t0), ev("r2", "g2", 1f, t0 + D))
        silverQ.processAllAvailable(); ret1.processAllAvailable()
      } finally ret1.stop()

      // restart stage 4 from its checkpoint; feed more days
      val ret2 = Pipeline.startRetention(spark, cfg)
      try {
        input.addData(ev("r3", "g1", 1f, t0 + D), ev("r4", "g3", 1f, t0 + 2 * D))
        silverQ.processAllAvailable(); ret2.processAllAvailable()

        val streamed = graft.ops.Analytics.retentionFromActivity(
          Pipeline.retentionActivity(spark, cfg).localCheckpoint(true))
          .collect().toSeq.map(_.toSeq)
        val grid = spark.read.parquet(cfg.silverPath)
          .select(col("group_id").as("user_id"),
            floor(col("event_timestamp") / lit(D)).cast("long").as("day"))
          .distinct()
        val batch = graft.ops.Analytics.retentionOf(grid)
          .collect().toSeq.map(_.toSeq)
        assert(streamed.nonEmpty && streamed == batch,
          s"after restart: streamed $streamed vs batch $batch")
      } finally ret2.stop()
    } finally silverQ.stop()
  }

  test("anomaly stage maintains the daily-count grid incrementally over " +
    "the real silver chain") {
    val cfg = freshCfg()
    val D = 86400000L
    val t0 = 1700006400000L
    val input = MemoryStream[Event](41, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      input.addData(
        ev("a1", "g1", 1f, t0), ev("a2", "g1", 1f, t0 + 1000),
        ev("a3", "g2", 1f, t0 + D))
      silverQ.processAllAvailable()
      val anomQ = Pipeline.startAnomaly(spark, cfg)
      try {
        anomQ.processAllAvailable()
        input.addData( // g1 day-0 grows (same cell updated), new days
          ev("a4", "g1", 1f, t0 + 2000), ev("a5", "g1", 1f, t0 + D),
          ev("a6", "g2", 1f, t0 + 2 * D))
        silverQ.processAllAvailable(); anomQ.processAllAvailable()
        input.addData(ev("a7", "g1", 1f, t0 + 2 * D))
        silverQ.processAllAvailable(); anomQ.processAllAvailable()

        val streamed = graft.ops.Analytics.anomalyOf(
          Pipeline.anomalyDailyCounts(spark, cfg), "group_id")
          .collect().toSeq.map(_.toSeq)
        val batchDaily = spark.read.parquet(cfg.silverPath)
          .groupBy(col("group_id"),
            floor(col("event_timestamp") / lit(D)).cast("long").as("day"))
          .agg(count(lit(1)).as("c"))
        val batch = graft.ops.Analytics.anomalyOf(batchDaily, "group_id")
          .collect().toSeq.map(_.toSeq)
        assert(streamed.nonEmpty && streamed == batch,
          s"streamed $streamed vs batch $batch")

        // stage 6's anomaly sibling serves the same page the batch
        // query computes
        val servedPage = Pipeline.serveAnomaly(spark, cfg, 1, 4)
          .collect().toSeq.map(_.toSeq)
        val batchPage = graft.ops.Serve.page(
            graft.ops.Analytics.anomalyOf(batchDaily, "group_id")
              .withColumn("_id", concat_ws(":", col("group_id"), col("day"))),
            Seq(col("group_id"), col("day")), 1, 4)
          .collect().toSeq.map(_.toSeq)
        assert(servedPage.nonEmpty && servedPage == batchPage,
          s"served $servedPage vs batch $batchPage")
      } finally anomQ.stop()
    } finally silverQ.stop()
  }

  test("streaming tumbling-window aggregation emits finalized windows (append mode)") {
    val input = MemoryStream[Event](4, spark, None)
    val t0 = 1700000000000L // aligned to epoch minutes
    val windowed = Pipeline.withDerived(input.toDF())
      .withWatermark("timestamp", "30 seconds")
      .groupBy(window(col("timestamp"), "1 minute").as("w"), col("group_id"))
      .agg(count(lit(1)).as("n"), sum(col("score").cast("double")).as("total"))
      .select(unix_millis(col("w.start")).as("win_start"), col("group_id"),
        col("n"), col("total"))
    val q = windowed.writeStream.outputMode("append")
      .format("memory").queryName("graft_windows").start()
    try {
      input.addData(
        ev("w1", "g1", 1.0f, t0 + 1000),
        ev("w2", "g1", 2.0f, t0 + 2000),
        ev("w3", "g2", 5.0f, t0 + 3000))
      q.processAllAvailable()
      // advance event time far enough to close the first window
      input.addData(ev("w4", "g1", 1.0f, t0 + 300000))
      q.processAllAvailable()
      val rows = spark.table("graft_windows")
        .orderBy("win_start", "group_id").collect()
      val winStart = (t0 + 1000) - ((t0 + 1000) % 60000) // minute floor
      val first = rows.filter(_.getAs[Long]("win_start") == winStart)
      assert(first.length == 2)
      val g1 = first.find(_.getAs[String]("group_id") == "g1").get
      assert(g1.getAs[Long]("n") == 2 && math.abs(g1.getAs[Double]("total") - 3.0) < 1e-9)
      val g2 = first.find(_.getAs[String]("group_id") == "g2").get
      assert(g2.getAs[Long]("n") == 1)
    } finally q.stop()
  }

  test("stateful gold via mapGroupsWithState folds across micro-batches") {
    val input = MemoryStream[graft.model.SilverRow](5, spark, None)
    val q = Pipeline.statefulGold(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("graft_stateful_gold").start()
    try {
      input.addData(
        graft.model.SilverRow("a1", "g1", 1.0f, 100L, 0L, 0L),
        graft.model.SilverRow("a2", "g1", 2.0f, 200L, 0L, 0L))
      q.processAllAvailable()
      input.addData(
        graft.model.SilverRow("a3", "g1", 3.0f, 300L, 0L, 0L),
        graft.model.SilverRow("b1", "g2", 5.0f, 400L, 0L, 0L))
      q.processAllAvailable()
      // memory sink in update mode appends each emission; the emission
      // with the highest event_count per group is the latest state
      val rows = spark.table("graft_stateful_gold")
      val latest = rows.orderBy(col("event_count"))
        .collect().map(r => r.getAs[String]("group_id") -> r).toMap
      val g1 = latest("g1")
      assert(g1.getAs[Long]("event_count") == 3L)
      assert(math.abs(g1.getAs[Float]("cumulative_score") - 6.0f) < 1e-5)
      // faithful batch-overwrite semantics: first reflects batch 2 only
      assert(g1.getAs[Long]("first_event_timestamp") == 300L)
      assert(latest("g2").getAs[Long]("event_count") == 1L)
    } finally q.stop()
  }

  test("stream-stream interval join matches events within the time bound") {
    val t0 = 1700000000000L
    val clicks = MemoryStream[Event](6, spark, None)
    val buys = MemoryStream[Event](7, spark, None)
    val c = Pipeline.withDerived(clicks.toDF())
      .select(col("id").as("click_id"), col("group_id"),
        col("timestamp").as("click_ts"))
      .withWatermark("click_ts", "1 minute")
    val b = Pipeline.withDerived(buys.toDF())
      .select(col("id").as("buy_id"), col("group_id").as("b_group"),
        col("timestamp").as("buy_ts"))
      .withWatermark("buy_ts", "1 minute")
    val joined = c.join(b,
      col("group_id") === col("b_group") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 5 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("graft_ssjoin").start()
    try {
      clicks.addData(ev("c1", "g1", 1f, t0), ev("c2", "g2", 1f, t0))
      buys.addData(
        ev("b1", "g1", 1f, t0 + 60000), // within 5 min of c1 → match
        ev("b2", "g2", 1f, t0 + 600000), // 10 min later → no match
        ev("b3", "g3", 1f, t0 + 30000)) // no click for g3 → no match
      q.processAllAvailable()
      // push watermarks forward so joins finalize
      clicks.addData(ev("c9", "g9", 1f, t0 + 1200000))
      buys.addData(ev("b9", "g8", 1f, t0 + 1200000))
      q.processAllAvailable()
      val pairs = spark.table("graft_ssjoin")
        .select(col("click_id"), col("buy_id")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs == Set(("c1", "b1")))
    } finally q.stop()
  }

  test("stream-static join enriches the stream from a broadcast dimension") {
    val t0 = 1700000000000L
    val dim = Seq(("g1", "emea"), ("g2", "apac")).toDF("group_id", "region")
    val input = MemoryStream[Event](16, spark, None)
    // static side broadcast: per micro-batch the dim joins map-side, the
    // stream never shuffles for the enrichment (the 100 TB shape: stream
    // × small dimension)
    val enriched = Pipeline.withDerived(input.toDF())
      .join(broadcast(dim), Seq("group_id"), "left_outer")
      .select(col("id"), col("group_id"),
        coalesce(col("region"), lit("unknown")).as("region"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("graft_enrich").start()
    try {
      input.addData(ev("a", "g1", 1f, t0), ev("b", "g3", 1f, t0 + 10))
      q.processAllAvailable()
      input.addData(ev("c", "g2", 1f, t0 + 20))
      q.processAllAvailable()
      val got = spark.table("graft_enrich")
        .collect().map(r => r.getString(0) -> r.getString(2)).toMap
      assert(got == Map("a" -> "emea", "b" -> "unknown", "c" -> "apac"))
    } finally q.stop()
  }

  test("stateful seen-set dedup processor keeps first-seen across batches") {
    val input = MemoryStream[Event](9, spark, None)
    val q = Pipeline.ttlDedup(input.toDS(), ttlMillis = 0L)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_ttl_dedup").start()
    try {
      val t0 = 1700000000000L
      input.addData(ev("d1", "g1", 1f, t0), ev("d1", "g1", 2f, t0 + 1),
        ev("d2", "g1", 3f, t0 + 2))
      q.processAllAvailable()
      input.addData(ev("d1", "g1", 4f, t0 + 3), ev("d3", "g2", 5f, t0 + 4))
      q.processAllAvailable()
      val ids = spark.table("graft_ttl_dedup")
        .select("id").as[String].collect().sorted.toSeq
      assert(ids == Seq("d1", "d2", "d3"))
    } finally q.stop()
  }

  test("transformWithState gold processor folds across micro-batches") {
    val input = MemoryStream[graft.model.SilverRow](8, spark, None)
    val q = Pipeline.statefulGoldTws(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("graft_tws_gold").start()
    try {
      input.addData(
        graft.model.SilverRow("a1", "g1", 1.0f, 100L, 0L, 0L),
        graft.model.SilverRow("a2", "g1", 2.0f, 200L, 0L, 0L))
      q.processAllAvailable()
      input.addData(graft.model.SilverRow("a3", "g1", 3.0f, 300L, 0L, 0L))
      q.processAllAvailable()
      val latest = spark.table("graft_tws_gold").orderBy(col("event_count"))
        .collect().map(r => r.getAs[String]("group_id") -> r).toMap
      val g1 = latest("g1")
      assert(g1.getAs[Long]("event_count") == 3L)
      assert(math.abs(g1.getAs[Float]("cumulative_score") - 6.0f) < 1e-5)
    } finally q.stop()
  }

  test("compactSilver coalesces files per bucket and preserves the data") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](12, spark, None)
    val q = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      val t0 = 1700000000000L
      (1 to 3).foreach { b =>
        input.addData((1 to 20).map(k => ev(s"c$b-$k", s"g${k % 3}", 1f,
          t0 + b * 1000 + k)))
        q.processAllAvailable()
      }
    } finally q.stop()
    def files() = new java.io.File(cfg.silverPath).listFiles()
      .filter(_.getName.startsWith("hb="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val before = spark.read.parquet(cfg.silverPath)
      .orderBy("id").collect().map(_.toString).toSeq
    val filesBefore = files()
    Pipeline.compactSilver(spark, cfg)
    val after = spark.read.parquet(cfg.silverPath)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(after == before)
    assert(files() <= filesBefore)
    assert(files() == 1) // single bucket here → exactly one file
  }

  test("gold ignores compact-* files: a planted one is never folded") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](31, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      val t0 = 1700000000000L
      input.addData(ev("r1", "g1", 1.0f, t0), ev("r2", "g1", 2.0f, t0 + 1000))
      silverQ.processAllAvailable()
    } finally silverQ.stop()
    // plant a compact-* file holding a poison row inside the bucket dir:
    // per the pathGlobFilter contract gold must never plan it into a batch
    val bucket = new java.io.File(cfg.silverPath).listFiles()
      .find(_.getName.startsWith("hb=")).get
    val partFile = bucket.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val poison = spark.read.parquet(partFile.toString)
      .withColumn("id", lit("poison"))
      .withColumn("group_id", lit("gX"))
      .limit(1)
    val tmp = java.nio.file.Files.createTempDirectory("graft_poison").toString
    poison.coalesce(1).write.mode("overwrite").parquet(tmp)
    val poisonPart = new java.io.File(tmp).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(poisonPart.toPath,
      new java.io.File(bucket, "compact-poison.parquet").toPath)

    val goldQ = Pipeline.startGold(spark, cfg)
    try goldQ.processAllAvailable() finally goldQ.stop()
    val groups = spark.read.parquet(cfg.goldPath)
      .select("group_id").as[String].collect().toSet
    assert(groups == Set("g1"), s"gold folded a compact-* file: $groups")
    // batch readers DO see compact files — they are real silver data
    assert(spark.read.parquet(cfg.silverPath).count() == 3)
  }

  test("compactSilverLive under a running gold stream: no double-fold, " +
    "no loss, fewer files") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](32, spark, None)
    val t0 = 1700000000000L
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    val goldQ = Pipeline.startGold(spark, cfg)
    def silverFiles() = new java.io.File(cfg.silverPath).listFiles()
      .filter(_.getName.startsWith("hb="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    try {
      // several micro-batches → several part files in the same bucket
      (1 to 4).foreach { b =>
        input.addData((1 to 10).map(k => ev(s"b$b-$k", s"g${k % 2}", 1.0f,
          t0 + b * 1000 + k)))
        silverQ.processAllAvailable()
        goldQ.processAllAvailable() // gold commits these files
      }
      val filesBefore = silverFiles()
      assert(filesBefore >= 4, s"expected multiple part files, got $filesBefore")
      val silverBefore = spark.read.parquet(cfg.silverPath)
        .orderBy("id").collect().map(_.toString).toSeq

      Pipeline.compactSilverLive(spark, cfg)

      val filesAfter = silverFiles()
      assert(filesAfter < filesBefore,
        s"compaction did not shrink: $filesBefore -> $filesAfter")
      val silverAfter = spark.read.parquet(cfg.silverPath)
        .orderBy("id").collect().map(_.toString).toSeq
      assert(silverAfter == silverBefore, "compaction changed silver content")

      // the stream keeps folding NEW part files only — never the rewrite
      input.addData((1 to 10).map(k => ev(s"b5-$k", s"g${k % 2}", 1.0f,
        t0 + 5000 + k)))
      silverQ.processAllAvailable()
      goldQ.processAllAvailable()
      val gold = spark.read.parquet(cfg.goldPath).collect()
        .map(r => r.getAs[String]("group_id") -> r.getAs[Long]("event_count"))
        .toMap
      // 5 batches × 10 unique events, split evenly across g0/g1
      assert(gold == Map("g0" -> 25L, "g1" -> 25L),
        s"double-fold or loss after live compaction: $gold")

      // idempotent + converging: a second run with no new committed
      // part files may merge prior compact outputs but never changes data
      Pipeline.compactSilverLive(spark, cfg)
      val silverFinal = spark.read.parquet(cfg.silverPath)
        .orderBy("id").collect().map(_.toString).toSeq
      assert(silverFinal.size == 50)
    } finally { silverQ.stop(); goldQ.stop() }
  }

  test("gold fold is replay-safe via the batch-id marker") {
    val cfg = freshCfg()
    val batch = Seq(("g1", 1.0f, 100L)).toDF("group_id", "score", "event_timestamp")
    Pipeline.foldToGold(spark, batch, 0L, cfg)
    Pipeline.foldToGold(spark, batch, 0L, cfg) // replay of the same batch id
    val gold = spark.read.parquet(cfg.goldPath).collect().head
    assert(gold.getAs[Long]("event_count") == 1L)
    Pipeline.foldToGold(spark, batch, 1L, cfg) // genuinely new batch
    val gold2 = spark.read.parquet(cfg.goldPath).collect().head
    assert(gold2.getAs[Long]("event_count") == 2L)
  }

  /** crc32-mod bucket of a group key — must match Pipeline's goldBucket. */
  private def goldBucketOf(g: String, nBuckets: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(g.getBytes("UTF-8"))
    (c.getValue % nBuckets).toInt
  }

  test("bucketed gold fold rewrites only the touched buckets") {
    val cfg = freshCfg()
    val gA = "gA"
    // pick a second group guaranteed to land in a different bucket
    val gB = ('B' to 'Z').map(c => s"g$c")
      .find(goldBucketOf(_, cfg.goldBuckets) != goldBucketOf(gA, cfg.goldBuckets)).get
    def fold(g: String, score: Float, ts: Long, batchId: Long) =
      Pipeline.foldToGold(spark,
        Seq((g, score, ts)).toDF("group_id", "score", "event_timestamp"),
        batchId, cfg)
    def bucketFiles(g: String): Set[String] = {
      val d = new java.io.File(cfg.goldPath, s"gb=${goldBucketOf(g, cfg.goldBuckets)}")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    fold(gA, 1.0f, 100L, 0L)
    val aFilesAfter0 = bucketFiles(gA)
    assert(aFilesAfter0.nonEmpty)
    fold(gB, 2.0f, 200L, 1L) // different bucket: gA's files must not move
    assert(bucketFiles(gA) == aFilesAfter0)
    assert(bucketFiles(gB).nonEmpty)
    val bFilesAfter1 = bucketFiles(gB)
    fold(gA, 3.0f, 300L, 2L) // gA's bucket rewritten, gB's untouched
    assert(bucketFiles(gA) != aFilesAfter0)
    assert(bucketFiles(gB) == bFilesAfter1)
    val gold = spark.read.parquet(cfg.goldPath)
      .collect().map(r => r.getAs[String]("group_id") ->
        (r.getAs[Double]("cumulative_score"), r.getAs[Long]("event_count"))).toMap
    assert(gold(gA) == (4.0, 2L))
    assert(gold(gB) == (2.0, 1L))
  }

  test("gold fold emits an insert/preimage/postimage change feed") {
    val cfg = freshCfg()
    def fold(g: String, score: Float, ts: Long, batchId: Long) =
      Pipeline.foldToGold(spark,
        Seq((g, score, ts)).toDF("group_id", "score", "event_timestamp"),
        batchId, cfg)
    fold("g1", 1.0f, 100L, 0L)
    fold("g2", 2.0f, 200L, 1L)
    fold("g1", 3.0f, 300L, 2L)
    val changes = spark.read.parquet(cfg.goldChangesPath)
      // partition-dir columns come back as inferred INT in batch reads
      .select(col("group_id"), col("_change_type"),
        col("_commit_version").cast("long"),
        col("cumulative_score"), col("event_count"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    assert(changes == Set(
      ("g1", "insert", 0L, 1.0, 1L),
      ("g2", "insert", 1L, 2.0, 1L),
      ("g1", "update_preimage", 2L, 1.0, 1L),
      ("g1", "update_postimage", 2L, 4.0, 2L)))
  }

  test("coalesced gold fold (goldFoldEvery > 1): per-batch cost is one " +
    "pending append, buckets fold on cadence, flushGold drains the " +
    "remainder to the exact per-batch-fold end state") {
    val cfg = freshCfg().copy(goldFoldEvery = 3)
    val goldDir = new java.io.File(cfg.goldPath)
    val pendDir = new java.io.File(cfg.goldPendingPath)
    def fold(rows: Seq[(String, Float, Long)], batchId: Long) =
      Pipeline.foldToGold(spark,
        rows.toDF("group_id", "score", "event_timestamp"), batchId, cfg)
    // batches 0 and 1 only append to the pending delta log — no snapshot
    fold(Seq(("g1", 1.0f, 100L), ("g2", 2.0f, 200L)), 0L)
    fold(Seq(("g1", 3.0f, 50L)), 1L)
    assert(!goldDir.exists(), "fold ran before the cadence was due")
    assert(pendDir.listFiles().count(_.getName.startsWith("_pending_batch=")) == 2)
    // batch 2 makes g1's bucket due (3 pending batches) — g2's bucket is
    // due too (its single pending batch is now goldFoldEvery old iff
    // batch math says so); assert via totals rather than bucket layout
    fold(Seq(("g1", 5.0f, 400L)), 2L)
    assert(goldDir.exists(), "cadence-due fold did not run")
    // a replayed batch id is a no-op (global marker)
    fold(Seq(("g1", 99.0f, 999L)), 2L)
    // two more batches, then flush the remainder
    fold(Seq(("g2", 4.0f, 300L), ("g3", 7.0f, 700L)), 3L)
    Pipeline.flushGold(spark, cfg)
    val gold = spark.read.parquet(cfg.goldPath)
      .collect().map(r => r.getAs[String]("group_id") ->
        ((r.getAs[Double]("cumulative_score"), r.getAs[Long]("event_count"),
          r.getAs[Long]("first_event_timestamp"),
          r.getAs[Long]("last_event_timestamp")))).toMap
    // totals are exact; first/last carry the LAST touching batch's
    // min/max — the same faithful batch-overwrite semantics folding the
    // batches one at a time leaves (SURVEY §7.5-3)
    assert(gold("g1") == ((9.0, 3L, 400L, 400L)), gold("g1").toString)
    assert(gold("g2") == ((6.0, 2L, 300L, 300L)), gold("g2").toString)
    assert(gold("g3") == ((7.0, 1L, 700L, 700L)), gold("g3").toString)
    // the pending log is fully reclaimed after the flush
    val left = Option(pendDir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.startsWith("_pending_batch="))
    assert(left.isEmpty, s"pending leaves survived the flush: $left")
    // the change feed's latest postimage per key equals the snapshot —
    // what a serve consumer folds to
    val latest = graft.ops.Dedup.latestPerKeyAgg(
      spark.read.parquet(cfg.goldChangesPath)
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col("group_id"), col("cumulative_score"),
          col("event_count"), col("_commit_version").cast("long")),
      Seq("group_id"), col("_commit_version"), latest = true)
      .collect().map(r => r.getAs[String]("group_id") ->
        ((r.getAs[Double]("cumulative_score"), r.getAs[Long]("event_count"))))
      .toMap
    assert(latest == gold.view.mapValues(v => (v._1, v._2)).toMap,
      s"change feed latest $latest vs gold $gold")
  }

  test("coalesced chain end-to-end: startAll at goldFoldEvery=2 + flush " +
    "serves the same state as the per-batch chain") {
    val cfg = freshCfg().copy(goldFoldEvery = 2)
    val input = MemoryStream[Event](48, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    def settle(): Unit = {
      qs.foreach(_.processAllAvailable())
      Pipeline.flushGold(spark, cfg)
      qs.foreach(_.processAllAvailable())
    }
    try {
      val t0 = 1700000000000L
      input.addData(ev("c1", "g1", 1.0f, t0), ev("c2", "g2", 2.0f, t0 + 1000))
      qs.foreach(_.processAllAvailable()) // batch 0: pending only
      input.addData(ev("c3", "g1", 3.0f, t0 + 2000),
        ev("c1", "g1", 1.0f, t0)) // duplicate — must not reach pending
      settle()
      val streamed = Pipeline.serveSnapshot(spark, cfg)
        .select(col("_id"), col("cumulative_score"), col("event_count"))
        .orderBy("_id")
        .collect().map(_.toSeq).toSeq
      val batch = Pipeline.serveProjection(spark, cfg)
        .select(col("_id"), col("cumulative_score"), col("event_count"))
        .orderBy("_id")
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"\n$streamed\nvs\n$batch")
      assert(streamed.map(_(2)) == Seq(2L, 1L))
    } finally qs.foreach(_.stop())
  }

  test("three concurrent stages: streamed serving state == batch projection") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](13, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    def settle(): Unit = qs.foreach(_.processAllAvailable())
    try {
      val t0 = 1700000000000L
      input.addData(
        ev("s1", "g1", 1.0f, t0),
        ev("s2", "g1", 2.0f, t0 + 1000),
        ev("s3", "g2", 3.0f, t0 + 2000))
      settle()
      input.addData(
        ev("s4", "g2", 4.0f, t0 + 3000),
        ev("s1", "g1", 1.0f, t0)) // duplicate — must not reach gold
      settle()
      val cols = Seq("_id", "cumulative_score", "event_count", "avg_score",
        "first_event_timestamp", "last_event_timestamp")
      val streamed = Pipeline.serveSnapshot(spark, cfg)
        .select(cols.head, cols.tail: _*).orderBy("_id")
        .collect().map(_.toString).toSeq
      val batch = Pipeline.serveProjection(spark, cfg)
        .select(col("_id"), col("cumulative_score"), col("event_count"),
          col("avg_score").cast("double").as("avg_score"),
          col("first_event_timestamp"), col("last_event_timestamp"))
        .orderBy("_id")
        .collect().map(_.toString).toSeq
      assert(streamed.nonEmpty && streamed == batch, s"\n$streamed\nvs\n$batch")
    } finally qs.foreach(_.stop())
  }

  test("five concurrent stages: serving, retention, and anomaly views all " +
    "equal their batch oracles") {
    val cfg = freshCfg()
    val D = 86400000L
    val t0 = 1700006400000L
    val input = MemoryStream[Event](14, spark, None)
    val qs = Pipeline.startAllWithAnalytics(spark, input.toDF(), cfg)
    def settle(): Unit = { qs.foreach(_.processAllAvailable()) }
    try {
      input.addData(
        ev("f1", "g1", 1.0f, t0), ev("f2", "g2", 2.0f, t0 + D))
      settle()
      input.addData(
        ev("f3", "g1", 3.0f, t0 + D), ev("f4", "g3", 4.0f, t0 + 2 * D),
        ev("f1", "g1", 1.0f, t0)) // duplicate — must not double anywhere
      settle()

      // serving view == batch projection
      val streamed = Pipeline.serveSnapshot(spark, cfg)
        .select(col("_id"), col("event_count")).orderBy("_id")
        .collect().map(_.toSeq).toSeq
      val batch = Pipeline.serveProjection(spark, cfg)
        .select(col("_id"), col("event_count")).orderBy("_id")
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty && streamed == batch)

      // retention view == batch rollup over the silver grid
      val ret = graft.ops.Analytics.retentionFromActivity(
        Pipeline.retentionActivity(spark, cfg).localCheckpoint(true))
        .collect().map(_.toSeq).toSeq
      val grid = spark.read.parquet(cfg.silverPath)
        .select(col("group_id").as("user_id"),
          floor(col("event_timestamp") / lit(D)).cast("long").as("day"))
        .distinct()
      val retBatch = graft.ops.Analytics.retentionOf(grid)
        .collect().map(_.toSeq).toSeq
      assert(ret.nonEmpty && ret == retBatch)

      // anomaly view == batch z-scores over the silver daily counts
      val anom = graft.ops.Analytics.anomalyOf(
        Pipeline.anomalyDailyCounts(spark, cfg), "group_id")
        .collect().map(_.toSeq).toSeq
      val daily = spark.read.parquet(cfg.silverPath)
        .groupBy(col("group_id"),
          floor(col("event_timestamp") / lit(D)).cast("long").as("day"))
        .agg(count(lit(1)).as("c"))
      val anomBatch = graft.ops.Analytics.anomalyOf(daily, "group_id")
        .collect().map(_.toSeq).toSeq
      assert(anom.nonEmpty && anom == anomBatch)
    } finally qs.foreach(_.stop())
  }

  test("seven concurrent stages (startAllWithSearch): the event views " +
    "hold AND a stream-ingested vector is served through the rung search " +
    "stream, exact rescore included (VERDICT r14 next #6)") {
    import java.nio.file.Files
    val cfg = freshCfg()
    val srcDir = "/root/testdata/sf0.001"
    val corpus = Files.createTempDirectory("graft_search_corpus").toString
    graft.ext.Similarity.embeddings(spark, srcDir)
      .write.parquet(s"$corpus/embeddings.parquet")
    val input = MemoryStream[Event](15, spark, None)
    val vecs = MemoryStream[(Long, Seq[Float])](17, spark, None)
    val panel = MemoryStream[(Long, Seq[Double])](18, spark, None)
    val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val qs = Pipeline.startAllWithSearch(spark, input.toDF(), cfg, corpus,
      vecs.toDF().toDF("vec_id", "embedding"),
      panel.toDF().toDF("qid", "qe"),
      s"${cfg.baseDir}/vec_ckpt", s"${cfg.baseDir}/search_ckpt",
      nQueries = 10, k = 3)(res => got.synchronized { got ++= res.collect() })
    def settle(): Unit = qs.foreach(_.processAllAvailable())
    try {
      val t0 = 1700000000000L
      val q0 = graft.ext.Similarity.embeddings(spark, corpus)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      // batch 1: events + a new vector (a clone of corpus vec 0)
      input.addData(ev("s1", "g1", 1.0f, t0), ev("s2", "g2", 2.0f, t0 + 10))
      vecs.addData((970000L, q0))
      settle()
      // batch 2: a query equal to vec 0 — the freshly ingested clone
      // must be its top hit THROUGH the exact rescore
      panel.addData((0L, q0.map(_.toDouble)))
      settle()
      val silverIds = spark.read.parquet(cfg.silverPath)
        .select("id").as[String].collect().sorted.toSeq
      assert(silverIds == Seq("s1", "s2"), s"got $silverIds")
      val hits = got.synchronized(got.toSeq)
      assert(hits.nonEmpty, "search stream emitted nothing")
      val top = hits.filter(r => r.getLong(0) == 0L && r.getLong(2) == 1L)
      assert(top.map(_.getLong(1)) == Seq(970000L),
        s"ingested vector not served as top-1: $hits")
    } finally {
      qs.foreach(_.stop())
      graft.ext.Rung.purgeRungIndexes(spark, corpus)
    }
  }

  test("vacuumGoldChanges reclaims consumed versions; serve state intact") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](19, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    try {
      // several folds → several _commit_version partitions
      (0 until 4).foreach { b =>
        input.addData(ev(s"v$b", "g1", 1.0f, t0 + b * 1000))
        qs.foreach(_.processAllAvailable())
      }
      val fs = new org.apache.hadoop.fs.Path(cfg.goldChangesPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def versions() = fs.listStatus(
          new org.apache.hadoop.fs.Path(cfg.goldChangesPath))
        .map(_.getPath.getName).filter(_.startsWith("_commit_version="))
        .count(_.stripPrefix("_commit_version=").forall(_.isDigit))
      val before = versions()
      assert(before >= 3)
      // a stray directory matching the prefix must be skipped, not parsed
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        cfg.goldChangesPath + "/_commit_version=stray"))
      // keepVersions is a floor: consumed versions inside the window stay
      // (second-consumer / rebuilt-checkpoint replay protection)
      Pipeline.vacuumGoldChanges(spark, cfg, keepVersions = 2)
      assert(versions() == 3)
      // keepVersions = 0 → no retention floor: everything consumed may go
      Pipeline.vacuumGoldChanges(spark, cfg, keepVersions = 0)
      // serve committed every version → all reclaimed EXCEPT the newest
      // (the live edge of the log is never vacuumed)
      assert(versions() == 1)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        cfg.goldChangesPath + "/_commit_version=stray")))
      // the keyed serving state is unaffected (those versions were consumed)
      val snap = Pipeline.serveSnapshot(spark, cfg)
        .select(col("_id"), col("event_count")).collect()
      assert(snap.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq("g1" -> 4L))
      // and the serve stream keeps running across the vacuum
      input.addData(ev("v9", "g2", 2.0f, t0 + 9000))
      qs.foreach(_.processAllAvailable())
      assert(Pipeline.serveSnapshot(spark, cfg).count() == 2)
    } finally qs.foreach(_.stop())
  }

  test("vacuum holds back versions a lagging serve stage has not consumed") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](20, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    val changesRoot = new org.apache.hadoop.fs.Path(cfg.goldChangesPath)
    val fs = changesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versionNames() = fs.listStatus(changesRoot)
      .map(_.getPath.getName).filter(_.startsWith("_commit_version=")).sorted.toSeq
    try {
      input.addData(ev("l1", "g1", 1.0f, t0))
      qs.foreach(_.processAllAvailable())
      // stop ONLY stage 3: further folds produce versions nobody consumed
      qs(2).stop()
      (1 until 3).foreach { b =>
        input.addData(ev(s"l$b-x", "g1", 1.0f, t0 + b * 1000))
        qs.take(2).foreach(_.processAllAvailable())
      }
      val before = versionNames()
      assert(before.size >= 3)
      // even with zero retention, only the consumed prefix may go: the
      // paused serve stage must hold the cutoff at its last commit
      Pipeline.vacuumGoldChanges(spark, cfg, keepVersions = 0)
      val after = versionNames()
      assert(after == before.tail, s"before=$before after=$after")
      // serve restarts from its checkpoint and catches up — no loss
      val serve2 = Pipeline.startServe(spark, cfg)
      try serve2.processAllAvailable() finally serve2.stop()
      val got = Pipeline.serveSnapshot(spark, cfg)
        .select(col("_id"), col("event_count")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq("g1" -> 3L), got.toString)
    } finally qs.take(2).foreach(_.stop())
  }

  test("vacuum falls back to the retention window when serve never started") {
    val cfg = freshCfg()
    def fold(b: Long) = Pipeline.foldToGold(spark,
      Seq(("g1", 1.0f, 100L + b)).toDF("group_id", "score", "event_timestamp"),
      b, cfg)
    (0L until 4L).foreach(fold)
    val changesRoot = new org.apache.hadoop.fs.Path(cfg.goldChangesPath)
    val fs = changesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions() = fs.listStatus(changesRoot)
      .map(_.getPath.getName).filter(_.startsWith("_commit_version=")).sorted.toSeq
    assert(versions().size == 4)
    Pipeline.vacuumGoldChanges(spark, cfg, keepVersions = 1)
    // no serve checkpoint → blind max-keepVersions retention (= round 3)
    assert(versions() == Seq("_commit_version=2", "_commit_version=3"))
  }

  test("committedSourcePaths survives source-log compaction cleanup") {
    // Spark's CompactibleFileStreamLog folds plain entry files into an
    // N.compact and then DELETES the plain files — and a live consumer
    // runs that cleanup concurrently with our reader (the ×100 replay
    // soak raced it at serve batch 82: file listed, gone at open). Pin
    // the property the FNF-skip relies on: the compact file alone still
    // yields the full committed set.
    val dir = java.nio.file.Files.createTempDirectory("graft_srclog").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(rel: String, lines: Seq[String]): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, rel)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    def entry(path: String, batch: Long) =
      s"""{"path":"file://$path","timestamp":1,"batchId":$batch}"""
    write("sources/0/0", Seq("v1", entry("/data/a.parquet", 0L)))
    write("sources/0/1", Seq("v1", entry("/data/b.parquet", 1L)))
    write("sources/0/1.compact",
      Seq("v1", entry("/data/a.parquet", 0L), entry("/data/b.parquet", 1L)))
    write("commits/0", Seq("v1", "{}"))
    write("commits/1", Seq("v1", "{}"))
    val want = Set("/data/a.parquet", "/data/b.parquet")
    assert(Pipeline.committedSourcePaths(fs, dir).contains(want))
    // the cleanup Spark performs once the compact covers the history
    fs.delete(new org.apache.hadoop.fs.Path(dir, "sources/0/0"), false)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "sources/0/1"), false)
    assert(Pipeline.committedSourcePaths(fs, dir).contains(want))
  }

  test("progress listener logs all three stages; freshness probe sees the serve table") {
    val cfg = freshCfg()
    val log = new graft.streaming.Metrics.ProgressLog(capacity = 100)
    spark.streams.addListener(log)
    val input = MemoryStream[Event](21, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    try {
      val t0 = 1700000000000L
      input.addData(ev("m1", "g1", 1.0f, t0), ev("m2", "g2", 2.0f, t0 + 1000))
      qs.foreach(_.processAllAvailable())
      input.addData(ev("m3", "g1", 3.0f, t0 + 2000))
      qs.foreach(_.processAllAvailable())
      // listener delivery is async — poll briefly for all three stages
      val stages = Set("graft_silver", "graft_gold", "graft_serve")
      val deadline = System.currentTimeMillis() + 30000
      while (log.snapshot.map(_.query).toSet.intersect(stages) != stages &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val byStage = log.snapshot.groupBy(_.query)
      assert(stages.subsetOf(byStage.keySet), byStage.keySet.toString)
      // each stage ingested rows, and the log is queryable as a table
      stages.foreach { s =>
        assert(byStage(s).map(_.num_input_rows).sum > 0, s)
      }
      val df = log.toDF(spark)
      assert(df.filter(col("query") === "graft_silver")
        .agg(sum(col("num_input_rows"))).collect().head.getLong(0) == 3L)
      // end-to-end freshness: newest served row is at most "now" old
      val now = System.currentTimeMillis()
      val fr = graft.streaming.Metrics.freshness(spark, cfg, now).collect().head
      assert(fr.getAs[Long]("max_updated_at") > 0L)
      assert(fr.getAs[Long]("lag_ms") >= 0L && fr.getAs[Long]("lag_ms") < 3600000L)
    } finally {
      qs.foreach(_.stop())
      spark.streams.removeListener(log)
    }
  }

  test("compactServe folds committed batches into a snapshot; view and " +
    "restart semantics unchanged") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](33, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    def servePartitions() = new java.io.File(cfg.servePath).listFiles()
      .count(_.getName.startsWith("_serve_batch="))
    try {
      (1 to 3).foreach { b =>
        input.addData(ev(s"s$b-1", "g1", 1.0f, t0 + b * 1000),
          ev(s"s$b-2", "g2", 2.0f, t0 + b * 1000 + 1))
        qs.foreach(_.processAllAvailable())
      }
      val before = Pipeline.serveSnapshot(spark, cfg)
        .select("_id", "event_count").orderBy("_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(servePartitions() >= 2, "expected several serve batch partitions")

      val tailsBefore = servePartitions()
      Pipeline.compactServe(spark, cfg)

      // one snapshot version; folded tails RETAINED one generation (a
      // reader that resolved the pre-compaction layout must finish)
      val snapBase = new java.io.File(s"${cfg.baseDir}/serve_snapshot")
      assert(snapBase.listFiles().count(_.getName.startsWith("v=")) == 1)
      assert(servePartitions() == tailsBefore,
        "first compaction must retain its folded tails one generation")
      val after = Pipeline.serveSnapshot(spark, cfg)
        .select("_id", "event_count").orderBy("_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(after == before, s"snapshot changed the view: $before -> $after")

      // the stream keeps appending new tail partitions; a second
      // compaction folds them into v=1, retires generation-1 tails, and
      // retains v=0 plus the new tail one generation
      input.addData(ev("s4-1", "g1", 1.0f, t0 + 9000))
      qs.foreach(_.processAllAvailable())
      val got = Pipeline.serveSnapshot(spark, cfg)
        .select("_id", "event_count").orderBy("_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq("g1" -> 4L, "g2" -> 3L), got.toString)
      Pipeline.compactServe(spark, cfg)
      assert(snapBase.listFiles().map(_.getName).filter(_.startsWith("v="))
        .toSet == Set("v=0", "v=1"))
      assert(servePartitions() == 1,
        s"generation-1 tails must be reclaimed, the new tail retained: ${servePartitions()}")
      val got2 = Pipeline.serveSnapshot(spark, cfg)
        .select("_id", "event_count").orderBy("_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got2 == got)
      // a third compaction (no new data) retires the remaining history
      Pipeline.compactServe(spark, cfg)
      assert(servePartitions() == 0,
        s"all committed tails reclaimed after retirement: ${servePartitions()}")
      assert(snapBase.listFiles().map(_.getName).filter(_.startsWith("v="))
        .toSet == Set("v=1", "v=2"))
      val got3 = Pipeline.serveSnapshot(spark, cfg)
        .select("_id", "event_count").orderBy("_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got3 == got)
      // snapshot holds exactly one row per key — the O(1)-per-key bound
      assert(spark.read.parquet(s"${cfg.baseDir}/serve_snapshot/v=2")
        .count() == 2)
    } finally qs.foreach(_.stop())
  }

  test("serve stage restarts from its checkpoint without dup or loss") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](17, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    try {
      input.addData(ev("r1", "g1", 1.0f, t0), ev("r2", "g2", 2.0f, t0 + 1000))
      qs.foreach(_.processAllAvailable())
      // stop ONLY stage 3, keep ingesting: changes accumulate unserved
      qs(2).stop()
      input.addData(ev("r3", "g1", 3.0f, t0 + 2000))
      qs.take(2).foreach(_.processAllAvailable())
      // restart stage 3 from its checkpoint; it must pick up exactly the
      // missed change files (file-sink commit log = exactly-once)
      val serve2 = Pipeline.startServe(spark, cfg)
      serve2.processAllAvailable()
      try {
        val got = Pipeline.serveSnapshot(spark, cfg)
          .select(col("_id"), col("event_count"))
          .orderBy("_id")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(got == Seq("g1" -> 2L, "g2" -> 1L), got.toString)
      } finally serve2.stop()
    } finally qs.take(2).foreach(_.stop())
  }

  test("serveLog skips the tails its snapshot folded: same rows, and no " +
    "read of a partition the next compactServe deletes") {
    val cfg = freshCfg()
    val input = MemoryStream[Event](34, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    def batch(b: Int): Unit = {
      input.addData(ev(s"f$b-1", "g1", 1.0f, t0 + b * 1000),
        ev(s"f$b-2", s"g${b % 3}", 2.0f, t0 + b * 1000 + 1))
      qs.foreach(_.processAllAvailable())
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("_id", "event_count", "cumulative_score").orderBy("_id")
        .collect().map(_.toString).toSeq
    try {
      (1 to 2).foreach(batch)
      Pipeline.compactServe(spark, cfg) // v=0 folds tails 0-1, retains them
      batch(3)
      val snap = new java.io.File(s"${cfg.baseDir}/serve_snapshot/v=0")
      val folded = scala.io.Source.fromFile(new java.io.File(snap,
        "_folded_tails")).getLines().filter(_.nonEmpty).toSet
      val tails = new java.io.File(cfg.servePath).listFiles()
        .map(_.getName).filter(_.startsWith("_serve_batch=")).toSet
      assert(folded.nonEmpty && folded.subsetOf(tails) && tails.size > folded.size,
        s"expected retained folded tails beside a live one: $folded of $tails")

      val log = Pipeline.serveLog(spark, cfg)
      val read = log.inputFiles.toSeq
      assert(!read.exists(f => folded.exists(n => f.contains(s"/$n/"))),
        s"serveLog read a tail v=0 already folded: $read")
      // the same rows as the snapshot plus EVERY tail, latest per _id
      val everything = spark.read.schema(log.schema).parquet(
        (snap.toString +: tails.toSeq.map(t => s"${cfg.servePath}/$t")): _*)
      val expected = graft.ops.Dedup.latestPerKeyAgg(everything, Seq("_id"),
        struct(col("_commit_version")), latest = true)
      assert(rows(Pipeline.serveSnapshot(spark, cfg)) == rows(expected))

      // the next compaction deletes exactly the tails v=0 folded; a read
      // resolved before it still executes and returns the same rows
      val resolved = Pipeline.serveSnapshot(spark, cfg)
      val before = rows(resolved)
      Pipeline.compactServe(spark, cfg)
      assert(folded.forall(n => !new java.io.File(cfg.servePath, n).exists()))
      assert(rows(resolved) == before)
      assert(rows(Pipeline.serveSnapshot(spark, cfg)) == before)
    } finally qs.foreach(_.stop())
  }

  test("the chain's micro-batch plans are codegen-stable: after warm-up a " +
    "batch compiles at most the watermark eviction predicate") {
    val cfg = Pipeline.Config(
      Files.createTempDirectory("graft_pipe").toString, goldBuckets = 4)
    val input = MemoryStream[Event](35, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    val groups = (0 until 16).map(g => s"g$g")
    try {
      // a steady shape: every batch touches the same groups and buckets,
      // and event time advances a second per batch
      val compiles = (0 until 6).map { b =>
        val before = graft.streaming.Metrics.compileCounters()
        input.addData(groups.zipWithIndex.map { case (g, i) =>
          ev(s"c$b-$i", g, i.toFloat, t0 + b * 1000L + i) })
        qs.foreach(_.processAllAvailable())
        (graft.streaming.Metrics.compileCounters() - before).codegenCompiles
      }
      // a per-batch literal in any sink plan (silver, gold, change feed,
      // serve) would compile new classes every batch
      assert(compiles.drop(2).forall(_ <= 2),
        s"Janino compilations per batch: ${compiles.mkString(", ")}")
    } finally qs.foreach(_.stop())
  }
}
