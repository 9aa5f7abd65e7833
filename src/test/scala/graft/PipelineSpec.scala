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

  test("compactSilver coalesces files per bucket and preserves the data") {
    val cfg = freshCfg()
    silverOnly(cfg, 12, 3)
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

  test("compactSilver under a running gold stream: no double-fold, " +
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

      Pipeline.compactSilver(spark, cfg)

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
      Pipeline.compactSilver(spark, cfg)
      val silverFinal = spark.read.parquet(cfg.silverPath)
        .orderBy("id").collect().map(_.toString).toSeq
      assert(silverFinal.size == 50)
    } finally { silverQ.stop(); goldQ.stop() }
  }

  /** Silver written by `batches` micro-batches of 20 unique events over
    * groups g0-g2, with no gold stage started: one part file per batch
    * in the one hour bucket.
    */
  private def silverOnly(cfg: Pipeline.Config, memId: Int,
                         batches: Int): Unit = {
    val input = MemoryStream[Event](memId, spark, None)
    val q = Pipeline.startSilver(spark, input.toDF(), cfg)
    try {
      val t0 = 1700000000000L
      (1 to batches).foreach { b =>
        input.addData((1 to 20).map(k => ev(s"c$b-$k", s"g${k % 3}", 1f,
          t0 + b * 1000 + k)))
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  test("compactSilver replays a plan staged before a crash: the next run " +
    "leaves the same rows once each and no manifest or staging dir") {
    val cfg = freshCfg()
    silverOnly(cfg, 42, 3)
    val fs = new org.apache.hadoop.fs.Path(cfg.silverPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(
      cfg.silverPath + "_compact_manifest")
    val tmp = new org.apache.hadoop.fs.Path(cfg.silverPath + "_compact_tmp")
    def rows() = spark.read.parquet(cfg.silverPath)
      .orderBy("id").collect().map(_.toString).toSeq
    val before = rows()
    // the crash: the plan is staged (rewrite + manifest), none of it run
    assert(Pipeline.stageSilverCompaction(spark, fs, cfg, None))
    assert(fs.exists(manifest) && fs.exists(tmp))
    // the replay's first MOVE landed before the crash: a reader sees the
    // rewritten rows beside the originals until the plan completes
    val firstMove = Files.readAllLines(
        java.nio.file.Paths.get(manifest.toUri.getPath)).toArray
      .map(_.toString).find(_.startsWith("MOVE\t")).get.split('\t')
    fs.rename(new org.apache.hadoop.fs.Path(firstMove(1)),
      new org.apache.hadoop.fs.Path(firstMove(2)))
    spark.catalog.refreshByPath(cfg.silverPath)
    assert(rows().size == 2 * before.size)
    Pipeline.compactSilver(spark, cfg)
    val after = rows()
    assert(after == before)
    assert(spark.read.parquet(cfg.silverPath).select("id").distinct()
      .count() == after.size, "a row survived twice")
    assert(!fs.exists(manifest), "manifest left behind")
    assert(!fs.exists(tmp), "staging dir left behind")
  }

  test("compactSilver with no gold stage keeps part- names: gold started " +
    "afterwards folds every silver row exactly once") {
    val cfg = freshCfg()
    silverOnly(cfg, 43, 3)
    Pipeline.compactSilver(spark, cfg)
    val names = new java.io.File(cfg.silverPath).listFiles()
      .filter(_.getName.startsWith("hb="))
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".parquet"))
    assert(names.length == 1 && names.forall(_.startsWith("part-")),
      names.toSeq.toString)
    val goldQ = Pipeline.startGold(spark, cfg)
    try goldQ.processAllAvailable() finally goldQ.stop()
    val gold = spark.read.parquet(cfg.goldPath).collect()
      .map(r => r.getAs[String]("group_id") -> r.getAs[Long]("event_count"))
      .toMap
    // 3 batches × 20 unique events: k % 3 puts 7, 7 and 6 of each batch
    // in g1, g2 and g0
    assert(gold == Map("g0" -> 18L, "g1" -> 21L, "g2" -> 21L), gold.toString)
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
    // a fold that rewrites gB's bucket for another group stamps only that
    // group: gB keeps its updated_at, as the reference MERGE leaves an
    // unmatched target row alone
    val gC = Iterator.from(0).map(i => s"h$i")
      .find(goldBucketOf(_, cfg.goldBuckets) == goldBucketOf(gB, cfg.goldBuckets)).get
    def stamps(): Map[String, Long] = spark.read.parquet(cfg.goldPath)
      .collect().map(r => r.getAs[String]("group_id") -> r.getAs[Long]("updated_at")).toMap
    val bStamp = stamps()(gB)
    // the fold clock counts whole seconds: let it move past gB's stamp
    while (System.currentTimeMillis() / 1000L * 1000L <= bStamp) Thread.sleep(50)
    fold(gC, 5.0f, 500L, 3L)
    assert(bucketFiles(gB) != bFilesAfter1)
    val after = stamps()
    assert(after(gB) == bStamp, s"untouched gB restamped: $bStamp -> ${after(gB)}")
    assert(after(gC) > bStamp)
  }

  test("gold fold emits an insert/preimage/postimage change feed") {
    val cfg = freshCfg()
    def fold(batchId: Long, rows: (String, Float, Long)*) =
      Pipeline.foldToGold(spark,
        rows.toDF("group_id", "score", "event_timestamp"), batchId, cfg)
    fold(0L, ("g1", 1.0f, 100L))
    fold(1L, ("g2", 2.0f, 200L))
    fold(2L, ("g1", 3.0f, 300L))
    fold(3L, ("g1", 1.0f, 500L), ("g1", 2.0f, 400L))
    fold(4L, ("g1", 1.0f, 50L)) // older than everything g1 has seen
    val changes = spark.read.parquet(cfg.goldChangesPath)
      // partition-dir columns come back as inferred INT in batch reads
      .select(col("group_id"), col("_change_type"),
        col("_commit_version").cast("long"),
        col("cumulative_score"), col("event_count"),
        col("first_event_timestamp"), col("last_event_timestamp"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    // first/last follow the faithful batch-overwrite semantics (SURVEY
    // §7.5-3): a touching batch's own min/max replace the stored pair —
    // batch 3 leaves 400 (not g1's all-time 100) as first, batch 4 moves
    // last back to 50 — while an untouched group keeps its pair
    assert(changes == Set(
      ("g1", "insert", 0L, 1.0, 1L, 100L, 100L),
      ("g2", "insert", 1L, 2.0, 1L, 200L, 200L),
      ("g1", "update_preimage", 2L, 1.0, 1L, 100L, 100L),
      ("g1", "update_postimage", 2L, 4.0, 2L, 300L, 300L),
      ("g1", "update_preimage", 3L, 4.0, 2L, 300L, 300L),
      ("g1", "update_postimage", 3L, 7.0, 4L, 400L, 500L),
      ("g1", "update_preimage", 4L, 7.0, 4L, 400L, 500L),
      ("g1", "update_postimage", 4L, 8.0, 5L, 50L, 50L)))
    val gold = spark.read.parquet(cfg.goldPath)
      .collect().map(r => r.getAs[String]("group_id") ->
        ((r.getAs[Double]("cumulative_score"), r.getAs[Long]("event_count"),
          r.getAs[Long]("first_event_timestamp"),
          r.getAs[Long]("last_event_timestamp")))).toMap
    assert(gold == Map("g1" -> ((8.0, 5L, 50L, 50L)),
      "g2" -> ((2.0, 1L, 200L, 200L))), gold.toString)
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
      // one row per group, each event folded once and the duplicate none
      val counts = Pipeline.serveSnapshot(spark, cfg).collect()
        .map(r => r.getAs[String]("_id") -> r.getAs[Long]("event_count"))
        .toMap
      assert(counts == Map("g1" -> 2L, "g2" -> 2L), counts.toString)
    } finally qs.foreach(_.stop())
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

  test("fullyCommitted keeps a version whose directory vanishes mid-walk") {
    import org.apache.hadoop.fs.{FilterFileSystem, Path}
    val root = new Path(freshCfg().goldChangesPath)
    val local = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = local.makeQualified(new Path(root, "_commit_version=3"))
    val part = new Path(version, "part-0.parquet")
    val staging = new Path(version, "_temporary/0")
    val staged = new Path(staging, "part-1.parquet")
    Seq(part, new Path(version, "_SUCCESS"), staged)
      .foreach(p => local.create(p).close())
    val committed = Set(part, staged).map(_.toUri.getPath)
    // every data file committed, hidden and `_` files skipped: reclaimable
    assert(Pipeline.fullyCommitted(local, version, committed))
    // an in-flight write's staging dir removed between the version's
    // listing and its own: not committed, and no exception
    val racing = new FilterFileSystem(local) {
      override def listStatus(f: Path) = {
        val entries = super.listStatus(f)
        if (f == version) local.delete(staging.getParent, true)
        entries
      }
    }
    assert(!Pipeline.fullyCommitted(racing, version, committed))
    assert(!local.exists(staging))
    // a version dir already gone when the walk reaches it: kept too
    assert(!Pipeline.fullyCommitted(local,
      new Path(root, "_commit_version=4"), committed))
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
      val fr = Pipeline.serveLog(spark, cfg)
        .agg(max(col("updated_at")).as("max_updated_at"))
        .select(col("max_updated_at"),
          (lit(now) - col("max_updated_at")).as("lag_ms"))
        .collect().head
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

  test("the chain leaves the session's ignoreMissingFiles off; serveLog " +
    "skips a vanished tail file through its own read option") {
    val key = "spark.sql.files.ignoreMissingFiles"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val cfg = freshCfg()
    val input = MemoryStream[Event](36, spark, None)
    val qs = Pipeline.startAll(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    try {
      (1 to 2).foreach { b =>
        input.addData(ev(s"i$b-1", "g1", 1.0f, t0 + b * 1000),
          ev(s"i$b-2", "g2", 2.0f, t0 + b * 1000 + 1))
        qs.foreach(_.processAllAvailable())
      }
      assert(spark.conf.get(key) == "false",
        "starting the chain changed the shared session's conf")

      // the listing is taken now; the file vanishes before the scan runs
      val log = Pipeline.serveLog(spark, cfg)
      val victim = log.inputFiles.filter(_.contains("/_serve_batch=")).max
      val victimRows = spark.read.parquet(victim).count()
      val before = log.count()
      val path = new org.apache.hadoop.fs.Path(victim)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, false)
      assert(log.count() == before - victimRows)
    } finally {
      qs.foreach(_.stop())
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
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

  test("the chain forks no process for checkpoint writes or permission " +
    "changes") {
    val file = new org.apache.hadoop.fs.Path("file:///")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(file.isInstanceOf[graft.storage.NioLocalFileSystem], file.getClass.getName)
    val cfg = freshCfg()
    // the in-process chmod sets the same mode bits as the forked one
    val probe = new org.apache.hadoop.fs.Path(cfg.baseDir, "probe")
    file.create(probe).close()
    file.setPermission(probe, new org.apache.hadoop.fs.permission.FsPermission("750"))
    assert(java.nio.file.attribute.PosixFilePermissions.toString(Files
      .getPosixFilePermissions(java.nio.file.Paths.get(cfg.baseDir, "probe"))) ==
      "rwxr-x---")
    val input = MemoryStream[Event](37, spark, None)
    val t0 = 1700000000000L
    val starts = processStarts {
      val qs = Pipeline.startAll(spark, input.toDF(), cfg)
      try {
        (1 to 3).foreach { b =>
          input.addData((0 until 8).map(i => ev(s"f$b-$i", s"g$i", i.toFloat, t0 + b * 1000L + i)))
          qs.foreach(_.processAllAvailable())
        }
      } finally qs.foreach(_.stop())
    }
    // Spark's own `rm -rf` (JavaUtils.deleteRecursively, RocksDB cleanup)
    // is not storage I/O of the chain and stays out of the assertion
    val forked = starts.filter(e => frames(e).exists(f =>
      f.contains("CheckpointFileManager") ||
        f == "org.apache.hadoop.fs.RawLocalFileSystem.setPermission"))
    assert(forked.size == 0, s"of ${starts.size} process starts, e.g. " +
      forked.take(2).map(e => e.getString("command") + "\n  " +
        frames(e).mkString("\n  ")).mkString("\n"))
  }

  test("a chain checkpointed under Spark's FileContext checkpoint manager " +
    "resumes under the FileSystem one with exact serve state") {
    val cfg = freshCfg()
    val t0 = 1700000000000L
    val before = Seq(
      Seq(ev("m1", "g1", 1.0f, t0), ev("m2", "g2", 2.0f, t0 + 1000)),
      Seq(ev("m3", "g1", 3.0f, t0 + 2000)))
    val old = spark.newSession()
    old.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
    val in1 = MemoryStream[Event](38, old, None)
    val firstRun = processStarts {
      val qs1 = Pipeline.startAll(old, in1.toDF(), cfg)
      try before.foreach { b => in1.addData(b); qs1.foreach(_.processAllAvailable()) }
      finally qs1.foreach(_.stop())
    }
    // without native libhadoop the FileContext manager forks `readlink`
    // per rename: its frames show the first run really used it
    val viaFileContext = firstRun.count(e =>
      frames(e).exists(_.contains("FileContextBasedCheckpointFileManager")))
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
      assert(viaFileContext > 0, "the first run did not use the FileContext manager")

    // resume in the suite's session: the committed offsets are re-added
    // in the same chunks, then a re-send of m1 and new events follow
    val in2 = MemoryStream[Event](39, spark, None)
    before.foreach(in2.addData(_))
    val qs2 = Pipeline.startAll(spark, in2.toDF(), cfg)
    try {
      in2.addData(ev("m4", "g2", 4.0f, t0 + 3000), ev("m1", "g1", 1.0f, t0),
        ev("m5", "g3", 5.0f, t0 + 4000))
      qs2.foreach(_.processAllAvailable())
      val ids = spark.read.parquet(cfg.silverPath).select("id").as[String]
        .collect().sorted.toSeq
      assert(ids == Seq("m1", "m2", "m3", "m4", "m5"), ids.toString)
      val served = Pipeline.serveSnapshot(spark, cfg)
        .select(col("_id"), col("event_count"), col("cumulative_score"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(served == Map("g1" -> ((2L, 4.0)), "g2" -> ((2L, 6.0)),
        "g3" -> ((1L, 5.0))), served.toString)
    } finally qs2.foreach(_.stop())
  }
}
