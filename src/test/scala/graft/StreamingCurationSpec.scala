package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ext.Curation
import graft.ops.Ingest
import graft.streaming.StreamingCuration
import graft.streaming.StreamingCuration.DocMeta

/** Ingest-time curation: the quota cap must hold ACROSS micro-batches
  * (state store), and the stratified sample must admit exactly the same
  * docs as the batch predicate (pure row function).
  */
class StreamingCurationSpec extends SparkTestBase {
  import spark.implicits._

  test("quota cap holds across micro-batches per source") {
    val input = MemoryStream[DocMeta](21, spark, None)
    val q = StreamingCuration.quotaCapStream(input.toDS(), n = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_quota").start()
    try {
      input.addData(
        DocMeta(1, "a", "en"), DocMeta(2, "a", "en"),
        DocMeta(3, "b", "en"))
      q.processAllAvailable()
      // batch 2: source a exceeds its quota (already 2 admitted)
      input.addData(
        DocMeta(4, "a", "en"), DocMeta(5, "a", "en"),
        DocMeta(6, "b", "en"))
      q.processAllAvailable()
      // batch 3: source a is full, b still open
      input.addData(DocMeta(7, "a", "en"), DocMeta(8, "b", "en"))
      q.processAllAvailable()

      val admitted = spark.table("graft_stream_quota")
        .select("doc_id").as[Long].collect().toSet
      // a: first 3 by arrival (1,2,4); b: all three under quota
      assert(admitted == Set(1L, 2L, 4L, 3L, 6L, 8L), s"got $admitted")
    } finally q.stop()
  }

  test("token-budget stream admits the batch prefix, counts dropped " +
    "mass, and orders within a batch") {
    import StreamingCuration.DocTok
    val input = MemoryStream[DocTok](30, spark, None)
    val q = StreamingCuration.quotaTokensStream(input.toDS(), budget = 100L)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_toks").start()
    try {
      // out-of-order within the batch: sorted by doc_id before admitting
      input.addData(DocTok(2, "a", 40L), DocTok(1, "a", 30L))
      q.processAllAvailable()
      // doc 3 (60) crosses 100 -> dropped, but its mass STILL counts:
      // doc 4 (10) would fit the leftover 30 but the batch semantics
      // (cumulative over all seen) must refuse it too
      input.addData(DocTok(3, "a", 60L), DocTok(4, "a", 10L))
      q.processAllAvailable()
      input.addData(DocTok(5, "b", 99L), DocTok(6, "b", 2L))
      q.processAllAvailable()
      val admitted = spark.table("graft_stream_toks")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(1L, 2L, 5L), s"got $admitted")
    } finally q.stop()
  }

  test("cross-batch order guard: a late lower doc_id is dropped and " +
    "counted, never silently admitted (quota cap)") {
    // VERDICT r12 missing #3: out-of-order redelivery across batches
    // used to diverge silently from the batch admit set; the per-key
    // high-watermark now drops-and-counts it — observable as the late
    // row's ABSENCE even though quota remained
    val input = MemoryStream[DocMeta](36, spark, None)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_quota_ooo_ckpt").toString
    val q = StreamingCuration.quotaCapStream(input.toDS(), n = 10)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_stream_quota_ooo").start()
    try {
      input.addData(DocMeta(5, "a", "en"), DocMeta(7, "a", "en"))
      q.processAllAvailable()
      // doc 3 arrives AFTER doc 7 was processed in a prior batch —
      // late; doc 7 again is at-least-once redelivery — also at or
      // below the watermark, deduplicated by the same guard; doc 9 is
      // in order
      input.addData(DocMeta(3, "a", "en"), DocMeta(7, "a", "en"),
        DocMeta(9, "a", "en"))
      q.processAllAvailable()
      val admitted = spark.table("graft_stream_quota_ooo")
        .select("doc_id").as[Long].collect().toSeq
      assert(admitted.sorted == Seq(5L, 7L, 9L), s"got $admitted")
    } finally q.stop()
    // the observability face: the guard counters read back out of the
    // checkpoint — ooo_dropped IS the divergence signal, per key
    val stats = StreamingCuration.orderGuardStats(spark, ckpt).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(stats("a") == ((3L, 9L, 2L)),
      s"(admitted, high_watermark, ooo_dropped) for a: ${stats.get("a")}")
  }

  test("in-batch at-least-once replay admits once and charges quota " +
    "once in BOTH processors (ADVICE r13 / review r14); benign replays " +
    "count in dup_dropped and do NOT flip serve_health, cross-batch " +
    "violations do") {
    // — quota cap: doc 1 delivered twice IN ONE BATCH (above the
    // watermark — the case the hw0 check alone missed): with n = 2 a
    // double-charge would burn the quota and reject doc 2; set
    // semantics admit {1, 2} and count the replica in dup_dropped
    val input = MemoryStream[DocMeta](38, spark, None)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_quota_dup_ckpt").toString
    val q = StreamingCuration.quotaCapStream(input.toDS(), n = 2)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_stream_quota_dup").start()
    try {
      input.addData(DocMeta(1, "a", "en"), DocMeta(1, "a", "en"),
        DocMeta(2, "a", "en"))
      q.processAllAvailable()
      val admitted = spark.table("graft_stream_quota_dup")
        .select("doc_id").as[Long].collect().toSeq
      assert(admitted.sorted == Seq(1L, 2L), s"got $admitted")
    } finally q.stop()
    val stats = StreamingCuration.orderGuardStats(spark, ckpt).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(stats("a") == ((2L, 2L, 0L, 1L)),
      s"(admitted, hw, ooo, dup) for a: ${stats.get("a")}")
    // benign in-batch replay: the guard surface stays HEALTHY
    val healthy = graft.streaming.Metrics.serveHealth(spark,
      "/root/testdata/sf0.001",
      Seq(("quota_dup_guard", ckpt, "admitted")))
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(healthy("quota_dup_guard") == ((true, true, true)),
      s"guard row: ${healthy.get("quota_dup_guard")}")
    assert(healthy("rung_binary") == ((true, true, true)))

    // — token budget: same replica, budget 250 — a double-charge (200
    // for one doc) would evict doc 6 from the admit set the backfill
    // keeps; and a CROSS-batch late doc flips the health latch
    import StreamingCuration.DocTok
    val inTok = MemoryStream[DocTok](39, spark, None)
    val ckptTok = java.nio.file.Files
      .createTempDirectory("graft_tok_dup_ckpt").toString
    val qt = StreamingCuration.quotaTokensStream(inTok.toDS(), budget = 250)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckptTok)
      .format("memory").queryName("graft_stream_tok_dup").start()
    try {
      inTok.addData(DocTok(5, "b", 100L), DocTok(5, "b", 100L),
        DocTok(6, "b", 100L))
      qt.processAllAvailable()
      val admitted = spark.table("graft_stream_tok_dup")
        .select("doc_id").as[Long].collect().toSeq
      assert(admitted.sorted == Seq(5L, 6L), s"got $admitted")
      inTok.addData(DocTok(3, "b", 10L)) // late cross-batch: genuine ooo
      qt.processAllAvailable()
    } finally qt.stop()
    val tokStats = StreamingCuration.orderGuardStats(spark, ckptTok,
      "seen_tokens").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(tokStats("b") == ((200L, 6L, 1L, 1L)),
      s"(seen_tokens, hw, ooo, dup) for b: ${tokStats.get("b")}")
    val unhealthy = graft.streaming.Metrics.serveHealth(spark,
      "/root/testdata/sf0.001",
      Seq(("tok_guard", ckptTok, "seen_tokens")))
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(unhealthy("tok_guard") == ((true, true, false)),
      s"guard row after a cross-batch violation: ${unhealthy.get("tok_guard")}")
  }

  test("cross-batch order guard: a late doc neither admits nor charges " +
    "the token budget (its world is the backfill's, not the stream's)") {
    import StreamingCuration.DocTok
    val input = MemoryStream[DocTok](37, spark, None)
    val ckptToks = java.nio.file.Files
      .createTempDirectory("graft_toks_ooo_ckpt").toString
    val q = StreamingCuration.quotaTokensStream(input.toDS(), budget = 35L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckptToks)
      .format("memory").queryName("graft_stream_toks_ooo").start()
    try {
      input.addData(DocTok(5, "a", 10L), DocTok(7, "a", 10L))
      q.processAllAvailable() // seen = 20
      // doc 3 is late (< watermark 7): dropped, and its 10 tokens must
      // NOT charge the budget; doc 9 admits at cum 30
      input.addData(DocTok(3, "a", 10L), DocTok(9, "a", 10L))
      q.processAllAvailable()
      // doc 10 fits exactly iff the late doc was not charged (30+5=35)
      input.addData(DocTok(10, "a", 5L))
      q.processAllAvailable()
      val admitted = spark.table("graft_stream_toks_ooo")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(5L, 7L, 9L, 10L), s"got $admitted")
    } finally q.stop()
    // the token-budget flavor of the state reader: seen_tokens is the
    // primary counter and excludes the dropped late doc's 10 tokens
    val stats = StreamingCuration.orderGuardStats(spark, ckptToks,
      primaryState = "seen_tokens").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(stats("a") == ((35L, 10L, 1L)),
      s"(seen_tokens, high_watermark, ooo_dropped) for a: ${stats.get("a")}")
  }

  test("token-budget heap: an oversized middle doc arriving last still " +
    "blocks every later doc_id, and an exhausted budget admits nothing") {
    import StreamingCuration.DocTok
    val input = MemoryStream[DocTok](35, spark, None)
    val q = StreamingCuration.quotaTokensStream(input.toDS(), budget = 6L)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_toks_heap").start()
    try {
      // arrival 3,1,2 — the prefix-sum order is 1(5), 2(100), 3(1):
      // doc 2 overflows at cum 105, and doc 3's prefix INCLUDES that
      // mass, so only doc 1 is admitted (the pop-then-block path: 3 is
      // enqueued first and must be evicted when 2's arrival reveals the
      // true prefix)
      input.addData(DocTok(3, "a", 1L), DocTok(1, "a", 5L),
        DocTok(2, "a", 100L))
      q.processAllAvailable()
      // the budget is exhausted (cum 106 > 6): later batches buffer and
      // admit nothing
      input.addData(DocTok(10, "a", 1L))
      q.processAllAvailable()
      val admitted = spark.table("graft_stream_toks_heap")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(1L), s"got $admitted")
    } finally q.stop()
  }

  test("property (seeded): the bounded-heap prefix admission equals the " +
    "sort-based reference over random batches, arrival orders, token " +
    "masses, and carried-over state") {
    import StreamingCuration.DocTok
    val rnd = new scala.util.Random(61)
    (1 to 300).foreach { iter =>
      val n = rnd.nextInt(30)
      // half the iterations draw ids WITH replacement from a small pool:
      // duplicate doc_ids in one batch (at-least-once redelivery) must
      // tie-break by arrival order exactly like the stable sort
      val ids =
        if (iter % 2 == 0) List.fill(n)(rnd.nextInt(10).toLong)
        else rnd.shuffle((0 until 200).toList).take(n).map(_.toLong)
      val rows = ids.map(id =>
        DocTok(id, "s", 1L + rnd.nextInt(50).toLong))
      val cum0 = rnd.nextInt(120).toLong
      val budget = rnd.nextInt(200).toLong
      // reference: sort the whole batch, admit while the running total
      // (over ALL rows, admitted or not) fits — the pre-r12 semantics
      var cum = cum0
      val want = rows.sortBy(_.doc_id).flatMap { r =>
        cum += r.n_tokens
        if (cum <= budget) Some(r) else None
      }
      val (got, allTokens) = StreamingCuration.admitTokenPrefix(
        rows.iterator, cum0, budget)
      assert(got == want, s"iter $iter: rows=$rows cum0=$cum0 budget=$budget")
      assert(allTokens == rows.map(_.n_tokens).sum, s"iter $iter")
    }
  }

  test("streaming token budget equals the batch quota_tokens keep set " +
    "on in-order arrival") {
    import StreamingCuration.DocTok
    val sf = "/root/testdata/sf0.001"
    val batchKeep = graft.ext.Curation.quotaTokens(spark, sf, 600L)
      .select("doc_id").as[Long].collect().toSet
    val input = MemoryStream[DocTok](31, spark, None)
    val q = StreamingCuration.quotaTokensStream(input.toDS(), budget = 600L)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_toks_batch").start()
    try {
      val docs = Ingest.table(spark, sf, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .orderBy("doc_id").collect()
        .map(r => DocTok(r.getLong(0), r.getString(1), r.getLong(2)))
      input.addData(docs.take(docs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(docs.drop(docs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamKept = spark.table("graft_stream_toks_batch")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept == batchKeep)
    } finally q.stop()
  }

  test("streaming winsorize under frozen batch bounds equals the batch " +
    "clip; unknown groups pass through unclipped") {
    val sf = "/root/testdata/sf0.001"
    val events = Ingest.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    val bounds = graft.ops.Analytics
      .winsorizeBounds(events, "event_type")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val batch = graft.ops.Analytics
      .winsorize(events, "event_type", "event_id")
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
    val boundsDf = bounds.toSeq.toDF("event_type", "lo_v", "hi_v")
    val input = MemoryStream[(Long, String, Double)](32, spark, None)
    val stream = input.toDF().toDF("event_id", "event_type", "value")
    val q = StreamingCuration.winsorizeStream(stream, "event_type", boundsDf)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_winsor").start()
    try {
      val evRows = events.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      input.addData(evRows.take(evRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      // a group the bounds never saw: must pass through unclipped
      input.addData((999999L, "brand_new_type", 1e9))
      input.addData(evRows.drop(evRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("graft_stream_winsor")
        .select("event_id", "value_w", "clipped").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
      assert(got(999999L) == (1e9, false))
      assert((got - 999999L) == batch)
    } finally q.stop()
  }

  test("bounds re-freeze rule: calm on the freezing history, fires on a " +
    "shifted distribution and on an uncovered group, and the refreshed " +
    "bounds read calm again") {
    val sf = "/root/testdata/sf0.001"
    val events = Ingest.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    val bounds = graft.ops.Analytics.winsorizeBounds(events, "event_type")
      .localCheckpoint(true)
    // frozen on this exact history: realized clip == the quantile mass
    assert(!StreamingCuration.shouldRefreezeBounds(events, "event_type",
      bounds), "rule fired on the distribution the bounds were frozen on")
    // a wholesale upward shift puts ~everything above hi_v
    val shifted = events.withColumn("value", col("value") + lit(1e6))
    assert(StreamingCuration.shouldRefreezeBounds(shifted, "event_type",
      bounds), "shifted distribution must fire the drift half")
    // a group the bounds never saw fires the coverage half even when the
    // covered groups are calm
    val withNew = events.unionByName(
      Seq((888888L, "brand_new_type", 1.0))
        .toDF("event_id", "event_type", "value"))
    assert(StreamingCuration.shouldRefreezeBounds(withNew, "event_type",
      bounds), "uncovered group must fire the coverage half")
    // the maintenance face: re-freeze on the shifted history, then the
    // rule reads calm under the refreshed bounds and a calm history
    // returns the frozen table untouched
    val (fresh, fired) = StreamingCuration.refreezeBoundsIfNeeded(
      shifted, "event_type", bounds)
    assert(fired)
    assert(!StreamingCuration.shouldRefreezeBounds(shifted, "event_type",
      fresh), "post-refreeze bounds must read calm on the new history")
    val (same, fired2) = StreamingCuration.refreezeBoundsIfNeeded(
      events, "event_type", bounds)
    assert(!fired2 && (same eq bounds))
  }

  test("trained-state deletion semantics (winsor bounds, r15 VERDICT " +
    "next #8): frozen bounds retain a scrubbed user's statistical " +
    "influence until the refreeze cycle — and the post-scrub refreeze " +
    "equals bounds frozen on a history the user never entered") {
    import graft.ops.Analytics
    // user B's extreme tail sets the frozen hi bound; the deletion
    // scrub removes B's rows (row CONTENT gone from any clip apply
    // immediately), but the FROZEN state still carries B's quantiles —
    // the same honesty note as IVF's frozen centroids
    val aRows = (1 to 100).map(i => (i.toLong, "t", i.toDouble))
    // B carries 90% of the mass, so the frozen p05/p95 land deep inside
    // B's range — after the scrub the realized clip on A-only history
    // deviates far past the rule's tolerance
    val bRows = (1 to 900).map(i => (1000L + i, "t", 1e6 + i))
    val full = (aRows ++ bRows).toDF("event_id", "event_type", "value")
    val scrubbed = aRows.toDF("event_id", "event_type", "value")
    val frozen = Analytics.winsorizeBounds(full, "event_type")
      .localCheckpoint(true)
    // the maintenance drift rule IS the refreeze cycle: the scrubbed
    // history's realized clip collapses under B-inflated bounds, so the
    // rule fires and the retrain lands on the next tick
    assert(StreamingCuration.shouldRefreezeBounds(scrubbed, "event_type",
      frozen), "post-scrub history must fire the drift rule")
    val (fresh, fired) = StreamingCuration.refreezeBoundsIfNeeded(
      scrubbed, "event_type", frozen)
    assert(fired)
    // the retrain excludes the scrubbed rows: bit-identical to bounds
    // frozen on a history the user never entered
    val cf = Analytics.winsorizeBounds(scrubbed, "event_type")
      .orderBy(col("event_type")).collect().toSeq
    assert(fresh.select(col("event_type"), col("lo_v"), col("hi_v"))
      .orderBy(col("event_type")).collect().toSeq == cf,
      "post-scrub refreeze must equal the never-admitted freeze")
  }

  test("a tied/constant group reads calm under a freeze carrying its " +
    "realized clip rate — the theoretical quantile mass alone would " +
    "re-freeze such a group forever (r12 review)") {
    import graft.ops.Analytics
    // constant distribution: bounds collapse to [v, v], nothing clips —
    // the theoretical 10% mass NEVER realizes
    val ev = Seq.tabulate(50)(i => (i.toLong, "t", 1.0))
      .toDF("event_id", "event_type", "value")
    val plain = Analytics.winsorizeBounds(ev, "event_type")
      .localCheckpoint(true)
    assert(StreamingCuration.shouldRefreezeBounds(ev, "event_type", plain),
      "plain bounds anchored to the theoretical mass must fire (the " +
        "documented fallback behavior)")
    // the standing-table form stores the freeze-time REALIZED rate: calm
    val withExp = plain.join(
      Analytics.clipDrift(ev, "event_type", plain)
        .select(col("event_type"), col("clip_frac").as("expected_frac")),
      Seq("event_type"))
    assert(!StreamingCuration.shouldRefreezeBounds(ev, "event_type",
      withExp),
      "stored-expected bounds must read calm on the freezing history")
    // and empty history decides calm instead of NPE-crashing the tick
    assert(!StreamingCuration.shouldRefreezeBounds(
      ev.filter(col("event_id") < 0), "event_type", withExp))
  }

  test("streaming decontamination admits exactly the batch clean set") {
    val sf = "/root/testdata/sf0.001"
    // batch truth: train docs with zero 5-gram hits vs the src0 eval split
    val batchClean = graft.ext.Curation.decontaminate(spark, sf)
      .filter(!col("contaminated"))
      .select("doc_id").as[Long].collect().toSet

    val evalGrams = Ingest.table(spark, sf, "documents")
      .filter(col("source") === "src0")
      .select(explode(graft.ext.TextDedup.shingles(
        split(col("text"), " "), 5)).as("g"))
      .distinct()
    val input = MemoryStream[(Long, String, String)](23, spark, None)
    val stream = input.toDF().toDF("doc_id", "source", "text")
    val q = StreamingCuration.decontamStream(stream, evalGrams)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_decontam").start()
    try {
      val train = Ingest.table(spark, sf, "documents")
        .filter(col("source") =!= "src0")
        .select("doc_id", "source", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      input.addData(train.take(train.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(train.drop(train.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamKept = spark.table("graft_stream_decontam")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept == batchClean)
    } finally q.stop()
  }

  test("streaming semantic decontam admits exactly the batch clean set") {
    val sf = "/root/testdata/sf0.001"
    val batchClean = graft.ext.Curation.semanticDecontaminate(spark, sf)
      .filter(!col("contaminated"))
      .select("doc_id").as[Long].collect().toSet
    val srcs = Ingest.table(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val evalVecs = graft.ext.Similarity.embeddings(spark, sf)
      .filter(col("vec_id").isin(
        srcs.filter(_._2 == "src0").keys.toSeq: _*))
      .select(col("embedding").as("ee"),
        graft.ext.Similarity.norm(col("embedding")).as("en"))
    val input = MemoryStream[(Long, Seq[Float])](31, spark, None)
    val stream = input.toDF().toDF("doc_id", "embedding")
    val q = StreamingCuration.semanticDecontamStream(stream, evalVecs)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_semdecon").start()
    try {
      val train = graft.ext.Similarity.embeddings(spark, sf)
        .filter(col("vec_id").isin(
          srcs.filter(_._2 != "src0").keys.toSeq: _*))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      input.addData(train.take(train.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(train.drop(train.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamKept = spark.table("graft_stream_semdecon")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept.nonEmpty && streamKept == batchClean)
    } finally q.stop()
  }

  test("streaming gopher gate admits exactly the batch keep set") {
    val sf = "/root/testdata/sf0.001"
    val batchKeep = graft.ext.TextAnalysis.gopherRules(spark, sf)
      .filter(col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val input = MemoryStream[(Long, String, String)](29, spark, None)
    val stream = input.toDF().toDF("doc_id", "lang", "text")
    val q = StreamingCuration.gopherStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_gopher").start()
    try {
      val docs = Ingest.table(spark, sf, "documents")
        .select("doc_id", "lang", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      input.addData(docs.take(docs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(docs.drop(docs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamKept = spark.table("graft_stream_gopher")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept == batchKeep)
      // admitted rows keep their original shape
      assert(spark.table("graft_stream_gopher").columns.toSeq ==
        Seq("doc_id", "lang", "text"))
    } finally q.stop()
  }

  test("streaming char-mass repetition gate admits exactly the batch keep set") {
    val sf = "/root/testdata/sf0.001"
    val batchKeep = graft.ext.TextAnalysis.repetitionMass(spark, sf)
      .filter(col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val input = MemoryStream[(Long, String)](36, spark, None)
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingCuration.repetitionMassStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_repetition").start()
    try {
      val docs = Ingest.table(spark, sf, "documents")
        .select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(docs.take(docs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(docs.drop(docs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamKept = spark.table("graft_stream_repetition")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept == batchKeep)
      assert(spark.table("graft_stream_repetition").columns.toSeq ==
        Seq("doc_id", "text"))
    } finally q.stop()
  }

  test("streaming classifier scoring admits exactly the batch keep set") {
    val sf = "/root/testdata/sf0.001"
    // batch truth: docs the trained model scores target-like
    val batchKeep = graft.ext.Classifier.scoreAll(spark, sf)
      .filter(col("pred"))
      .select("doc_id").as[Long].collect().toSet
    val model = graft.ext.Classifier.modelFor(spark, sf)
    val input = MemoryStream[(Long, String)](28, spark, None)
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingCuration.classifyStream(stream, model)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_classify").start()
    try {
      val docs = Ingest.table(spark, sf, "documents")
        .select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(docs.take(docs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(docs.drop(docs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamKept = spark.table("graft_stream_classify")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept == batchKeep)
      assert(streamKept.nonEmpty && streamKept.size < docs.length)
    } finally q.stop()
  }

  test("streaming sample admits exactly the batch predicate's selection") {
    val sf = "/root/testdata/sf0.001"
    val rates = Seq("en" -> "4000", "zh" -> "2000")
    val docs = Ingest.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang"))
    val batchKept = docs.filter(Curation.samplePredicate(rates, "8000"))
      .select("doc_id").as[Long].collect().toSet

    val input = MemoryStream[(Long, String)](22, spark, None)
    val q = StreamingCuration.sampleStream(
        input.toDF().toDF("doc_id", "lang"), rates, "8000")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_sample").start()
    try {
      val all = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(all.take(all.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(all.drop(all.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamKept = spark.table("graft_stream_sample")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept == batchKept)
    } finally q.stop()
  }

  test("streaming split assignment matches the batch split exactly") {
    val sf = "/root/testdata/sf0.001"
    val batch = Curation.splitAssign(spark, sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap

    val input = MemoryStream[(Long, String)](24, spark, None)
    val q = StreamingCuration.splitStream(
        input.toDF().toDF("doc_id", "lang"))
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_split").start()
    try {
      val all = Ingest.table(spark, sf, "documents")
        .select(col("doc_id"), col("lang"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(all.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("graft_stream_split")
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming chunker emits exactly the batch chunk set") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.ext.TextAnalysis.chunkWindows(spark, sf)
      .select("doc_id", "chunk_no", "chunk_md5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    val input = MemoryStream[(Long, String)](25, spark, None)
    val q = StreamingCuration.chunkStream(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_chunks").start()
    try {
      val all = Ingest.table(spark, sf, "documents")
        .select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(all.take(all.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(all.drop(all.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("graft_stream_chunks")
        .select("doc_id", "chunk_no", "chunk_md5")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming corpus counters converge to the batch counts") {
    val sf = "/root/testdata/sf0.001"
    val batch = Ingest.table(spark, sf, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    val input = MemoryStream[(Long, String, String)](26, spark, None)
    val q = StreamingCuration.statsStream(
        input.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_stream_stats").start()
    try {
      val all = Ingest.table(spark, sf, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      input.addData(all.take(all.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(all.drop(all.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("graft_stream_stats")
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming scorecard counters converge to the batch scorecard " +
    "whatever the batch split") {
    import StreamingCuration.SrcCounts
    val docs = Ingest.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "lang", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq
    val expected = graft.ext.TextAnalysis
      .sourceScorecard(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_gopher_keep"),
        r.getAs[Double]("mean_quality"))).toMap

    val input = MemoryStream[(Long, String, String, String)](45, spark, None)
    val q = StreamingCuration.scorecardStream(
      input.toDF().toDF("doc_id", "lang", "text", "source"))
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_scorecard").start()
    try {
      new scala.util.Random(11).shuffle(docs).grouped(137).foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      }
      // counters are monotone: the standing row per source is the max
      val fin = spark.table("graft_stream_scorecard").as[SrcCounts]
        .collect().groupBy(_.source).map { case (s, rows) =>
          s -> rows.maxBy(_.n_docs)
        }
      assert(fin.keySet == expected.keySet)
      fin.foreach { case (s, c) =>
        val (nd, nt, nk, mq) = expected(s)
        assert(c.n_docs == nd && c.n_tokens == nt && c.n_gopher_keep == nk,
          s"source $s")
        assert(math.abs(c.q_micro.toDouble / 1e6 / c.n_docs - mq) < 1e-6,
          s"source $s quality")
      }
    } finally q.stop()
  }

  test("property (seeded): priorityTop equals the sort-dedupe-take " +
    "reference and merges associatively") {
    import StreamingCuration.DocPri
    val rng = new scala.util.Random(42)
    (1 to 20).foreach { trial =>
      val n = 5 + rng.nextInt(200)
      // duplicate ids on purpose (redelivery): same id -> same values
      val ids = Seq.fill(n)(rng.nextInt(60).toLong)
      val rows = ids.map { id =>
        val draw = (id * 2654435761L % 4294967296L) + 1L
        val w = id % 7 + 1L
        DocPri(id, w, draw, draw * 1048576L / w)
      }
      val cap = 1 + rng.nextInt(12)
      val ref = rows.distinct.sortBy(r => (r.pkey, r.doc_id)).take(cap)
      assert(StreamingCuration.priorityTop(rows.iterator, cap) == ref,
        s"trial $trial")
      // commutative merge: pre-reduced splits lose nothing
      val (a, b) = rows.splitAt(rng.nextInt(rows.length + 1))
      val merged = StreamingCuration.priorityTop(
        (StreamingCuration.priorityTop(a.iterator, cap) ++
          StreamingCuration.priorityTop(b.iterator, cap)).iterator, cap)
      assert(merged == ref, s"trial $trial split merge")
    }
  }

  test("streaming priority sample converges to the batch selection " +
    "regardless of arrival order, with cross-batch eviction") {
    import StreamingCuration.DocPri
    val k = 10
    val docs = Ingest.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the batch operator's admit set over the same corpus
    val expected = Curation.samplePriority(spark,
      "/root/testdata/sf0.001", k).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("pkey"))).toSeq

    def run(name: String, id: Int,
            order: Seq[(Long, String)]): Seq[DocPri] = {
      val input = MemoryStream[(Long, String)](id, spark, None)
      val q = StreamingCuration.prioritySampleStream(
        input.toDF().toDF("doc_id", "text"), k)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        order.grouped(order.length / 3 + 1).foreach { batch =>
          input.addData(batch)
          q.processAllAvailable()
        }
        // refresh stream: the standing sample is the top-k over every
        // emitted candidate (each emission was the then-current sample)
        StreamingCuration.priorityTop(
          spark.table(name).as[DocPri].collect().iterator, k)
      } finally q.stop()
    }

    val fwd = run("graft_stream_pri_fwd", 43, docs)
    val rev = run("graft_stream_pri_rev", 44,
      new scala.util.Random(7).shuffle(docs))
    assert(fwd == rev, "arrival order changed the sample")
    assert(fwd.map(r => (r.doc_id, r.pkey)) == expected,
      s"streaming sample diverged from batch: $fwd vs $expected")
  }

  test("orderGuardStats stays readable on a pre-r14 checkpoint with no " +
    "dup_dropped state: the column comes back null, the health guard " +
    "still evaluates (ADVICE r14)") {
    // a checkpoint written by the pre-r14 processors carries only the
    // three legacy state variables; the stats probe (and the serveHealth
    // guard overload riding it) must not throw on the missing one
    val input = MemoryStream[DocMeta](45, spark, None)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_legacy_guard_ckpt").toString
    val q = input.toDS().groupByKey(_.source)
      .transformWithState(new LegacyQuotaProcessor(10),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_stream_legacy_guard").start()
    try {
      input.addData(DocMeta(1, "a", "en"), DocMeta(2, "a", "en"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = StreamingCuration.orderGuardStats(spark, ckpt).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "a" && r.getLong(1) == 2L &&
      r.getLong(2) == 2L && r.getLong(3) == 0L, r.toString)
    assert(r.isNullAt(4), s"dup_dropped should be null, got $r")
    val health = graft.streaming.Metrics.serveHealth(spark,
      "/root/testdata/sf0.001",
      Seq(("legacy_guard", ckpt, "admitted")))
      .collect().map(row => row.getString(0) ->
        (row.getBoolean(1), row.getBoolean(2), row.getBoolean(3))).toMap
    assert(health("legacy_guard") == ((true, true, true)),
      s"guard row: ${health.get("legacy_guard")}")
  }
}

/** The r13-era quota processor: only the three legacy state variables,
  * no `dup_dropped` — exists solely so the spec can write a checkpoint
  * shaped like a pre-r14 deployment's.
  */
private class LegacyQuotaProcessor(n: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, DocMeta, DocMeta] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
  @transient private var admitted: ValueState[Long] = _
  @transient private var highWater: ValueState[Long] = _
  @transient private var oooDropped: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    admitted = getHandle.getValueState[Long]("admitted",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    highWater = getHandle.getValueState[Long]("high_watermark",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    oooDropped = getHandle.getValueState[Long]("ooo_dropped",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[DocMeta],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[DocMeta] = {
    var count = if (admitted.exists()) admitted.get() else 0L
    val hw0 = if (highWater.exists()) highWater.get() else Long.MinValue
    var ooo = if (oooDropped.exists()) oooDropped.get() else 0L
    var hw = hw0
    val out = scala.collection.mutable.ArrayBuffer[DocMeta]()
    rows.foreach { r =>
      if (r.doc_id <= hw0) ooo += 1
      else {
        if (r.doc_id > hw) hw = r.doc_id
        if (count < n) { out += r; count += 1 }
      }
    }
    admitted.update(count)
    highWater.update(hw)
    oooDropped.update(ooo)
    out.iterator
  }
}
