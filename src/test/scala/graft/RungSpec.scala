package graft

import org.apache.spark.sql.functions._

import graft.ext.{Rung, Similarity}

/** The standing compression-rung tables (VERDICT r13 #1/#2/#5/#7):
  * indexed/on-the-fly output identity for all three rungs, the
  * stage-1-reads-only-the-rung-table plan shape, admission idempotence,
  * catalog-loss reattach, file-growth compaction, the packed-int8
  * kernel's exactness, the packSigns input guard, the cascade funnel's
  * brute-force identity at corpus-covering pools, and the freshness /
  * health probes.
  */
class RungSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def purgeIdx(): Unit = Rung.purgeRungIndexes(spark, dir)

  test("binary/matryoshka/int8 indexed searches equal their on-the-fly " +
    "forms row-for-row — the standing table changes the plan, not the rows") {
    purgeIdx()
    try {
      assert(Rung.binaryIndexedTopK(spark, dir, 10, 5).collect().toSeq ==
        Similarity.binaryRescoreTopK(spark, dir, 10, 5).collect().toSeq)
      assert(Rung.matryoshkaIndexedTopK(spark, dir, 10, 5).collect().toSeq ==
        Similarity.matryoshkaRescoreTopK(spark, dir, 10, 5).collect().toSeq)
      assert(Rung.int8IndexedTopK(spark, dir, 10, 5).collect().toSeq ==
        Similarity.int8RescoreTopK(spark, dir, 10, 5).collect().toSeq)
    } finally purgeIdx()
  }

  test("stage 1 of each indexed search scans ONLY the rung table — the " +
    "embeddings parquet appears nowhere in the pool plan") {
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      val q = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .localCheckpoint(true)
      val pools = Seq(
        "bin" -> Rung.binaryPool(spark, dir, 10,
          q.select(col("qid"),
            Similarity.packSigns(col("qe"), 1, 32).as("qh1"),
            Similarity.packSigns(col("qe"), 33, 64).as("qh2")), 20),
        "mrl" -> Rung.matryoshkaPool(spark, dir, 10, 16,
          q.select(col("qid"), slice(col("qe"), 1, 16).as("qpe"))
            .withColumn("qpn", sqrt(graft.catalyst.HashExpressions
              .dotDouble(col("qpe"), col("qpe")))), 20),
        "i8" -> Rung.int8Pool(spark, dir, 10,
          q.select(col("qid"),
            graft.catalyst.HashExpressions.packInt8(
              expr("transform(qe, v -> CAST(0 AS DOUBLE))")).as("qq8"),
            lit(1.0).as("qscale"), lit(1.0).as("qn")), 20))
      pools.foreach { case (name, pool) =>
        pool.collect()
        val plan = pool.queryExecution.executedPlan.toString
        assert(plan.contains(s"graft_rung_${name}_"),
          s"$name pool does not scan its rung table\n$plan")
        assert(!plan.contains("embeddings.parquet"),
          s"$name stage-1 pool still scans the float embeddings table\n$plan")
        // the rank-limit pushdown (VERDICT r14 #2): the pool window must
        // run as partial top-k per partition + k-sized merge, never a
        // full-sort window over the whole rung scan
        val wgl = plan.split("\n").filter(_.contains("WindowGroupLimit"))
        assert(wgl.exists(_.contains("Partial")) &&
          wgl.exists(_.contains("Final")),
          s"$name pool window lacks the WindowGroupLimit pushdown\n$plan")
      }
    } finally purgeIdx()
  }

  test("cascade funnel equals exact brute force when every pool covers " +
    "the corpus, and its registered form is deterministic dense top-k") {
    purgeIdx()
    try {
      // 490 candidates at this SF; 10·10·10 = 1000-row pools pass all
      val wide = Rung.cascadeTopK(spark, dir, nQueries = 10, k = 10,
        rescoreInt8 = 10, rescoreBinary = 10).collect().toSeq
      val exact = Similarity.bruteForceTopK(spark, dir, nQueries = 10,
        k = 10).collect().toSeq
      assert(wide == exact)
      val a = Rung.cascadeTopK(spark, dir, 10, 5).collect().toSeq
      assert(a == Rung.cascadeTopK(spark, dir, 10, 5).collect().toSeq)
      val byQ = a.map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      assert(byQ.size == 10)
      byQ.values.foreach(rs =>
        assert(rs.map(_._2).sorted == (1L to 5L).toSeq))
    } finally purgeIdx()
  }

  test("cascadeSweep rows equal the cascade operator at each width: " +
    "n_hits is that width's cascadeTopK truth overlap — the one-pass " +
    "sweep changes the plan, not the frontier") {
    purgeIdx()
    try {
      val truth = Similarity.bruteForceTopK(spark, dir, 10, 3)
        .select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sweep = Rung.cascadeSweep(spark, dir, 10, 3).collect()
      assert(sweep.length == Rung.cascadeSweepWidths.length)
      sweep.foreach { row =>
        val (b, i) = (row.getInt(0), row.getInt(1))
        val got = Rung.cascadeTopK(spark, dir, 10, 3,
          rescoreInt8 = i, rescoreBinary = b)
          .select(col("qid"), col("cid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(row.getLong(4) == got.intersect(truth).size.toLong,
          s"width ($b,$i): sweep says ${row.getLong(4)}, operator " +
            s"overlap is ${got.intersect(truth).size}")
        assert(row.getLong(5) == truth.size.toLong)
        assert(row.getLong(2) == b.toLong * i * 3 &&
          row.getLong(3) == i.toLong * 3)
      }
    } finally purgeIdx()
  }

  test("external panels against the standing rung tables equal the " +
    "on-the-fly external forms at minCid = nQueries; the external int8 " +
    "funnel with a corpus-covering pool equals exact brute force") {
    purgeIdx()
    try {
      val panel = Similarity.externalQueryPanel(spark, dir, nPanel = 5)
      assert(Rung.binaryIndexedTopK(spark, dir, panel, 10, 3, 4)
        .collect().toSeq ==
        Similarity.binaryRescoreTopK(spark, dir, panel, 3, 4,
          minCid = 10L).collect().toSeq)
      assert(Rung.matryoshkaIndexedTopK(spark, dir, panel, 10, 3, 16, 4)
        .collect().toSeq ==
        Similarity.matryoshkaRescoreTopK(spark, dir, panel, 3, 16, 4,
          minCid = 10L).collect().toSeq)
      // int8 carries no on-the-fly external twin; a corpus-covering
      // pool makes the exact tail decide everything — equality with
      // brute force over the same indexed partition pins it
      assert(Rung.int8IndexedTopK(spark, dir, panel, 10, 10, 49)
        .collect().toSeq ==
        Similarity.bruteForceTopK(spark, dir, panel, 10, minCid = 10L)
          .collect().toSeq)
      // the external cascade at corpus-covering pools: both funnel
      // stages pass everything through, the exact tail decides
      assert(Rung.cascadeTopK(spark, dir, panel, 10, 10,
        rescoreInt8 = 49, rescoreBinary = 2).collect().toSeq ==
        Similarity.bruteForceTopK(spark, dir, panel, 10, minCid = 10L)
          .collect().toSeq)
    } finally purgeIdx()
  }

  test("property (seeded): random hostile external panels with " +
    "corpus-covering pools equal the exact scan through all three " +
    "standing rungs and the cascade") {
    // the r13 hostile-panel hardening (PqSpec/IvfIndexSpec pattern)
    // carried to the rung family: random panels with a duplicated
    // vector, random k, pools at or past the identity boundary
    import spark.implicits._
    val rnd = new scala.util.Random(20260815)
    val dim = Similarity.embeddings(spark, dir)
      .select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val cand = Similarity.embeddings(spark, dir)
      .filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        Similarity.norm(col("embedding")).as("cn"))
    val nCand = cand.count()
    purgeIdx()
    try {
      (1 to 2).foreach { trial =>
        val k = 1 + rnd.nextInt(4)
        val rf = (nCand / k + 1).toInt + rnd.nextInt(40)
        def vec(): Seq[Double] = Seq.fill(dim)(
          math.floor((rnd.nextDouble() * 2 - 1) * 1e6) / 1e6)
        val base = (0 until (3 + rnd.nextInt(4))).map(q => (q.toLong, vec()))
        val panel = (base :+ ((base.length.toLong, base.head._2)))
          .toDF("qid", "qe")
        val want = Similarity.bruteForceOf(
          Similarity.normQueries(panel), cand, k)
          .collect().toSeq.map(_.toSeq)
        Seq(
          "binary" -> Rung.binaryIndexedTopK(spark, dir, panel, 10, k, rf),
          "matryoshka" ->
            Rung.matryoshkaIndexedTopK(spark, dir, panel, 10, k, 16, rf),
          "int8" -> Rung.int8IndexedTopK(spark, dir, panel, 10, k, rf)
        ).foreach { case (name, df) =>
          val got = df.collect().toSeq.map(_.toSeq)
          assert(got.nonEmpty && got == want,
            s"trial $trial $name: k=$k rf=$rf")
        }
      }
    } finally purgeIdx()
  }

  test("the rescore fetch prunes to the pool's cids: a literal IN on " +
    "vec_id is pushed into the float scan (no full-table fetch at scale)") {
    purgeIdx()
    try {
      val df = Rung.binaryIndexedTopK(spark, dir, 10, 3)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val scans = plan.split("\n").filter(l =>
        l.contains("PushedFilters") && l.contains("vec_id"))
      assert(scans.exists(_.matches(".*PushedFilters:.*In\\(vec_id.*")),
        s"rescore scan carries no pushed IN on vec_id\n$plan")
    } finally purgeIdx()
  }

  test("the cascade's int8 mid-stage fetch prunes to the binary pool's " +
    "cids: a literal IN is pushed into the standing int8-table scan " +
    "(the funnel never re-reads the full 64 B table)") {
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureInt8Index(spark, dir, 10)
      val q = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          Similarity.packSigns(col("embedding"), 1, 32).as("qh1"),
          Similarity.packSigns(col("embedding"), 33, 64).as("qh2"))
      val pool1 = Rung.binaryPool(spark, dir, 10, q, 24)
      val q8 = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          graft.catalyst.HashExpressions.packInt8(
            expr("transform(embedding, v -> CAST(0 AS DOUBLE))")).as("qq8"),
          lit(1.0).as("qscale"), lit(1.0).as("qn"))
      val stage2 = Rung.cascadeStage2(spark, dir, pool1, q8, 10, 12)
      stage2.collect()
      val plan = stage2.queryExecution.executedPlan.toString
      assert(plan.contains("graft_rung_i8_"),
        s"stage 2 does not scan the standing int8 table\n$plan")
      val scans = plan.split("\n").filter(l =>
        l.contains("PushedFilters") && l.contains("graft_rung_i8") ||
          l.contains("PushedFilters") && l.contains("In(cid"))
      assert(scans.exists(_.matches(".*PushedFilters:.*In\\(cid.*")),
        s"int8 mid-stage scan carries no pushed IN on cid\n$plan")
    } finally purgeIdx()
  }

  test("an in-batch duplicate vec_id admits ONCE into every rung table " +
    "— admission is a set operation per batch (ADVICE r14)") {
    import spark.implicits._
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      val binT = Rung.binTable(dir, Rung.binKey(10))
      val n0 = spark.table(binT).count()
      val q0 = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      // the same vector redelivered twice WITHIN one micro-batch
      val batch = Seq((940000L, q0), (940000L, q0)).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
      Rung.appendToRungIndexes(spark, dir, batch, 10)
      Seq(binT, Rung.mrlTable(dir, Rung.mrlKey(10, 16)),
        Rung.i8Table(dir, Rung.i8Key(10))).foreach { t =>
        assert(spark.table(t).count() == n0 + 1, t)
        assert(spark.table(t).filter(col("cid") === 940000L).count() == 1L,
          s"$t: in-batch duplicate appended twice")
      }
    } finally purgeIdx()
  }

  test("packed int8 payload scores bit-identically to the unpacked " +
    "array form across the whole corpus") {
    import graft.catalyst.HashExpressions
    val emb = Similarity.embeddings(spark, dir)
      .withColumn("scale",
        array_max(transform(col("embedding"), v => abs(v.cast("double")))))
      .withColumn("qi", transform(col("embedding"), v =>
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(floor(v.cast("double") * 127.0 / col("scale") + 0.5))))
    val mismatches = emb
      .select(col("vec_id"),
        HashExpressions.dotDouble(col("qi"), col("qi")).as("arr"),
        HashExpressions.dotInt8(HashExpressions.packInt8(col("qi")),
          HashExpressions.packInt8(col("qi"))).as("packed"))
      .filter(col("arr") =!= col("packed"))
      .count()
    assert(mismatches == 0L)
  }

  test("packInt8 rejects non-byte values; packSigns rejects vectors " +
    "shorter than the packed width (no silent 0 sign bits)") {
    import spark.implicits._
    import graft.catalyst.HashExpressions
    def deepMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val bad = intercept[Exception] {
      Seq(Seq(300.0)).toDF("v")
        .select(HashExpressions.packInt8(col("v"))).collect()
    }
    assert(deepMsg(bad).contains("graft_pack_int8"), deepMsg(bad))
    val short = intercept[Exception] {
      Seq((1L, Seq.fill(16)(1.0f))).toDF("vec_id", "embedding")
        .select(Similarity.packSigns(col("embedding"), 1, 32)).collect()
    }
    assert(deepMsg(short).contains("packSigns"), deepMsg(short))
  }

  test("admitted vectors land in all three rung tables and surface in " +
    "the Hamming pool; a replayed admission is a no-op") {
    import spark.implicits._
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      val binT = Rung.binTable(dir, Rung.binKey(10))
      val n0 = spark.table(binT).count()
      val q0 = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      val newId = 910000L
      val batch = Seq((newId, q0)).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
      Rung.appendToRungIndexes(spark, dir, batch, 10)
      Seq(binT, Rung.mrlTable(dir, Rung.mrlKey(10, 16)),
        Rung.i8Table(dir, Rung.i8Key(10))).foreach { t =>
        assert(spark.table(t).count() == n0 + 1, t)
      }
      Rung.appendToRungIndexes(spark, dir, batch, 10) // replay
      assert(spark.table(binT).count() == n0 + 1)
      // a clone of q0's vector has Hamming distance 0 to q0 — it must
      // top q0's stage-1 pool out of the standing table
      val pool = Rung.binaryIndexedTopK(spark, dir, 10, k = 3,
        rescoreFactor = 4)
      pool.collect() // admitted id is absent from the RAW store, so it
      // drops at rescore (the documented raw-store split); assert the
      // stage-1 surface directly instead
      val q = Similarity.embeddings(spark, dir).filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          Similarity.packSigns(col("embedding"), 1, 32).as("qh1"),
          Similarity.packSigns(col("embedding"), 33, 64).as("qh2"))
      val stage1 = Rung.binaryPool(spark, dir, 10, q, 12)
        .filter(col("qid") === 0L).collect().map(_.getLong(1))
      assert(stage1.contains(newId),
        s"admitted vector missing from q0's Hamming pool: ${stage1.toSeq}")
    } finally purgeIdx()
  }

  test("streamed query vectors search the standing binary rung table " +
    "through the generic scan-search stream and emit the batch result") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      val panel = Similarity.externalQueryPanel(spark, dir, nPanel = 3)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val expected = Rung.binaryIndexedTopK(spark, dir,
        Similarity.externalQueryPanel(spark, dir, nPanel = 3),
        10, 3, 4).collect().toSeq
      val ckpt = Files.createTempDirectory("graft_rung_search_ckpt").toString
      val input = MemoryStream[(Long, Seq[Double])](99, spark, None)
      val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      val sq = graft.streaming.Pipeline.startScanSearchStream(
        input.toDF().toDF("qid", "qe"), ckpt)(
        batch => Rung.binaryIndexedTopK(spark, dir, batch, 10, 3, 4))(
        res => got.synchronized { got ++= res.collect() })
      try {
        input.addData(panel.toSeq: _*)
        sq.processAllAvailable()
        assert(got.toSeq == expected,
          s"stream result diverges from batch:\n${got.toSeq}\nvs\n$expected")
      } finally sq.stop()
    } finally purgeIdx()
  }

  test("composed ingest lands raw + rung rows in one body: the indexed " +
    "search returns the stream-admitted vector THROUGH the exact rescore " +
    "with no manual raw append; replay is a no-op in both stores; " +
    "compaction retains it (VERDICT r14 next #4)") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // a directory-backed copy of the corpus — the single-file testdata
    // snapshot is read-only, which appendToEmbeddings rejects loudly
    val tmp = Files.createTempDirectory("graft_ingest_corpus").toString
    Similarity.embeddings(spark, dir)
      .write.parquet(s"$tmp/embeddings.parquet")
    try {
      val bad = intercept[IllegalArgumentException] {
        Similarity.appendToEmbeddings(spark, dir,
          Seq((1L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding"))
      }
      assert(bad.getMessage.contains("single parquet FILE"))
      val q0 = Similarity.embeddings(spark, tmp)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
      val input = MemoryStream[(Long, Seq[Float])](96, spark, None)
      val sq = graft.streaming.Pipeline.startEmbeddingIngest(
        spark, tmp, input.toDF().toDF("vec_id", "embedding"), ckpt,
        nQueries = 10)
      try {
        input.addData((950000L, q0))
        sq.processAllAvailable()
      } finally sq.stop()
      // the clone of q0's vector wins q0's top-1 through the EXACT
      // stage-2 rescore — its raw row landed in the same batch body
      val top = Rung.binaryIndexedTopK(spark, tmp, 10, 3)
        .filter(col("qid") === 0L && col("rank") === 1L).collect().head
      assert(top.getLong(1) == 950000L,
        s"admitted vector not surfaced through exact rescore: $top")
      assert(top.getDouble(3) > 0.999998, top.toString)
      // replay: re-running the batch body is a no-op in BOTH stores
      val nRaw = spark.read.parquet(s"$tmp/embeddings.parquet").count()
      val binT = Rung.binTable(tmp, Rung.binKey(10))
      val nBin = spark.table(binT).count()
      val replay = Seq((950000L, q0)).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
      Similarity.appendToEmbeddings(spark, tmp, replay)
      Rung.appendToRungIndexes(spark, tmp, replay, 10)
      assert(spark.read.parquet(s"$tmp/embeddings.parquet").count() == nRaw)
      assert(spark.table(binT).count() == nBin)
      // compaction rebuilds from the raw store — the admitted vector
      // SURVIVES (pre-ingest, admitted-only derived rows were dropped)
      assert(Rung.compactRungIndexesIfNeeded(spark, tmp, 10, maxFiles = 1))
      assert(spark.table(binT).filter(col("cid") === 950000L).count() == 1L)
    } finally Rung.purgeRungIndexes(spark, tmp)
  }

  test("crash between the three per-table appends replays safely: the " +
    "already-written table anti-joins the batch to a no-op, the others " +
    "catch up — no duplicates, no gaps") {
    import spark.implicits._
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      val binT = Rung.binTable(dir, Rung.binKey(10))
      val mrlT = Rung.mrlTable(dir, Rung.mrlKey(10, 16))
      val i8T = Rung.i8Table(dir, Rung.i8Key(10))
      val n0 = spark.table(binT).count()
      val q0 = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      val batch = Seq((930000L, q0)).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
      // simulate the crash window: ONLY the binary append landed
      // (appendToRungIndexes writes bin first — reproduce its frame)
      Rung.binFrame(batch.select(col("vec_id").as("cid"), col("embedding")))
        .write.mode("append").bucketBy(8, "cid").sortBy("cid")
        .saveAsTable(binT)
      spark.catalog.refreshTable(binT)
      assert(spark.table(binT).count() == n0 + 1)
      assert(spark.table(mrlT).count() == n0)
      // the foreachBatch replay re-runs the whole admission
      Rung.appendToRungIndexes(spark, dir, batch, 10)
      Seq(binT, mrlT, i8T).foreach { t =>
        assert(spark.table(t).count() == n0 + 1, t)
        assert(spark.table(t).filter(col("cid") === 930000L).count() == 1L,
          s"$t: admitted row duplicated or missing after replay")
      }
    } finally purgeIdx()
  }

  test("rungConsistency reads true on ensured tables, flags the drift an " +
    "unreplayed crash window leaves, and clears when the replay lands " +
    "(VERDICT r14 #5)") {
    import spark.implicits._
    purgeIdx()
    try {
      val nCand = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") >= 10).count()
      val ok = Rung.rungConsistency(spark, dir, 10).collect().head
      assert(ok.getLong(0) == nCand && ok.getLong(3) == nCand &&
        ok.getLong(4) == 1L && ok.getBoolean(5), ok.toString)
      // simulate the unreplayed crash window: only the binary append
      val q0 = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      val batch = Seq((960000L, q0)).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
      val binT = Rung.binTable(dir, Rung.binKey(10))
      Rung.binFrame(batch.select(col("vec_id").as("cid"), col("embedding")))
        .write.mode("append").bucketBy(8, "cid").sortBy("cid")
        .saveAsTable(binT)
      spark.catalog.refreshTable(binT)
      val drifted = Rung.rungConsistency(spark, dir, 10).collect().head
      assert(!drifted.getBoolean(5), drifted.toString)
      assert(drifted.getLong(0) == nCand + 1 &&
        drifted.getLong(3) == nCand, drifted.toString)
      // the foreachBatch replay converges all three; the probe clears
      Rung.appendToRungIndexes(spark, dir, batch, 10)
      val healed = Rung.rungConsistency(spark, dir, 10).collect().head
      assert(healed.getBoolean(5) && healed.getLong(3) == nCand + 1,
        healed.toString)
    } finally purgeIdx()
  }

  test("indexCoverage: complete on a fresh build, flags EVERY per-vector " +
    "index when a raw row lands without its index rows, and the rebuild " +
    "restores complete (round 15)") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.ext.{Pq, Similarity => Sim}
    val tmp = Files.createTempDirectory("graft_cov_corpus").toString
    Sim.embeddings(spark, dir).write.parquet(s"$tmp/embeddings.parquet")
    def purgeAll(): Unit = {
      Sim.purgeIvfIndex(spark, tmp)
      Pq.purgePqIndex(spark, tmp)
      Pq.purgeIvfPqIndex(spark, tmp)
      Rung.purgeRungIndexes(spark, tmp)
    }
    purgeAll()
    try {
      val fresh = graft.streaming.Metrics.indexCoverage(spark, tmp)
        .collect()
      assert(fresh.length == 6)
      fresh.foreach(r => assert(r.getBoolean(3), r.toString))
      val nCand = fresh.head.getLong(2)
      // the backlog scenario: a raw row lands with NO index append
      val q0 = Sim.embeddings(spark, tmp)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      Sim.appendToEmbeddings(spark, tmp,
        Seq((990000L, q0)).toDF("vec_id", "embedding")
          .select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")))
      val behind = graft.streaming.Metrics.indexCoverage(spark, tmp)
        .collect()
      behind.foreach { r =>
        assert(!r.getBoolean(3), r.toString)
        assert(r.getLong(2) == nCand + 1 && r.getLong(1) == nCand,
          r.toString)
      }
      // purge + re-probe: the ensure-first contract rebuilds from the
      // raw store, so every surface reads complete again
      purgeAll()
      graft.streaming.Metrics.indexCoverage(spark, tmp).collect()
        .foreach(r => assert(r.getBoolean(3), r.toString))
    } finally purgeAll()
  }

  test("repairRungIndexesIfNeeded: calm on consistent tables, rebuilds " +
    "on a doctored crash-window drift, and the probe reads healed after") {
    import spark.implicits._
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      assert(!Rung.repairRungIndexesIfNeeded(spark, dir, 10))
      // the unreplayed crash window: a row only the binary table has
      val q0 = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      val binT = Rung.binTable(dir, Rung.binKey(10))
      val n0 = spark.table(binT).count()
      Rung.binFrame(Seq((980000L, q0)).toDF("vec_id", "embedding")
          .select(col("vec_id").as("cid"),
            col("embedding").cast("array<float>").as("embedding")))
        .write.mode("append").bucketBy(8, "cid").sortBy("cid")
        .saveAsTable(binT)
      spark.catalog.refreshTable(binT)
      assert(Rung.repairRungIndexesIfNeeded(spark, dir, 10))
      // healed: rebuilt from the raw store, so the orphan row is gone
      // and the probe reads consistent again
      assert(spark.table(binT).count() == n0)
      val after = Rung.rungConsistency(spark, dir, 10).collect().head
      assert(after.getBoolean(5), after.toString)
      assert(!Rung.repairRungIndexesIfNeeded(spark, dir, 10))
    } finally purgeIdx()
  }

  test("composed ingest: a same-batch vec_id collision with DIFFERENT " +
    "payloads keeps ONE survivor whose raw row and derived rung payload " +
    "AGREE (review r15)") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_ingest_dup").toString
    Similarity.embeddings(spark, dir)
      .write.parquet(s"$tmp/embeddings.parquet")
    try {
      val e1 = Similarity.embeddings(spark, tmp)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      val e2 = Similarity.embeddings(spark, tmp)
        .filter(col("vec_id") === 1L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      val ckpt = Files.createTempDirectory("graft_ingest_dup_ck").toString
      val input = MemoryStream[(Long, Seq[Float])](94, spark, None)
      val sq = graft.streaming.Pipeline.startEmbeddingIngest(
        spark, tmp, input.toDF().toDF("vec_id", "embedding"), ckpt,
        nQueries = 10)
      try {
        // the pathological batch: one vec_id, two DIFFERENT payloads
        input.addData((952000L, e1), (952000L, e2))
        sq.processAllAvailable()
      } finally sq.stop()
      // exactly one survivor in the raw store and the rung table
      val rawRows = spark.read.parquet(s"$tmp/embeddings.parquet")
        .filter(col("vec_id") === 952000L).collect()
      assert(rawRows.length == 1)
      assert(spark.table(Rung.binTable(tmp, Rung.binKey(10)))
        .filter(col("cid") === 952000L).count() == 1L)
      // raw and derived AGREE: the rung row equals the frame builder
      // applied to whichever raw payload survived
      val survived = rawRows.head.getSeq[Float](
        rawRows.head.fieldIndex("embedding"))
      val want = Rung.binFrame(Seq((952000L, survived))
          .toDF("cid", "embedding")
          .select(col("cid"),
            col("embedding").cast("array<float>").as("embedding")))
        .collect().head
      val got = spark.table(Rung.binTable(tmp, Rung.binKey(10)))
        .filter(col("cid") === 952000L).collect().head
      assert(got.getLong(1) == want.getLong(1) &&
        got.getLong(2) == want.getLong(2),
        s"raw survivor and rung payload diverge: $got vs $want")
    } finally Rung.purgeRungIndexes(spark, tmp)
  }

  test("composed ingest survives a checkpoint restart: cross-restart " +
    "redelivery lands exactly once in the raw store AND every rung " +
    "table, and the consistency probe reads clean") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_ingest_restart").toString
    Similarity.embeddings(spark, dir)
      .write.parquet(s"$tmp/embeddings.parquet")
    try {
      val q0 = Similarity.embeddings(spark, tmp)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      val ckpt = Files.createTempDirectory("graft_ingest_restart_ck").toString
      val input = MemoryStream[(Long, Seq[Float])](95, spark, None)
      def start() = graft.streaming.Pipeline.startEmbeddingIngest(
        spark, tmp, input.toDF().toDF("vec_id", "embedding"), ckpt,
        nQueries = 10)
      val nRaw0 = spark.read.parquet(s"$tmp/embeddings.parquet").count()
      val q1 = start()
      try {
        input.addData((951000L, q0))
        q1.processAllAvailable()
      } finally q1.stop()
      // restart from the same checkpoint; the first vector is
      // REDELIVERED across the restart alongside a new one
      input.addData((951000L, q0), (951001L, q0))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      assert(spark.read.parquet(s"$tmp/embeddings.parquet")
        .count() == nRaw0 + 2)
      Seq(951000L, 951001L).foreach { id =>
        assert(spark.read.parquet(s"$tmp/embeddings.parquet")
          .filter(col("vec_id") === id).count() == 1L, s"raw $id")
        assert(spark.table(Rung.binTable(tmp, Rung.binKey(10)))
          .filter(col("cid") === id).count() == 1L, s"rung $id")
      }
      val probe = Rung.rungConsistency(spark, tmp, 10).collect().head
      assert(probe.getBoolean(5), probe.toString)
    } finally Rung.purgeRungIndexes(spark, tmp)
  }

  test("repair fails LOUDLY when the inconsistency originates in the RAW " +
    "store: the rebuild reproduces it, so a silent success would thrash " +
    "a full rebuild every maintenance tick (review r15)") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_badraw_corpus").toString
    Similarity.embeddings(spark, dir)
      .write.parquet(s"$tmp/embeddings.parquet")
    // a bad backfill: one candidate's raw row duplicated in the store
    Similarity.embeddings(spark, dir).filter(col("vec_id") === 20L)
      .write.mode("append").parquet(s"$tmp/embeddings.parquet")
    try {
      Rung.ensureBinaryIndex(spark, tmp, 10)
      Rung.ensureMatryoshkaIndex(spark, tmp, 10, 16)
      Rung.ensureInt8Index(spark, tmp, 10)
      // the build faithfully mirrors the store: already inconsistent
      val probe = Rung.rungConsistency(spark, tmp, 10).collect().head
      assert(!probe.getBoolean(5) && probe.getLong(4) == 2L,
        probe.toString)
      val e = intercept[IllegalArgumentException] {
        Rung.repairRungIndexesIfNeeded(spark, tmp, 10)
      }
      assert(e.getMessage.contains("raw"), e.getMessage)
    } finally Rung.purgeRungIndexes(spark, tmp)
  }

  test("catalog loss reattaches the surviving rung tables; results " +
    "unchanged and nothing rebuilds") {
    purgeIdx()
    try {
      val before = Rung.binaryIndexedTopK(spark, dir, 10, 5).collect().toSeq
      val binT = Rung.binTable(dir, Rung.binKey(10))
      val n0 = spark.table(binT).count()
      spark.sql(s"DROP TABLE $binT")
      val after = Rung.binaryIndexedTopK(spark, dir, 10, 5).collect().toSeq
      assert(after == before)
      assert(spark.table(binT).count() == n0)
    } finally purgeIdx()
  }

  test("file-growth compaction: appends past the threshold trigger the " +
    "purge+rebuild and drop the admitted-only rows") {
    import spark.implicits._
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      val q0 = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") === 0L).select(col("embedding"))
        .collect().head.getSeq[Float](0)
      (0 until 3).foreach { i =>
        Rung.appendToRungIndexes(spark, dir,
          Seq((920000L + i, q0)).toDF("vec_id", "embedding")
            .select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding")), 10)
      }
      val binT = Rung.binTable(dir, Rung.binKey(10))
      val grown = spark.table(binT).count()
      assert(!Rung.compactRungIndexesIfNeeded(spark, dir, 10,
        maxFiles = 10000))
      assert(spark.table(binT).count() == grown)
      assert(Rung.compactRungIndexesIfNeeded(spark, dir, 10, maxFiles = 1))
      assert(spark.table(binT).count() == grown - 3)
    } finally purgeIdx()
  }

  test("rung freshness probes one committed mtime per table; serve_health " +
    "reports every standing surface present, populated, and healthy") {
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      val asOf = System.currentTimeMillis()
      val rows = Seq(Rung.binTable(dir, Rung.binKey(10)),
          Rung.mrlTable(dir, Rung.mrlKey(10, 16)),
          Rung.i8Table(dir, Rung.i8Key(10)))
        .flatMap(graft.streaming.Metrics.searchFreshness(spark, _, asOf)
          .collect())
      assert(rows.length == 3)
      rows.foreach { r =>
        assert(r.getLong(1) > 0)
        assert(r.getLong(2) >= 0, r.toString)
      }
      val health = graft.streaming.Metrics.serveHealth(spark, dir)
        .collect()
      assert(health.length == 9)
      health.foreach { r =>
        assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3),
          r.toString)
      }
    } finally purgeIdx()
  }
}
