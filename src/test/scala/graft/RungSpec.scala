package graft

import org.apache.spark.sql.functions._

import graft.ext.{Rung, Similarity}

/** The standing compression-rung tables (VERDICT r13 #1/#2/#5/#7):
  * indexed/on-the-fly output identity for all three rungs, the
  * stage-1-reads-only-the-rung-table plan shape, the pruned pool
  * fetches, catalog-loss reattach, the packed-int8 kernel's exactness,
  * the packSigns input guard, the cascade funnel's brute-force identity
  * at corpus-covering pools, and the consistency / coverage /
  * freshness / health probes.
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
      // an out-of-band write: a row only the binary table holds
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
      // the tables are derived state: the replay is purge + ensure,
      // which re-derives all three from the raw store and drops the
      // orphan row
      purgeIdx()
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      val healed = Rung.rungConsistency(spark, dir, 10).collect().head
      assert(healed.getBoolean(5) && healed.getLong(3) == nCand,
        healed.toString)
    } finally purgeIdx()
  }

  test("rungConsistency reads inconsistent when the raw store holds a " +
    "candidate vec_id twice: the build mirrors the store") {
    import java.nio.file.Files
    // a bad backfill: one candidate's raw row duplicated in the store
    val tmp = Files.createTempDirectory("graft_badraw_corpus").toString
    Similarity.embeddings(spark, dir)
      .write.parquet(s"$tmp/embeddings.parquet")
    Similarity.embeddings(spark, dir).filter(col("vec_id") === 20L)
      .write.mode("append").parquet(s"$tmp/embeddings.parquet")
    try {
      val probe = Rung.rungConsistency(spark, tmp, 10).collect().head
      assert(!probe.getBoolean(5) && probe.getLong(4) == 2L,
        probe.toString)
    } finally Rung.purgeRungIndexes(spark, tmp)
  }

  test("indexCoverage: complete on a fresh build, flags EVERY per-vector " +
    "index when a raw row lands without its index rows, and the rebuild " +
    "restores complete (round 15)") {
    import java.nio.file.Files
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
      // the backlog scenario: a raw row lands with NO index rows (a
      // copy of vec 0 under a new id, materialized before the append)
      Sim.embeddings(spark, tmp).filter(col("vec_id") === 0L)
        .withColumn("vec_id", lit(990000L)).localCheckpoint(true)
        .write.mode("append").parquet(s"$tmp/embeddings.parquet")
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

  test("rung freshness probes one committed mtime per table; serve_health " +
    "reports every standing surface present, populated, and healthy") {
    purgeIdx()
    try {
      Rung.ensureBinaryIndex(spark, dir, 10)
      Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
      Rung.ensureInt8Index(spark, dir, 10)
      val asOf = System.currentTimeMillis()
      var rows = Seq.empty[org.apache.spark.sql.Row]
      val starts = processStarts {
        rows = Seq(Rung.binTable(dir, Rung.binKey(10)),
            Rung.mrlTable(dir, Rung.mrlKey(10, 16)),
            Rung.i8Table(dir, Rung.i8Key(10)))
          .flatMap(graft.streaming.Metrics.searchFreshness(spark, _, asOf)
            .collect())
      }
      assert(rows.length == 3)
      // the probe walks with listStatus: no LocatedFileStatus forks
      val viaLocated = starts.filter(e =>
        frames(e).exists(_.contains("LocatedFileStatus")))
      assert(viaLocated.isEmpty, s"${viaLocated.size} of ${starts.size} " +
        "process starts came from a LocatedFileStatus")
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
