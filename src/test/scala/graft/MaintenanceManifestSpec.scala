package graft

import graft.ext.{IndexCatalog, Pq, Rung, Similarity, TextDedup}
import graft.ops.Analytics
import graft.tools.Maintenance

/** The maintenance loop's whole-set manifest validation (VERDICT r10
  * #6): a configured-but-absent index must throw BEFORE any pass runs,
  * and a standing index on disk that the configured env set does not
  * cover must surface as a warning — the failure the per-pass guards
  * cannot see.
  */
class MaintenanceManifestSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private val boundsTable =
    Analytics.boundsTable(dir, "event_type", 0.05, 0.95)

  private def ensureRung(): Unit = {
    Rung.ensureBinaryIndex(spark, dir, 10)
    Rung.ensureMatryoshkaIndex(spark, dir, 10, 16)
    Rung.ensureInt8Index(spark, dir, 10)
  }

  private val rungTables = Seq(Rung.binTable(dir, Rung.binKey(10)),
    Rung.mrlTable(dir, Rung.mrlKey(10, 16)),
    Rung.i8Table(dir, Rung.i8Key(10)))

  test("configured-but-absent indexes throw up front; a built index " +
    "with the configured shape passes clean") {
    Analytics.purgeBoundsIndex(spark, dir)
    try {
      // configured winsor dir, nothing built: fail fast before any pass
      val e = intercept[IllegalArgumentException] {
        Maintenance.manifestReport(spark, winsorDir = Some(dir))
      }
      assert(e.getMessage.contains("SPARK_GRAFT_WINSOR_DIR"))
      Analytics.ensureBoundsIndex(spark, dir)
      // right shape: no throw, and the bounds table is covered (no
      // warning about it)
      val warns = Maintenance.manifestReport(spark, winsorDir = Some(dir))
      assert(!warns.exists(_.contains(boundsTable)), warns.mkString("\n"))
      // wrong shape (group mismatch): the guard catches it up front
      val e2 = intercept[IllegalArgumentException] {
        Maintenance.manifestReport(spark, winsorDir = Some(dir),
          winsorGroup = "user_id")
      }
      assert(e2.getMessage.contains("group=user_id"))
    } finally Analytics.purgeBoundsIndex(spark, dir)
  }

  test("an on-disk maintainable index absent from the configured set " +
    "warns; covering it or purging it clears the warning") {
    Analytics.purgeBoundsIndex(spark, dir)
    Analytics.ensureBoundsIndex(spark, dir)
    try {
      // not configured at all: the bounds table warns
      val warns = Maintenance.manifestReport(spark)
      assert(warns.exists(_.contains(boundsTable)), warns.mkString("\n"))
      // configured: covered, silent for this index
      val covered = Maintenance.manifestReport(spark, winsorDir = Some(dir))
      assert(!covered.exists(_.contains(boundsTable)), covered.mkString("\n"))
      // the inventory itself reports the family
      val inv = IndexCatalog.listIndexDirs(spark)
      assert(inv.contains(("winsor", boundsTable)), inv.mkString(", "))
      // purged: nothing left on disk to warn about
      Analytics.purgeBoundsIndex(spark, dir)
      val purged = Maintenance.manifestReport(spark)
      assert(!purged.exists(_.contains(boundsTable)), purged.mkString("\n"))
    } finally Analytics.purgeBoundsIndex(spark, dir)
  }

  test("winsor bounds freeze: configured-but-absent fails fast, a fresh " +
    "freeze reads calm, a doctored freeze fires the re-freeze and " +
    "rebuilds calm") {
    import org.apache.spark.sql.functions._
    Analytics.purgeBoundsIndex(spark, dir)
    try {
      intercept[IllegalArgumentException] {
        Maintenance.manifestReport(spark, winsorDir = Some(dir))
      }
      intercept[IllegalArgumentException] {
        Analytics.refreezeBoundsIndexIfNeeded(spark, dir)
      }
      Analytics.ensureBoundsIndex(spark, dir)
      // covered: silent; unconfigured: the on-disk freeze warns
      assert(!Maintenance.manifestReport(spark, winsorDir = Some(dir))
        .exists(_.contains("graft_winsor_bounds_")))
      assert(Maintenance.manifestReport(spark)
        .exists(_.contains("graft_winsor_bounds_")))
      // frozen on the current history: calm
      assert(!Analytics.refreezeBoundsIndexIfNeeded(spark, dir))
      // doctor the standing freeze with bounds from a shifted history —
      // the realized clip rate on the REAL events now reads ~0
      Analytics.purgeBoundsIndex(spark, dir)
      val t = Analytics.boundsTable(dir, "event_type", 0.05, 0.95)
      Analytics.winsorizeBounds(
        graft.ops.Ingest.events(spark, dir)
          .withColumn("value", col("value") + lit(1e6)), "event_type")
        .write.mode("overwrite")
        .bucketBy(8, "event_type").sortBy("event_type")
        .option("path",
          graft.ext.IndexCatalog.tableLocation(spark, t).toString)
        .saveAsTable(t)
      assert(Analytics.refreezeBoundsIndexIfNeeded(spark, dir),
        "doctored freeze must fire the drift rule")
      assert(!Analytics.refreezeBoundsIndexIfNeeded(spark, dir),
        "rebuilt freeze must read calm on the real history")
    } finally Analytics.purgeBoundsIndex(spark, dir)
  }

  test("dedup band/shingle indexes are listed for visibility but never " +
    "warned — no scheduled pass exists for them") {
    // the other build-once families (gram, IVF, PQ, rung) alike
    def purgeAll(): Unit = {
      TextDedup.purgeDedupIndex(spark, dir)
      TextDedup.purgeSubstringIndex(spark, dir)
      Similarity.purgeIvfIndex(spark, dir)
      Pq.purgePqIndex(spark, dir, nQueries = 10)
      Rung.purgeRungIndexes(spark, dir, 10, 16)
    }
    purgeAll()
    TextDedup.ensureDedupIndex(spark, dir)
    TextDedup.ensureSubstringIndex(spark, dir)
    Similarity.ensureIvfIndex(spark, dir, nQueries = 10, nCentroids = 16)
    Pq.ensurePqIndex(spark, dir, nQueries = 10)
    ensureRung()
    try {
      val inv = IndexCatalog.listIndexDirs(spark)
      assert(inv.exists { case (f, n) =>
        f == "dedup" && n.startsWith("graft_dedup_bands_") },
        inv.mkString(", "))
      val cap = Similarity.defaultIvfSampleCap
      val built = Seq(
        "grams" -> TextDedup.gramsTable(dir, 5),
        "ivf" -> Similarity.ivfCellsTable(dir,
          Similarity.ivfKey(10, 16, 2, 3, cap)),
        "pq" -> Pq.pqCodesTable(dir, Pq.pqKey(10, 8, 16, 2, 3, cap))) ++
        rungTables.map("rung" -> _)
      built.foreach(fn => assert(inv.contains(fn), inv.mkString(", ")))
      val warns = Maintenance.manifestReport(spark)
      assert(!warns.exists(_.contains("graft_dedup_")),
        warns.mkString("\n"))
      Seq("graft_substr_grams_", "graft_ivf_", "graft_pq_",
        "graft_rung_").foreach { p =>
        assert(!warns.exists(_.contains(p)), warns.mkString("\n"))
      }
    } finally purgeAll()
  }

  test("an on-disk tombstone log warns when no forget dir is configured " +
    "(deletions accumulating with no apply pass IS drift); configuring " +
    "it covers, and a configured-but-absent log is the healthy steady " +
    "state — no throw") {
    import graft.ext.Forget
    import graft.streaming.UserForget
    import spark.implicits._
    // the registered forget queries (run by sibling suites against this
    // dir) legitimately leave logs behind — scope this test to ITS OWN
    // three tables, starting from a clean slate
    def purgeAll(): Unit = {
      Forget.purgeForgetTable(spark, dir)
      Forget.purgeForgetDocsTable(spark, dir)
      UserForget.purgeForgetUsersTable(spark, dir)
    }
    val mine = Seq(Forget.forgetTable(dir), Forget.forgetDocsTable(dir),
      UserForget.forgetUsersTable(dir))
    purgeAll()
    try {
      // absent + configured: steady state, neither throw nor warning
      val calm = Maintenance.manifestReport(spark, forgetDir = Some(dir),
        userForgetBase = Some(dir))
      assert(!calm.exists(w => mine.exists(w.contains)),
        calm.mkString("\n"))
      Forget.forgetVectors(spark, dir, Seq(42L).toDF("vec_id"))
      UserForget.forgetUsers(spark, dir, Seq("42").toDF("group_id"))
      val t = Forget.forgetTable(dir)
      val ut = UserForget.forgetUsersTable(dir)
      val inv = IndexCatalog.listIndexDirs(spark)
      assert(inv.contains(("forget", t)), inv.mkString(", "))
      assert(inv.contains(("forget", ut)), inv.mkString(", "))
      // on disk, not configured: warns (both logs)
      val warns = Maintenance.manifestReport(spark)
      assert(warns.exists(_.contains(t)), warns.mkString("\n"))
      assert(warns.exists(_.contains(ut)), warns.mkString("\n"))
      // configured: covered
      val covered = Maintenance.manifestReport(spark, forgetDir = Some(dir),
        userForgetBase = Some(dir))
      assert(!covered.exists(w => mine.exists(w.contains)),
        covered.mkString("\n"))
    } finally purgeAll()
  }

  test("Shapes.fromEnv derives the manifest from the same SPARK_GRAFT_* " +
    "vars the passes run with; defaults when unset") {
    assert(Maintenance.Shapes.fromEnv(Map.empty) == Maintenance.Shapes())
    val s = Maintenance.Shapes.fromEnv(Map(
      "SPARK_GRAFT_IVF_ITERS" -> "3", "SPARK_GRAFT_PQ_NSUB" -> "16",
      "SPARK_GRAFT_PQ_SAMPLE_CAP" -> "1234"))
    assert(s.ivfIters == 3 && s.pqNSub == 16 && s.pqSampleCap == 1234)
    assert(s.ivfSampleMod == 3 && s.pqKSub == 16)
  }

  test("serveHealth parameterized with a non-default shape probes THAT " +
    "deployment's tables and builds no default-shape ghosts " +
    "(VERDICT r14 next #3)") {
    // distinguishable families that are cheap to build twice: the rung
    // tables (keyed by nQueries/dPrefix) and the gram index (keyed by n)
    Rung.purgeRungIndexes(spark, dir, 10, 16)
    Rung.purgeRungIndexes(spark, dir, 12, 8)
    TextDedup.purgeSubstringIndex(spark, dir, 4)
    try {
      val health = graft.streaming.Metrics.serveHealth(spark, dir,
        gramN = 4, rungNq = 12, rungPrefix = 8).collect()
      assert(health.length == 9)
      health.foreach { r =>
        assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3),
          r.toString)
      }
      // the non-default surfaces were probed (and thus ensure-built)…
      assert(Rung.binaryIndexExists(spark, dir, 12))
      assert(Rung.matryoshkaIndexExists(spark, dir, 12, 8))
      assert(Rung.int8IndexExists(spark, dir, 12))
      assert(TextDedup.substringIndexExists(spark, dir, 4))
      // …and the DEFAULT-shape rung tables were NOT built as a parallel
      // ghost set (the r14 hardcoded form's failure mode)
      assert(!Rung.binaryIndexExists(spark, dir, 10))
      assert(!Rung.matryoshkaIndexExists(spark, dir, 10, 16))
      assert(!Rung.int8IndexExists(spark, dir, 10))
    } finally {
      Rung.purgeRungIndexes(spark, dir, 12, 8)
      TextDedup.purgeSubstringIndex(spark, dir, 4)
    }
  }
}
