package graft

import org.apache.spark.sql.functions._

import graft.ext.TextDedup

/** The standing corpus dedup index (VERDICT r6 next-round #2): admission
  * against the persisted band/shingle tables must equal the recompute
  * form, a small batch's probes must read only the touched keys, and a
  * session that lost its catalog entries must reattach the built index.
  */
class DedupIndexSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def dropIndex(): Unit = TextDedup.purgeDedupIndex(spark, dir)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("pipeline_curate rides the standing index: running it on a " +
    "purged warehouse builds the band/shingle tables as a side effect") {
    // the final plan cannot show the bucketed scans (label-propagation
    // checkpoints cut them out, as with pipeline_pretrain in r12) — the
    // runtime-observable pin is that the curate report ENSURES the
    // standing index, proving nearDupPairsIndexed is the path it runs
    dropIndex()
    try {
      assert(!spark.catalog.tableExists(TextDedup.bandsTable(dir)))
      val out = SparkEntry.queries("pipeline_curate")(spark, dir)
      assert(out.count() > 0)
      assert(spark.catalog.tableExists(TextDedup.bandsTable(dir)),
        "curate must read (and therefore ensure) the standing band table")
      assert(spark.catalog.tableExists(TextDedup.shinglesTable(dir)),
        "curate must read the standing shingle store")
    } finally dropIndex()
  }

  test("indexed admission equals the recompute form") {
    dropIndex()
    try {
      val recomputed = rows(TextDedup.incrementalDedup(spark, dir, 0.5))
      val indexed = rows(TextDedup.incrementalDedupIndexed(spark, dir, 0.5))
      assert(indexed.nonEmpty && indexed == recomputed)
    } finally dropIndex()
  }

  test("indexed full-corpus near-dup pairs equal the recompute form, and " +
    "the plan reads the persisted band and shingle tables") {
    dropIndex()
    try {
      val recomputed = rows(TextDedup.nearDupPairs(spark, dir, 0.5)
        .orderBy(col("d1"), col("d2")))
      val indexedDf = TextDedup.nearDupPairsIndexed(spark, dir, 0.5)
        .orderBy(col("d1"), col("d2"))
      val indexed = rows(indexedDf)
      assert(indexed.nonEmpty && indexed == recomputed)
      val p = indexedDf.queryExecution.executedPlan.toString
      assert(p.contains("graft_dedup_bands_"),
        s"indexed pairs must read the persisted band table:\n$p")
      assert(p.contains("graft_dedup_shingles_"),
        s"indexed pairs must read the persisted shingle store:\n$p")
    } finally dropIndex()
  }

  test("standing-index probes PRUNE: admission scans push the batch's " +
    "touched keys as IN predicates (never a full index read)") {
    dropIndex()
    try {
      TextDedup.ensureDedupIndex(spark, dir)
      val batch = TextDedup.documents(spark, dir)
        .filter(col("doc_id") % 10 >= 8).limit(20)
      // band table pruned by band_hash, shingle store by the candidate
      // d_old set
      val verdicts = TextDedup.admitIndexed(spark, dir, batch, 0.6)
      verdicts.collect()
      val admitPlan = verdicts.queryExecution.executedPlan.toString
      assert(admitPlan.contains("PushedFilters: [In(band_hash,"),
        s"band-table scan not pruned:\n$admitPlan")
      assert(admitPlan.contains("PushedFilters: [In(doc_id,"),
        s"shingle-store scan not pruned:\n$admitPlan")
    } finally dropIndex()
  }

  test("a session that lost its catalog entries REATTACHES the surviving " +
    "index data instead of rebuilding the corpus") {
    dropIndex()
    var builds = 0
    try TextDedup.withBandBuildHook(_ => builds += 1) {
      TextDedup.ensureDedupIndex(spark, dir)
      assert(builds == 1)
      val before = rows(spark.table(TextDedup.bandsTable(dir))
        .orderBy(col("band"), col("band_hash"), col("doc_id")))

      // simulate the next session: the in-memory catalog entry dies with
      // the JVM but the EXTERNAL table data survives at the fixed
      // location — DROP TABLE on an external table keeps the files
      spark.sql(s"DROP TABLE ${TextDedup.bandsTable(dir)}")
      spark.sql(s"DROP TABLE ${TextDedup.shinglesTable(dir)}")

      TextDedup.ensureDedupIndex(spark, dir)
      assert(builds == 1, "reattach must not re-run the corpus band build")
      val after = rows(spark.table(TextDedup.bandsTable(dir))
        .orderBy(col("band"), col("band_hash"), col("doc_id")))
      assert(after.nonEmpty && after == before)

      // the reattached bucketed tables serve admission identically
      val viaIndex = rows(TextDedup.incrementalDedupIndexed(spark, dir, 0.5))
      val recomputed = rows(TextDedup.incrementalDedup(spark, dir, 0.5))
      assert(viaIndex.nonEmpty && viaIndex == recomputed)
    } finally dropIndex()
  }

  test("index build streams the corpus through the saved shingle table — " +
    "band-build plan is scan-rooted, no checkpoint/ExistingRDD node") {
    import org.apache.spark.sql.execution.{ExternalRDDScanExec,
      FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    dropIndex()
    // capture the frame ensureDedupIndex ACTUALLY writes (ADVICE r8 —
    // a test-built reconstruction would keep passing even if the build
    // reintroduced a checkpoint internally)
    var captured: Option[org.apache.spark.sql.DataFrame] = None
    try TextDedup.withBandBuildHook(df => captured = Some(df)) {
      TextDedup.ensureDedupIndex(spark, dir)
      val build = captured.getOrElse(
        fail("ensureDedupIndex never invoked the band-build hook"))
      // assert on plan node CLASSES, not toString fragments (ADVICE r8:
      // string matching is brittle across Spark/AQE formatting changes)
      def root(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val nodes = root(build.queryExecution.executedPlan).collect {
        case n => n
      }
      assert(!nodes.exists(n => n.isInstanceOf[RDDScanExec] ||
        n.isInstanceOf[ExternalRDDScanExec[_]]),
        s"band build must read the saved table, not a checkpointed corpus:\n" +
          nodes.map(_.nodeName).mkString(", "))
      assert(nodes.exists(_.isInstanceOf[FileSourceScanExec]),
        s"band build must scan the bucketed shingle table:\n" +
          nodes.map(_.nodeName).mkString(", "))
      // and the built band table is exactly the capped recompute over
      // the stored shingles — write-through changed the plan, not rows
      val built = rows(spark.table(TextDedup.bandsTable(dir))
        .orderBy(col("band"), col("band_hash"), col("doc_id")))
      val recomputed = rows(TextDedup.cappedBandRows(
          spark.table(TextDedup.shinglesTable(dir)))
        .orderBy(col("band"), col("band_hash"), col("doc_id")))
      assert(built.nonEmpty && built == recomputed)
    } finally dropIndex()
  }
}
