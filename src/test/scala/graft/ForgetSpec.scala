package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.{Forget, Rung, Similarity}

/** The tombstone deletion lifecycle (round 15): the never-admitted
  * counterfactual identity of the live searches, registration
  * idempotence (in-batch and replay), the filter-before-rank plan shape
  * (broadcast anti-join, rung-table-only stage 1, rank-limit pushdown
  * intact), the physical apply (raw store rewritten, derived surfaces
  * rebuilt, log cleared, audit reads zero residue), the crash-window
  * recovery of the raw-store swap, and doc deletion registration.
  */
class ForgetSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** The spec's deletion set — the registered queries' deterministic
    * rule (candidates with vec_id % 23 == 5), reused so the spec
    * exercises exactly what the driver gate ships.
    */
  private def forgetCond =
    col("vec_id") >= 10 && col("vec_id") % 23 === 5

  private def copyCorpus(tag: String, keepAll: Boolean): String = {
    val tmp = Files.createTempDirectory(s"graft_forget_$tag").toString
    val src = Similarity.embeddings(spark, dir)
    (if (keepAll) src else src.filter(!forgetCond))
      .write.parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  private def cleanup(dirs: String*): Unit = dirs.foreach { d =>
    Rung.purgeRungIndexes(spark, d)
    Forget.purgeForgetTable(spark, d)
  }

  test("tombstone-filtered searches equal their plain forms over a " +
    "corpus the forgotten vectors NEVER entered — deletion via " +
    "tombstone is indistinguishable from never-admitted") {
    val a = copyCorpus("full", keepAll = true)
    val b = copyCorpus("counterfactual", keepAll = false)
    try {
      Forget.forgetVectors(spark, a,
        Similarity.embeddings(spark, a).filter(forgetCond)
          .select(col("vec_id")))
      assert(Forget.bruteForceTopKLive(spark, a, 10, 5).collect().toSeq ==
        Similarity.bruteForceTopK(spark, b, 10, 5).collect().toSeq)
      assert(
        Forget.binaryIndexedTopKLive(spark, a, 10, 5).collect().toSeq ==
          Rung.binaryIndexedTopK(spark, b, 10, 5).collect().toSeq)
    } finally cleanup(a, b)
  }

  test("with no tombstones the live forms ARE the plain forms, and an " +
    "empty or all-duplicate batch never creates or grows the log") {
    cleanup(dir)
    try {
      assert(Forget.forgottenIds(spark, dir).count() == 0L)
      assert(Forget.binaryIndexedTopKLive(spark, dir, 10, 5)
        .collect().toSeq ==
        Rung.binaryIndexedTopK(spark, dir, 10, 5).collect().toSeq)
      // empty batch: no table materializes
      Forget.forgetVectors(spark, dir,
        spark.range(0).select(col("id").as("vec_id")))
      assert(!Forget.forgetTableExists(spark, dir))
      // in-batch duplicates collapse; replaying the same batch is a
      // no-op; a second batch only adds the genuinely new id
      import spark.implicits._
      Forget.forgetVectors(spark, dir,
        Seq(42L, 42L, 77L).toDF("vec_id"))
      assert(Forget.forgottenIds(spark, dir).count() == 2L)
      Forget.forgetVectors(spark, dir, Seq(42L, 77L).toDF("vec_id"))
      assert(Forget.forgottenIds(spark, dir).count() == 2L)
      Forget.forgetVectors(spark, dir, Seq(77L, 99L).toDF("vec_id"))
      assert(Forget.forgottenIds(spark, dir)
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(42L, 77L, 99L))
    } finally cleanup(dir)
  }

  test("live search plan: stage 1 scans ONLY the rung table, the " +
    "tombstone filter is a broadcast anti-join BEFORE the pool window, " +
    "the rank-limit pushdown survives, and no sort-merge join appears") {
    cleanup(dir)
    try {
      import spark.implicits._
      Forget.forgetVectors(spark, dir, Seq(28L, 51L).toDF("vec_id"))
      Rung.ensureBinaryIndex(spark, dir, 10)
      // the stage-1 pool carries the filter and the windows; the final
      // search hides it behind the rescore checkpoint, so pin the pool
      // frame itself (the RungSpec plan-pin convention)
      val q = Similarity.embeddings(spark, dir)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          Similarity.packSigns(col("embedding"), 1, 32).as("qh1"),
          Similarity.packSigns(col("embedding"), 33, 64).as("qh2"))
        .localCheckpoint(true) // keep the panel scan out of the pin
      val liveScan = Forget.excludeForgotten(spark, dir,
        spark.table(Rung.binTable(dir, Rung.binKey(10))), "cid")
      val pool = Rung.binaryPoolFrom(liveScan, q, 20)
      pool.collect()
      val plan = pool.queryExecution.executedPlan.toString
      assert(plan.contains("graft_rung_bin_"), plan)
      assert(!plan.contains("embeddings.parquet"),
        s"stage-1 pool scans the float table\n$plan")
      assert(!plan.contains("SortMergeJoin"), plan)
      val anti = plan.split("\n").filter(_.contains("LeftAnti"))
      assert(anti.nonEmpty && anti.forall(_.contains("Broadcast")),
        s"tombstone filter is not a broadcast anti-join\n$plan")
      val wgl = plan.split("\n").filter(_.contains("WindowGroupLimit"))
      assert(wgl.exists(_.contains("Partial")) &&
        wgl.exists(_.contains("Final")),
        s"rank-limit pushdown lost under the tombstone filter\n$plan")
      val live = Forget.binaryIndexedTopKLive(spark, dir, 10, 5)
      // filter-before-rank semantics: the tombstoned cids are absent
      // AND live rows fill every rank slot (no holes from post-pool
      // filtering)
      val rows = live.collect()
      assert(!rows.exists(r => r.getLong(1) == 28L || r.getLong(1) == 51L))
      assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 5))
    } finally cleanup(dir)
  }

  test("physical apply: the raw store is rewritten without the " +
    "tombstoned rows, derived surfaces are rebuilt, the log clears, " +
    "and the audit reads zero residue — the erasure receipt") {
    val a = copyCorpus("apply", keepAll = true)
    try {
      val f = Similarity.embeddings(spark, a).filter(forgetCond)
        .select(col("vec_id"))
      val nF = f.count()
      assert(nF > 0)
      Forget.forgetVectors(spark, a, f)
      Rung.ensureBinaryIndex(spark, a, 10)
      Rung.ensureMatryoshkaIndex(spark, a, 10, 16)
      Rung.ensureInt8Index(spark, a, 10)
      val preAudit = Forget.forgetAudit(spark, a).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(preAudit("raw_embeddings")._2 == nF)
      assert(preAudit("rung_binary")._2 == nF)
      assert(preAudit("tombstones") == ((nF, nF)))
      val totalBefore = Similarity.embeddings(spark, a).count()
      // below threshold: nothing happens
      assert(Forget.applyForgetIfNeeded(spark, a,
        minTombstones = nF + 1) == -1L)
      assert(Forget.forgetTableExists(spark, a))
      // at threshold: the erase runs
      val erased = Forget.applyForgetIfNeeded(spark, a, minTombstones = nF)
      assert(erased == nF, s"erased=$erased expected=$nF")
      assert(Similarity.embeddings(spark, a).count() == totalBefore - nF)
      assert(!Forget.forgetTableExists(spark, a))
      val binT = Rung.binTable(a, Rung.binKey(10))
      assert(spark.table(binT).filter(col("cid") % 23 === 5).count() == 0L)
      val postAudit = Forget.forgetAudit(spark, a).collect()
      assert(postAudit.forall(_.getLong(2) == 0L),
        postAudit.mkString("\n"))
      // post-apply the live form IS the plain form again
      assert(Forget.binaryIndexedTopKLive(spark, a, 10, 5)
        .collect().toSeq ==
        Rung.binaryIndexedTopK(spark, a, 10, 5).collect().toSeq)
      // replaying the apply after the clear is a no-op
      assert(Forget.applyForgetIfNeeded(spark, a) == -1L)
    } finally cleanup(a)
  }

  test("raw-store swap recovers from every crash window: a committed " +
    "rewrite completes, a stale rewrite is discarded, a half-swap " +
    "restores from trash") {
    val a = copyCorpus("crash", keepAll = true)
    val fs = new org.apache.hadoop.fs.Path(a)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$a/$s")
    try {
      val total = Similarity.embeddings(spark, a).count()
      // window: rewrite committed, store renamed away (between renames)
      Similarity.embeddings(spark, a).filter(!forgetCond)
        .write.parquet(s"$a/embeddings.parquet.rewrite")
      fs.rename(p("embeddings.parquet"), p("embeddings.parquet.trash"))
      Forget.recoverRawSwap(spark, a)
      assert(fs.exists(p("embeddings.parquet")))
      assert(!fs.exists(p("embeddings.parquet.rewrite")))
      assert(!fs.exists(p("embeddings.parquet.trash")))
      val afterSwap = Similarity.embeddings(spark, a).count()
      assert(afterSwap < total) // the committed rewrite won
      // window: store present, stale rewrite left behind — discarded
      Similarity.embeddings(spark, a).limit(1)
        .write.parquet(s"$a/embeddings.parquet.rewrite")
      Forget.recoverRawSwap(spark, a)
      assert(!fs.exists(p("embeddings.parquet.rewrite")))
      assert(Similarity.embeddings(spark, a).count() == afterSwap)
      // window: half-swap with an UNCOMMITTED rewrite — trash restores
      fs.rename(p("embeddings.parquet"), p("embeddings.parquet.trash"))
      fs.mkdirs(p("embeddings.parquet.rewrite")) // no _SUCCESS: torn
      Forget.recoverRawSwap(spark, a)
      assert(Similarity.embeddings(spark, a).count() == afterSwap)
      assert(!fs.exists(p("embeddings.parquet.trash")))
    } finally cleanup(a)
  }

  private def docForgetCond = col("doc_id") % 31 === 7

  private def copyDocs(tag: String, keepAll: Boolean): String = {
    val tmp = Files.createTempDirectory(s"graft_forgetdoc_$tag").toString
    val src = graft.ext.TextDedup.documents(spark, dir)
    (if (keepAll) src else src.filter(!docForgetCond))
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def cleanupDocs(dirs: String*): Unit = dirs.foreach { d =>
    graft.ext.TextDedup.purgeDedupIndex(spark, d)
    Forget.purgeForgetDocsTable(spark, d)
  }

  test("doc-side counterfactual identity: live LSH candidate pairs over " +
    "a tombstoned corpus equal the plain pairs over a corpus the " +
    "forgotten docs never entered — filter-before-banding, so capped " +
    "buckets fill with live docs only") {
    import graft.ext.TextDedup
    val a = copyDocs("full", keepAll = true)
    val b = copyDocs("counterfactual", keepAll = false)
    try {
      Forget.forgetDocs(spark, a,
        TextDedup.documents(spark, a).filter(docForgetCond)
          .select(col("doc_id")))
      assert(Forget.candidatePairsLive(spark, a)
        .orderBy(col("d1"), col("d2")).collect().toSeq ==
        TextDedup.candidatePairs(spark, b)
          .orderBy(col("d1"), col("d2")).collect().toSeq)
      // and the registration is idempotent across the two key spaces:
      // doc tombstones never leak into the vector log
      assert(!Forget.forgetTableExists(spark, a))
    } finally cleanupDocs(a, b)
  }

  test("doc-side physical apply: the documents store is rewritten, the " +
    "standing band table is rebuilt without the forgotten docs, the " +
    "log clears, and the audit reads zero residue") {
    import graft.ext.TextDedup
    val a = copyDocs("apply", keepAll = true)
    try {
      val f = TextDedup.documents(spark, a).filter(docForgetCond)
        .select(col("doc_id"))
      val nF = f.count()
      assert(nF > 0)
      Forget.forgetDocs(spark, a, f)
      TextDedup.ensureDedupIndex(spark, a)
      val pre = Forget.forgetDocsAudit(spark, a).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(pre("raw_documents")._2 == nF)
      assert(pre("dedup_bands")._2 > 0L) // the standing-partition share
      val totalBefore = TextDedup.documents(spark, a).count()
      val erased = Forget.applyForgetDocsIfNeeded(spark, a)
      assert(erased == nF, s"erased=$erased expected=$nF")
      assert(TextDedup.documents(spark, a).count() == totalBefore - nF)
      assert(!Forget.forgetDocsTableExists(spark, a))
      assert(spark.table(TextDedup.bandsTable(a))
        .filter(col("doc_id") % 31 === 7).count() == 0L)
      val post = Forget.forgetDocsAudit(spark, a).collect()
      assert(post.forall(_.getLong(2) == 0L), post.mkString("\n"))
      // replay after the clear is a no-op
      assert(Forget.applyForgetDocsIfNeeded(spark, a) == -1L)
    } finally cleanupDocs(a)
  }

  test("trained-state deletion semantics (doc side, r15 VERDICT next #8): " +
    "the physical apply invalidates the session-memoized classifier " +
    "model and BPE dict — a post-apply retrain equals training on a " +
    "corpus the forgotten docs never entered") {
    import graft.ext.{Classifier, TextAnalysis, TextDedup}
    val a = copyDocs("retrain", keepAll = true)
    val b = copyDocs("retrain_cf", keepAll = false)
    try {
      Forget.forgetDocs(spark, a,
        TextDedup.documents(spark, a).filter(docForgetCond)
          .select(col("doc_id")))
      def modelOf(d: String) = Classifier.trainedModel(spark, d)
        .orderBy(col("feature_id")).collect().toSeq
      def mergesOf(d: String) = TextAnalysis.bpeMerges(spark, d, 10)
        .collect().toSeq
      // memoize BOTH trained artifacts on the pre-erase store — without
      // invalidation these cached frames would keep serving the
      // forgotten docs' statistics after the apply
      val preModel = modelOf(a)
      val preMerges = mergesOf(a)
      val cfModel = modelOf(b)
      val cfMerges = mergesOf(b)
      assert(preModel != cfModel && preMerges != cfMerges,
        "fixture defect: the tombstoned docs must influence the " +
          "trained artifacts for this test to pin anything")
      assert(Forget.applyForgetDocsIfNeeded(spark, a) > 0L)
      assert(modelOf(a) == cfModel,
        "post-apply classifier retrain must equal the never-admitted " +
          "corpus model (stale memo?)")
      assert(mergesOf(a) == cfMerges,
        "post-apply BPE retrain must equal the never-admitted corpus " +
          "dict (stale memo?)")
    } finally cleanupDocs(a, b)
  }

  test("doc deletion requests register tombstones idempotently and " +
    "the live pairs drop the doc's pairs immediately") {
    import graft.ext.TextDedup
    import spark.implicits._
    cleanupDocs(dir)
    try {
      // pick a doc that participates in at least one candidate pair
      val victim = TextDedup.candidatePairs(spark, dir)
        .select(col("d1")).limit(1).collect().head.getLong(0)
      // a request repeated within one call, then replayed in a second
      Forget.forgetDocs(spark, dir, Seq(victim, victim).toDF("doc_id"))
      Forget.forgetDocs(spark, dir, Seq(victim).toDF("doc_id"))
      assert(Forget.forgottenDocIds(spark, dir)
        .collect().map(_.getLong(0)).toSeq == Seq(victim))
      val live = Forget.candidatePairsLive(spark, dir).collect()
      assert(!live.exists(r =>
        r.getLong(0) == victim || r.getLong(1) == victim))
    } finally cleanupDocs(dir)
  }
}
