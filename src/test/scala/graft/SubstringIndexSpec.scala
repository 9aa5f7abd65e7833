package graft

import org.apache.spark.sql.functions._

import graft.ext.TextDedup

/** The standing gram-frequency index behind `dedup_substring_admit`:
  * indexed admission must equal the recompute over (corpus ∪ batch)
  * restricted to the batch, a session that lost its catalog entry must
  * reattach the surviving data (also in the earlier three-column
  * layout), and a small batch's probe must read only its grams.
  */
class SubstringIndexSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def purge(): Unit = TextDedup.purgeSubstringIndex(spark, dir)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("indexed admission equals the recompute over corpus ∪ batch, " +
    "restricted to the batch") {
    purge()
    try {
      val docs = TextDedup.documents(spark, dir)
      val batch = docs.filter(col("doc_id") % 10 >= 8)
      val indexed = rows(
        TextDedup.admitSubstringIndexed(spark, dir, batch, 5, 2)
          .orderBy(col("doc_id")))
      val recomputed = rows(TextDedup.substringDedupOf(docs, 5, 2)
        .filter(col("doc_id") % 10 >= 8).orderBy(col("doc_id")))
      assert(indexed.nonEmpty && indexed == recomputed)
    } finally purge()
  }

  test("a session that lost its catalog entry reattaches the surviving " +
    "gram data instead of rebuilding") {
    purge()
    try {
      TextDedup.ensureSubstringIndex(spark, dir)
      val t = TextDedup.gramsTable(dir, 5)
      val before = spark.table(t).count()
      // external table: DROP keeps the files, like a died JVM would
      spark.sql(s"DROP TABLE $t")
      TextDedup.ensureSubstringIndex(spark, dir)
      assert(spark.table(t).count() == before)

      // a table an earlier build wrote carries a third column, `src`,
      // equal to `corpus` on every row: it reattaches and admits alike
      val batch = TextDedup.documents(spark, dir)
        .filter(col("doc_id") % 10 >= 8)
      def admitted = rows(
        TextDedup.admitSubstringIndexed(spark, dir, batch, 5, 2)
          .orderBy(col("doc_id")))
      val current = admitted
      val legacy = spark.table(t).withColumn("src", lit("corpus"))
        .localCheckpoint(true)
      purge()
      legacy.write.bucketBy(8, "g").sortBy("g")
        .option("path",
          graft.ext.IndexCatalog.tableLocation(spark, t).toString)
        .saveAsTable(t)
      spark.sql(s"DROP TABLE $t")
      TextDedup.ensureSubstringIndex(spark, dir)
      assert(spark.table(t).columns.toSeq == Seq("g", "n_docs", "src"))
      assert(current.nonEmpty && admitted == current)
    } finally purge()
  }

  test("the admission probe prunes the gram-table scan to the batch's " +
    "touched grams (pushed IN predicate, never a full-log sum)") {
    purge()
    try {
      val batch = TextDedup.documents(spark, dir)
        .filter(col("doc_id") % 10 >= 8).limit(10)
      val df = TextDedup.admitSubstringIndexed(spark, dir, batch, 5, 2)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [In(g,"),
        s"gram-table scan not pruned to the batch's grams:\n$plan")
    } finally purge()
  }
}
