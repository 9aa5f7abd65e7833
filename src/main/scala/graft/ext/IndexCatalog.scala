package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared machinery for the STANDING index tables (dedup band/shingle,
  * substring gram, IVF cell): external bucketed parquet at a fixed
  * warehouse location, so the data outlives any one session's in-memory
  * catalog entry and the next session REATTACHES instead of rebuilding
  * (the derby-free harness's stand-in for a persistent metastore).
  */
private[graft] object IndexCatalog {

  /** JVM-level serialization of every ensure-if-absent catalog build
    * (r18, ADVICE r17): the ensure* paths are check-then-build
    * (tableExists → drop → saveAsTable) and are now reachable from
    * [[graft.ops.Concurrent.materialize]] branch threads, so two
    * branches ensuring the same table would race DROP/overwrite on the
    * same location. One global lock is cheap — once a table exists the
    * locked section is a single catalog lookup.
    */
  private val ensureLock = new Object
  def ensureSync[T](body: => T): T = ensureLock.synchronized(body)

  def indexKey(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  /** Fixed data location for `table` under the warehouse dir. */
  def tableLocation(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), table)

  /** Above this many distinct keys, a standing-index IN-list prune is
    * skipped (full-scan fallback). The break-even is LOW: every literal
    * is walked by each optimizer pass and the pushed filter is
    * re-evaluated against row-group stats, so a tens-of-thousands-key
    * predicate costs more than the scan it saves — measured directly on
    * `dedup_incremental`, whose 20%-of-corpus batch ran 0.7 → 2.5 s
    * under an uncapped prune (~48k keys) and was still 0.7 → 2.0 s at
    * ~5k keys; the flat bucketed scan IS the right plan for a
    * corpus-fraction batch. Micro-batch admission (daily increments of
    * tens-to-hundreds of docs) and the rung pools sit comfortably under
    * this bound and keep the pruned plan.
    */
  val indexPruneMaxKeys = 1024

  /** Collect the distinct keys of `keyCol` in a CHECKPOINTED (or
    * otherwise cheap to re-read) frame, capped at [[indexPruneMaxKeys]]
    * + 1 — the collect half of the adaptive literal-IN prune every
    * standing-index probe and pool fetch runs, whatever the key type.
    * Callers pass the result to [[pruneToKeys]]; a frame that
    * blew past the cap comes back oversized and the prune falls back to
    * the flat scan, which is then the right plan anyway.
    */
  def collectKeys(frame: DataFrame, keyCol: String): Seq[Any] =
    frame.select(col(keyCol)).distinct()
      .limit(indexPruneMaxKeys + 1)
      .collect().map(_.get(0)).toSeq

  /** The prune half: `base` filtered by a pushed literal IN on
    * `keyCol` when `keys` is under the cap, else `base` untouched.
    */
  def pruneToKeys(base: DataFrame, keyCol: String,
                  keys: Seq[Any]): DataFrame =
    if (keys.length <= indexPruneMaxKeys)
      base.filter(col(keyCol).isin(keys: _*))
    else base

  /** Inventory of standing-index data directories present under the
    * warehouse: (family, directory name), family decided by the
    * table-name prefix each index builder uses. An unknown `graft_`
    * prefix reports as `unknown` rather than being dropped, so a new
    * index family cannot silently escape the maintenance manifest
    * ([[graft.tools.Maintenance]]).
    */
  def listIndexDirs(spark: SparkSession): Seq[(String, String)] = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) return Seq.empty
    // order matters: ivfpq_ must match before ivf_
    val fams = Seq(
      "graft_dedup_" -> "dedup", "graft_forget_" -> "forget",
      "graft_substr_grams_" -> "grams",
      "graft_ivfpq_" -> "ivfpq", "graft_ivf_" -> "ivf", "graft_pq_" -> "pq",
      "graft_rung_" -> "rung", "graft_winsor_bounds_" -> "winsor")
    fs.listStatus(wh).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("graft_"))
      .map { n =>
        (fams.collectFirst { case (p, f) if n.startsWith(p) => f }
          .getOrElse("unknown"), n)
      }.toSeq.sortBy(_._2)
  }

  /** True when `table` is live in this session's catalog OR has
    * COMMITTED data (`_SUCCESS` present — the same marker
    * [[reattachIfPresent]] trusts) at its fixed location — the ONE
    * definition of "this standing index exists" every exists-guard and
    * health probe shares (review r14: three copies of this predicate
    * had grown; a marker-semantics change updated in one would leave
    * the guards disagreeing about the same table). Because every guard
    * funnels through here, this is also where a torn [[rewriteInPlace]]
    * heals: without the recovery, a crash between the swap's renames
    * would read as "no data" and silently restart a tombstone log
    * (ADVICE r16 — the migration purge could lose pending deletions).
    */
  def hasCommittedData(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table) || {
      recoverRewrite(spark, table)
      val loc = tableLocation(spark, table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(new Path(loc, "_SUCCESS"))
    }

  private def rewriteTmp(loc: Path): Path =
    new Path(loc.getParent, s".${loc.getName}.rewrite")
  private def rewriteTrash(loc: Path): Path =
    new Path(loc.getParent, s".${loc.getName}.trash")

  /** Crash-safe in-place rewrite of a standing table's committed rows
    * (the one-time req_ms log migration): `rows` stage as a scratch
    * EXTERNAL bucketed table at a hidden sibling location, then swap in
    * by renames — at every instant the fixed location either holds (or
    * is one [[recoverRewrite]] away from holding) a COMMITTED copy of
    * the legacy or the migrated data. Replaces the purge-then-overwrite
    * migration whose crash window lost every pending deletion request
    * (ADVICE r16). Hidden (dot-prefixed) staging names keep the debris
    * out of Spark listings and the warehouse index inventory.
    */
  def rewriteInPlace(spark: SparkSession, table: String,
                     bucketCols: Seq[String],
                     rows: DataFrame): Unit = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = rewriteTmp(loc)
    val trash = rewriteTrash(loc)
    val scratch = table + "__rewrite"
    spark.sql(s"DROP TABLE IF EXISTS $scratch")
    fs.delete(tmp, true)
    fs.delete(trash, true)
    rows.write.mode("overwrite")
      .bucketBy(8, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", tmp.toString)
      .saveAsTable(scratch)
    spark.sql(s"DROP TABLE IF EXISTS $scratch") // external — data stays
    spark.sql(s"DROP TABLE IF EXISTS $table")
    fs.rename(loc, trash)
    fs.rename(tmp, loc)
    fs.delete(trash, true)
    reattachIfPresent(spark, table, bucketCols)
  }

  /** Heal a crashed [[rewriteInPlace]]: a committed live location wins
    * (stale debris deleted — an uncommitted stage just means the
    * migration reruns later); a missing live location promotes a
    * COMMITTED stage (the crash landed between the two renames) or
    * restores the surviving trash. Idempotent and cheap when nothing is
    * torn; runs inside [[hasCommittedData]] so every exists-guard heals
    * before it answers.
    */
  def recoverRewrite(spark: SparkSession, table: String): Unit = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = rewriteTmp(loc)
    val trash = rewriteTrash(loc)
    if (!fs.exists(new Path(loc, "_SUCCESS"))) {
      if (fs.exists(new Path(tmp, "_SUCCESS"))) {
        if (fs.exists(loc)) fs.delete(loc, true)
        fs.rename(tmp, loc)
      } else if (fs.exists(trash)) {
        if (fs.exists(loc)) fs.delete(loc, true)
        fs.rename(trash, loc)
      }
    }
    if (fs.exists(new Path(loc, "_SUCCESS"))) {
      fs.delete(tmp, true)
      fs.delete(trash, true)
    }
  }

  /** Re-register a prior session's surviving table data:
    * `CREATE TABLE … CLUSTERED BY … LOCATION` reattaches the bucketed
    * parquet (bucket ids are encoded in the file names, so bucketed
    * joins keep their no-exchange shape). Only a location whose last
    * write committed (`_SUCCESS` present) is reattached — a torn write
    * is deleted so the caller rebuilds. Returns true on reattach.
    *
    * INVARIANT the caller owns: a DERIVED index (dedup bands/shingles,
    * grams, IVF/PQ/rung) is only valid while its source corpus changes
    * IN-BAND — through the forget applies, which rebuild every derived
    * index present. Reattach does not fingerprint the corpus, so an
    * OUT-OF-BAND replacement of the source parquet (e.g. regenerating
    * a scale corpus at the same path) silently serves a stale index;
    * the remedy is the family's `purge*` entry point (or deleting the
    * warehouse dirs [[listIndexDirs]] reports) before the next ensure.
    * Log-of-record tables (the tombstone logs) are exempt:
    * they ARE the source of truth, and reattaching them is always
    * correct.
    */
  def reattachIfPresent(spark: SparkSession, table: String,
                        bucketCols: Seq[String]): Boolean = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) return false
    if (!fs.exists(new Path(loc, "_SUCCESS"))) {
      fs.delete(loc, true) // torn write: rebuild from scratch
      return false
    }
    val schema = spark.read.parquet(loc.toString).schema
    val cols = schema.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val bk = bucketCols.map(c => s"`$c`").mkString(", ")
    spark.sql(
      s"""CREATE TABLE $table ($cols) USING PARQUET
         |CLUSTERED BY ($bk) SORTED BY ($bk) INTO 8 BUCKETS
         |LOCATION '${loc.toString}'""".stripMargin)
    true
  }

  /** Drop the catalog entry AND the data at the fixed location. */
  def purge(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }
}
