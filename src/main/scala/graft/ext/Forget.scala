package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Similarity.packSigns

/** Tombstone-based DELETION lifecycle for the vector corpus — the
  * right-to-be-forgotten surface a 100 TB deployment cannot implement
  * by rewriting tables per request (a single deletion would cost a full
  * corpus rewrite in the raw store plus one per derived index). The
  * shape is the deletion-vector design production table formats use
  * (Delta/Iceberg deletion vectors; Lucene's live-docs bitmap), built
  * here from the same standing-table machinery as the other surfaces:
  *
  *   - a STANDING tombstone table (`graft_forget_<dir>`, one `cid` per
  *     forgotten vector, cid-bucketed) that [[forgetVectors]] appends to
  *     idempotently: in-batch dedup + anti-join against the table
  *     (probe pruned to the batch's ids by a literal IN), so an
  *     at-least-once deletion feed redelivering a request is a no-op;
  *   - a READ-PATH filter ([[excludeForgotten]]): a broadcast LEFT-ANTI
  *     join of a scan against the tombstone set. The tombstone side is
  *     bounded by the apply threshold (deletions between compactions),
  *     so at 100 TB the filter costs one broadcast and ZERO extra scan
  *     bytes — no shuffle, no index rewrite. It must sit BEFORE any
  *     rank window: filtering a rank-capped pool after the fact would
  *     shrink k instead of excluding the row from competition, breaking
  *     the never-admitted identity the spec pins;
  *   - filtered search forms ([[bruteForceTopKLive]],
  *     [[binaryIndexedTopKLive]]) that equal their plain forms over a
  *     corpus the forgotten vectors never entered — ForgetSpec builds
  *     the counterfactual corpus and pins row-for-row equality;
  *   - a dashboard face ([[forgetAudit]]): per-surface totals and
  *     forgotten-but-resident counts, the number a privacy review asks
  *     for ("how many deleted vectors still have index rows?");
  *   - the PHYSICAL erase ([[applyForgetIfNeeded]]): rewrite the raw
  *     embeddings store without the tombstoned rows (crash-safe
  *     tmp/trash swap with a recovery preamble), purge+rebuild every
  *     vector-derived standing surface present for the deployment's
  *     shape (they retrain from the raw store, so the forgotten rows
  *     cannot survive anywhere), then clear the tombstone log. This is
  *     the one corpus-proportional pass, amortized over
  *     `minTombstones` deletions — exactly the compaction economics the
  *     rest of the index family runs on.
  *
  * The tombstone table is deliberately NOT in [[graft.streaming.Metrics
  * .serveHealth]]'s surface list: absence is the healthy steady state
  * (no pending deletions), not a missing index — [[forgetAudit]] is its
  * dashboard face. Query-panel rows (`vec_id < nQueries`) are never
  * filtered: tombstones govern the SEARCHED corpus; the panel is caller
  * input.
  *
  * Reference scope note: the reference system (korntewin/kafka-streaming)
  * has no deletion surface; this extends the engine the same way the
  * dedup/ANN families do, following public designs (deletion vectors,
  * tombstone logs) reimplemented from their descriptions.
  */
object Forget {

  private[graft] def forgetTable(dir: String): String =
    s"graft_forget_${IndexCatalog.indexKey(dir)}"

  /** The DOCUMENT-side tombstone log — takedown/deletion requests name
    * documents at least as often as vectors; same machinery, keyed by
    * doc_id against the `documents` store and its derived surfaces
    * (dedup bands, substring grams).
    */
  private[graft] def forgetDocsTable(dir: String): String =
    s"graft_forget_docs_${IndexCatalog.indexKey(dir)}"

  /** True when a tombstone table exists for `dir` (catalog entry or
    * committed data at the fixed location — the shared predicate).
    */
  def forgetTableExists(spark: SparkSession, dir: String): Boolean =
    IndexCatalog.hasCommittedData(spark, forgetTable(dir))

  /** Drop the tombstone log (catalog entry and data). */
  def purgeForgetTable(spark: SparkSession, dir: String): Unit =
    IndexCatalog.purge(spark, forgetTable(dir))

  /** The current tombstone set as a (cid) frame — empty when no table
    * exists (the steady state of a corpus with no pending deletions; an
    * EMPTY table is never persisted, so the reattach path never has to
    * infer a schema from a data-less directory). Reattaches a prior
    * session's surviving data like every standing surface.
    */
  def forgottenIds(spark: SparkSession, dir: String): DataFrame =
    idsOf(spark, forgetTable(dir))

  /** The doc-side twin of [[forgottenIds]]. */
  def forgottenDocIds(spark: SparkSession, dir: String): DataFrame =
    idsOf(spark, forgetDocsTable(dir))

  private def idsOf(spark: SparkSession, t: String): DataFrame =
    pendingOf(spark, t).select(col("cid"))

  /** The pending requests of one log as (cid, req_ms) — registration
    * wall-clock provenance for the SLA face ([[forgetSla]]). Legacy
    * pre-req_ms rows read 0 (maximally overdue, never silently fresh)
    * until a registration migrates the log.
    */
  private def pendingOf(spark: SparkSession, t: String): DataFrame =
    if (IndexCatalog.hasCommittedData(spark, t)) {
      if (!spark.catalog.tableExists(t))
        IndexCatalog.reattachIfPresent(spark, t, Seq("cid"))
      val raw = spark.table(t)
      if (raw.columns.contains("req_ms")) raw.select(col("cid"), col("req_ms"))
      else raw.select(col("cid"), lit(0L).as("req_ms"))
    } else spark.range(0).select(col("id").as("cid"), col("id").as("req_ms"))

  /** Register a batch of deletion requests (`ids`: a `vec_id` column;
    * other columns ignored). Idempotent at vector granularity — the
    * admission-loop contract: the batch is deduped on vec_id, the
    * standing table is anti-joined with its probe pruned to the batch's
    * ids (adaptive [[IndexCatalog.indexPruneMaxKeys]] policy), and only
    * genuinely new tombstones append. An empty batch (or an
    * all-duplicates replay) writes nothing, so the table is only ever
    * created by the first real deletion. New tombstones record `reqMs`
    * (default: now) as the SLA clock; replays keep the first
    * registration's clock (anti-joined away before the write).
    */
  def forgetVectors(spark: SparkSession, dir: String,
                    ids: DataFrame, reqMs: Long = -1L): Unit =
    register(spark, forgetTable(dir),
      ids.select(col("vec_id").cast("long").as("cid")), reqMs)

  /** The doc-side twin of [[forgetVectors]] (`ids`: a `doc_id`
    * column) — same idempotent replay contract against the doc log.
    */
  def forgetDocs(spark: SparkSession, dir: String, ids: DataFrame,
                 reqMs: Long = -1L): Unit =
    register(spark, forgetDocsTable(dir),
      ids.select(col("doc_id").cast("long").as("cid")), reqMs)

  private def register(spark: SparkSession, t: String,
                       keyed: DataFrame, reqMs: Long = -1L): Unit = {
    val now = if (reqMs >= 0L) reqMs else System.currentTimeMillis()
    val rows = keyed.dropDuplicates("cid")
      .withColumn("req_ms", lit(now)).localCheckpoint(true)
    val keys = IndexCatalog.collectKeys(rows, "cid")
    if (keys.isEmpty) return
    if (!IndexCatalog.hasCommittedData(spark, t)) {
      IndexCatalog.purge(spark, t) // clear a torn first write, if any
      rows.write.mode("overwrite")
        .bucketBy(8, "cid").sortBy("cid")
        .option("path", IndexCatalog.tableLocation(spark, t).toString)
        .saveAsTable(t)
    } else {
      if (!spark.catalog.tableExists(t))
        IndexCatalog.reattachIfPresent(spark, t, Seq("cid"))
      // one-time migration of a pre-req_ms log: legacy rows restart
      // their SLA clock at this registration (true age unknown). The
      // rewrite stages beside the live log and swaps (ADVICE r16: a
      // purge-then-overwrite here could lose every pending deletion to
      // a crash between the purge and the rewrite's commit).
      if (!spark.table(t).columns.contains("req_ms")) {
        val legacy = spark.table(t).select(col("cid"))
          .withColumn("req_ms", lit(now)).localCheckpoint(true)
        IndexCatalog.rewriteInPlace(spark, t, Seq("cid"), legacy)
      }
      // probe before writing: a fully-replayed batch (every id already
      // tombstoned — the common case for re-run registered queries and
      // at-least-once redelivery) skips the zero-row append's write
      // commit + catalog refresh entirely
      val app = forgetAppendFrame(spark, t, rows, keys)
        .localCheckpoint(true)
      if (app.limit(1).count() > 0L) {
        app.write.mode("append")
          .bucketBy(8, "cid").sortBy("cid")
          .saveAsTable(t)
        spark.catalog.refreshTable(t)
      }
    }
  }

  /** The vector/doc takedown-SLA face (r15 VERDICT next #1) — one row
    * per log: pending tombstones, the oldest request's age against
    * `asOfMs`, and `sla_ok` (oldest within `slaMs`). These applies have
    * no drain guard (they never defer — the threshold is the only
    * gate), so `deferred_because` is STRUCTURALLY `'none'`: a batch
    * corpus has no consumer debt — there is no drain condition that
    * could ever hold these applies back. The column is emitted here
    * (engine-side, not bolted on by a caller) so the three-log SLA
    * union shares one schema and the constant's reason lives beside
    * its computation; the user-pipeline twin with REAL deferral
    * provenance is [[graft.streaming.UserForget.forgetUsersAudit]].
    *
    * `asOfMs`: ≥ 0 pins the probe clock; -1 (default) wall clock —
    * live operation; -2 anchors each log's clock at its own oldest
    * registration (oldest age reads 0) — the warehouse-age-invariant
    * form the registered correctness query uses (ADVICE r16: a
    * wall-clock `sla_ok` fails Verify on any warehouse older than the
    * SLA window with no code change).
    */
  def forgetSla(spark: SparkSession, dir: String, asOfMs: Long = -1L,
                slaMs: Long = 30L * 24 * 3600 * 1000): DataFrame = {
    import spark.implicits._
    def rowOf(log: String, t: String): (String, Long, Long, String, Boolean) = {
      val pend = pendingOf(spark, t).localCheckpoint(true)
      val n = pend.count()
      val minReq =
        if (n == 0L) 0L
        else pend.agg(min(col("req_ms"))).collect().head.getLong(0)
      val asOf =
        if (asOfMs == -2L) minReq
        else if (asOfMs >= 0L) asOfMs
        else System.currentTimeMillis()
      val oldest = if (n == 0L) 0L else math.max(0L, asOf - minReq)
      (log, n, oldest, "none", oldest <= slaMs)
    }
    Seq(rowOf("docs", forgetDocsTable(dir)),
      rowOf("vectors", forgetTable(dir)))
      .toDF("log", "pending", "oldest_pending_ms", "deferred_because",
        "sla_ok")
      .orderBy(col("log"))
  }

  /** The frame a tombstone append writes — split out so the spec pins
    * the pruned idempotency probe.
    */
  private[graft] def forgetAppendFrame(spark: SparkSession, table: String,
                                       batchRows: DataFrame,
                                       keys: Seq[Any]): DataFrame =
    batchRows.join(
      IndexCatalog.pruneToKeys(spark.table(table), "cid", keys)
        .select(col("cid")),
      Seq("cid"), "left_anti")

  /** `frame` minus the rows whose `keyCol` is tombstoned — the ONE
    * read-path filter every live search composes: a broadcast LEFT-ANTI
    * join (tombstone side bounded by the apply threshold), zero extra
    * scan bytes, applied BEFORE any rank window.
    */
  def excludeForgotten(spark: SparkSession, dir: String, frame: DataFrame,
                       keyCol: String): DataFrame =
    antiTomb(frame, keyCol, forgottenIds(spark, dir))

  /** The doc-side twin of [[excludeForgotten]]. */
  def excludeForgottenDocs(spark: SparkSession, dir: String,
                           frame: DataFrame, keyCol: String): DataFrame =
    antiTomb(frame, keyCol, forgottenDocIds(spark, dir))

  private def antiTomb(frame: DataFrame, keyCol: String,
                       tombIds: DataFrame): DataFrame = {
    val tomb = tombIds.select(col("cid").as("__forgotten_cid"))
    frame.join(broadcast(tomb),
      frame(keyCol) === col("__forgotten_cid"), "left_anti")
  }

  // ————————————————————————— the live (filtered) searches —————————————————————————

  /** [[Similarity.bruteForceTopK]] over the live corpus — exact cosine
    * top-k with tombstoned candidates excluded before ranking. Equals
    * the plain form over a corpus the forgotten vectors never entered
    * (ForgetSpec pins the counterfactual identity).
    */
  def bruteForceTopKLive(spark: SparkSession, dir: String, nQueries: Int,
                         k: Int): DataFrame = {
    val emb = Similarity.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        Similarity.norm(col("embedding")).as("qn"))
    val c = excludeForgotten(spark, dir,
      emb.filter(col("vec_id") >= nQueries), "vec_id")
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        Similarity.norm(col("embedding")).as("cn"))
    Similarity.bruteForceOf(q, c, k)
  }

  /** [[Rung.binaryIndexedTopK]] over the live corpus: stage 1 scans the
    * standing 16 B binary-rung table with the tombstone anti-join
    * applied BEFORE the pool window (so a tombstoned row never occupies
    * a pool slot), and the exact stage-2 rescore fetches only live pool
    * cids — the raw store may still hold the forgotten bytes until the
    * next [[applyForgetIfNeeded]], but no search result can contain
    * them. Same plan budget as the unfiltered form plus one broadcast.
    */
  def binaryIndexedTopKLive(spark: SparkSession, dir: String, nQueries: Int,
                            k: Int, rescoreFactor: Int = 4): DataFrame = {
    Rung.ensureBinaryIndex(spark, dir, nQueries)
    val q = Rung.headQueries(spark, dir, nQueries)
      .withColumn("qh1", packSigns(col("qe"), 1, 32))
      .withColumn("qh2", packSigns(col("qe"), 33, 64))
    val liveScan = excludeForgotten(spark, dir,
      spark.table(Rung.binTable(dir, Rung.binKey(nQueries))), "cid")
    val pool = Rung.binaryPoolFrom(liveScan,
      q.select(col("qid"), col("qh1"), col("qh2")), rescoreFactor * k)
    Rung.exactRescore(spark, dir, pool, q, nQueries, k)
  }

  // ————————————————————————————— the dashboard face —————————————————————————————

  /** Per-surface deletion audit — one row per standing surface of the
    * vector corpus: total rows and FORGOTTEN-BUT-RESIDENT rows (a
    * tombstoned cid still physically present — awaiting the next
    * [[applyForgetIfNeeded]]), plus the tombstone log itself. After an
    * apply, every `forgotten_resident` is 0 and `tombstones` is 0/0 —
    * the erasure receipt a privacy review reads. Scale shape: one
    * column-pruned scan per surface, each LEFT-joined to the broadcast
    * tombstone set and reduced to a single row — no shuffle beyond the
    * final one-row aggregates.
    */
  def forgetAudit(spark: SparkSession, dir: String, nQueries: Int = 10,
                  dPrefix: Int = 16): DataFrame = {
    Rung.ensureBinaryIndex(spark, dir, nQueries)
    Rung.ensureMatryoshkaIndex(spark, dir, nQueries, dPrefix)
    Rung.ensureInt8Index(spark, dir, nQueries)
    val tomb = forgottenIds(spark, dir).localCheckpoint(true)
    val marked = tomb.select(col("cid").as("k"), lit(1L).as("t"))
    def row(surface: String, f: DataFrame, keyCol: String): DataFrame =
      f.select(col(keyCol).as("k"))
        .join(broadcast(marked), Seq("k"), "left")
        .agg(count(lit(1)).as("rows_total"),
          coalesce(sum(col("t")), lit(0L)).as("forgotten_resident"))
        .select(lit(surface).as("surface"), col("rows_total"),
          col("forgotten_resident"))
    row("raw_embeddings", Similarity.embeddings(spark, dir), "vec_id")
      .unionByName(row("rung_binary",
        spark.table(Rung.binTable(dir, Rung.binKey(nQueries))), "cid"))
      .unionByName(row("rung_int8",
        spark.table(Rung.i8Table(dir, Rung.i8Key(nQueries))), "cid"))
      .unionByName(row("rung_matryoshka",
        spark.table(Rung.mrlTable(dir, Rung.mrlKey(nQueries, dPrefix))),
        "cid"))
      .unionByName(tomb.agg(count(lit(1)).as("rows_total"))
        .select(lit("tombstones").as("surface"), col("rows_total"),
          col("rows_total").as("forgotten_resident")))
      .orderBy(col("surface"))
  }

  // ————————————————————————————— the physical erase —————————————————————————————

  private def rawPath(dir: String, store: String) =
    new Path(s"$dir/$store.parquet")
  private def tmpPath(dir: String, store: String) =
    new Path(s"$dir/$store.parquet.rewrite")
  private def trashPath(dir: String, store: String) =
    new Path(s"$dir/$store.parquet.trash")

  /** Recovery preamble for the raw-store swap — makes
    * [[applyForgetIfNeeded]] safe to replay from ANY crash point. The
    * swap order is: write rewrite dir (commits `_SUCCESS` last) →
    * rename store→trash → rename rewrite→store → delete trash. So on
    * entry:
    *   - store missing + committed rewrite present ⇒ the crash hit
    *     between the two renames: complete the swap;
    *   - store missing + uncommitted rewrite + trash present ⇒ abort
    *     the half-swap: restore trash (cannot happen under the stated
    *     order, but a filesystem that reorders the rename is recovered
    *     rather than data-lost);
    *   - store present ⇒ any surviving trash/rewrite dirs are stale:
    *     delete them.
    * Fails loudly when no store can be recovered.
    */
  private[graft] def recoverRawSwap(spark: SparkSession, dir: String,
                                    store: String = "embeddings"): Unit = {
    val real = rawPath(dir, store)
    val fs = real.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = tmpPath(dir, store)
    val trash = trashPath(dir, store)
    def committed(p: Path) = fs.exists(new Path(p, "_SUCCESS"))
    if (!fs.exists(real) && committed(tmp)) fs.rename(tmp, real)
    if (!fs.exists(real) && fs.exists(trash)) fs.rename(trash, real)
    require(fs.exists(real),
      s"recoverRawSwap: no $store store at $real and nothing to " +
        "recover — the corpus dir has no raw store")
    if (fs.exists(trash)) fs.delete(trash, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** The shared rewrite half of both applies: write `live` beside the
    * store, swap it in (the crash windows [[recoverRawSwap]] names),
    * refresh path caches, and return the number of rows erased.
    * Requires a directory-backed store — a single-file snapshot is a
    * read-only corpus and fails loudly.
    */
  private def rewriteStore(spark: SparkSession, dir: String, store: String,
                           before: DataFrame, total: Long,
                           tomb: DataFrame, keyCol: String): Long = {
    val real = rawPath(dir, store)
    val fs = real.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.getFileStatus(real).isDirectory,
      s"applyForget: $real is a single parquet FILE — a read-only " +
        "corpus snapshot; the erase needs a directory-backed store " +
        "(copy the snapshot into a directory first)")
    before.join(broadcast(tomb.select(col("cid").as("__forgotten_cid"))),
      col(keyCol) === col("__forgotten_cid"), "left_anti")
      .write.mode("overwrite").parquet(tmpPath(dir, store).toString)
    val erased =
      total - spark.read.parquet(tmpPath(dir, store).toString).count()
    fs.rename(real, trashPath(dir, store))
    fs.rename(tmpPath(dir, store), real)
    fs.delete(trashPath(dir, store), true)
    spark.catalog.refreshByPath(real.toString)
    erased
  }

  /** Physically apply the tombstone log when it has reached
    * `minTombstones` entries: rewrite the raw embeddings store without
    * the forgotten rows (the crash-safe swap above), purge+rebuild
    * every vector-derived standing surface PRESENT for this
    * deployment's shape (IVF cells, IVF-PQ cells, PQ codes, the three
    * rungs — each retrains/re-derives from the rewritten raw store, so
    * the forgotten vectors cannot survive in any of them), then clear
    * the tombstone log. Returns the number of raw rows erased, or -1
    * when below threshold / nothing pending.
    *
    * This is the corpus-proportional pass deletions amortize into —
    * same economics as silver compaction; between applies the
    * read-path filter serves correctness at broadcast cost. Shape
    * parameters mirror [[graft.streaming.Metrics.serveHealth]] (env
    * derivation via [[graft.tools.Maintenance.Shapes.fromEnv]]), so the
    * maintenance loop erases exactly the surfaces the deployment serves.
    * Single-maintainer contract: run quiesced — no search or sibling
    * maintenance pass may touch the corpus dir or its standing tables
    * during the apply. Requires a directory-backed store
    * ([[rewriteStore]] refuses a single-file snapshot). Replay
    * safety: a crash anywhere re-runs into the recovery preamble plus
    * idempotent rebuilds — the tombstone log is cleared LAST, so no
    * crash window can lose a pending deletion.
    */
  def applyForgetIfNeeded(spark: SparkSession, dir: String,
                          ivfNq: Int = 10, ivfNc: Int = 16, pqNq: Int = 10,
                          rungNq: Int = 10, rungPrefix: Int = 16,
                          shapes: graft.tools.Maintenance.Shapes =
                            graft.tools.Maintenance.Shapes(),
                          minTombstones: Long = 1L): Long = {
    // the log is cleared LAST by a completed apply, so log-absent means
    // no apply is pending or mid-flight — gating the recovery (and the
    // store requirement) behind it keeps this pass a true no-op on a
    // deployment whose corpus dir has no vector store at all
    if (!forgetTableExists(spark, dir)) return -1L
    recoverRawSwap(spark, dir)
    val tomb = forgottenIds(spark, dir).localCheckpoint(true)
    val nTomb = tomb.count()
    if (nTomb < minTombstones) return -1L
    val before = Similarity.embeddings(spark, dir)
    val erased = rewriteStore(spark, dir, "embeddings", before,
      before.count(), tomb, "vec_id")
    // rebuild every vector-derived surface present for this shape —
    // each is derived state, so purge+ensure from the rewritten store
    // IS the erase (the compaction mechanism with a deletion trigger)
    if (Rung.binaryIndexExists(spark, dir, rungNq) ||
      Rung.matryoshkaIndexExists(spark, dir, rungNq, rungPrefix) ||
      Rung.int8IndexExists(spark, dir, rungNq)) {
      Rung.purgeRungIndexes(spark, dir, rungNq, rungPrefix)
      Rung.ensureBinaryIndex(spark, dir, rungNq)
      Rung.ensureMatryoshkaIndex(spark, dir, rungNq, rungPrefix)
      Rung.ensureInt8Index(spark, dir, rungNq)
    }
    if (Similarity.ivfIndexExists(spark, dir, ivfNq, ivfNc,
      shapes.ivfIters, shapes.ivfSampleMod, shapes.ivfSampleCap)) {
      Similarity.purgeIvfIndex(spark, dir, ivfNq, ivfNc, shapes.ivfIters,
        shapes.ivfSampleMod, shapes.ivfSampleCap)
      Similarity.ensureIvfIndex(spark, dir, ivfNq, ivfNc, shapes.ivfIters,
        shapes.ivfSampleMod, shapes.ivfSampleCap)
    }
    if (Pq.pqIndexExists(spark, dir, pqNq, shapes.pqNSub, shapes.pqKSub,
      shapes.pqIters, shapes.pqSampleMod, shapes.pqSampleCap)) {
      Pq.purgePqIndex(spark, dir, pqNq, shapes.pqNSub, shapes.pqKSub,
        shapes.pqIters, shapes.pqSampleMod, shapes.pqSampleCap)
      Pq.ensurePqIndex(spark, dir, pqNq, shapes.pqNSub, shapes.pqKSub,
        shapes.pqIters, shapes.pqSampleMod, shapes.pqSampleCap)
    }
    if (IndexCatalog.hasCommittedData(spark,
      Pq.ivfpqCellsTable(dir, Pq.ivfpqKey(pqNq, ivfNc, shapes.pqNSub,
        shapes.pqKSub, shapes.pqIters, shapes.pqSampleMod,
        shapes.pqSampleCap)))) {
      Pq.purgeIvfPqIndex(spark, dir, pqNq, ivfNc, shapes.pqNSub,
        shapes.pqKSub, shapes.pqIters, shapes.pqSampleMod,
        shapes.pqSampleCap)
      Pq.ensureIvfPqIndex(spark, dir, pqNq, ivfNc, shapes.pqNSub,
        shapes.pqKSub, shapes.pqIters, shapes.pqSampleMod,
        shapes.pqSampleCap)
    }
    // applied everywhere — clear the log LAST (a crash above replays
    // with the tombstones intact; clearing first would lose them)
    purgeForgetTable(spark, dir)
    erased
  }

  // ————————————————————————— the document-side family —————————————————————————

  /** True when a doc tombstone log exists for `dir`. */
  def forgetDocsTableExists(spark: SparkSession, dir: String): Boolean =
    IndexCatalog.hasCommittedData(spark, forgetDocsTable(dir))

  /** Drop the doc tombstone log (catalog entry and data). */
  def purgeForgetDocsTable(spark: SparkSession, dir: String): Unit =
    IndexCatalog.purge(spark, forgetDocsTable(dir))

  /** [[TextDedup.candidatePairs]] over the live corpus — MinHash-LSH
    * candidate pairs with tombstoned documents excluded BEFORE the
    * band-bucket grouping, so a forgotten doc neither emits pairs nor
    * occupies a capped bucket slot (the same filter-before-rank
    * discipline as the vector searches: bucket membership under the
    * [[TextDedup.maxBucket]] cap is order-sensitive, so a post-hoc pair
    * filter would differ from a corpus the doc never entered —
    * ForgetSpec pins the counterfactual identity). The standing-index
    * path ([[TextDedup.nearDupPairsIndexed]]) composes the same
    * [[excludeForgottenDocs]] anti-join on its band-table scan.
    */
  def candidatePairsLive(spark: SparkSession, dir: String): DataFrame =
    TextDedup.candidatePairsFromBands(
      excludeForgottenDocs(spark, dir,
        TextDedup.bands(TextDedup.signatures(spark, dir)), "doc_id"),
      TextDedup.maxBucket)

  /** The doc-side erasure receipt — DISTINCT-key semantics (one doc
    * spans many band/gram rows, so "rows" is not the privacy-relevant
    * unit): per surface, the distinct doc keys present and how many of
    * them are tombstoned-but-resident. Surfaces: the raw documents
    * store, the standing dedup band table (ensured; it covers the
    * STANDING-corpus partition [[TextDedup.ensureDedupIndex]] builds —
    * doc_id % 10 in 0..7 — so its counts carry that predicate), and the
    * tombstone log itself. The substring gram index is not a surface
    * here: it holds per-gram counts, no doc keys, and
    * [[applyForgetDocsIfNeeded]] rebuilds it when present.
    */
  def forgetDocsAudit(spark: SparkSession, dir: String): DataFrame = {
    TextDedup.ensureDedupIndex(spark, dir)
    val tomb = forgottenDocIds(spark, dir).localCheckpoint(true)
    val marked = tomb.select(col("cid").as("k"), lit(1L).as("t"))
    def row(surface: String, f: DataFrame, keyCol: String): DataFrame =
      f.select(col(keyCol).as("k")).distinct()
        .join(broadcast(marked), Seq("k"), "left")
        .agg(count(lit(1)).as("keys_total"),
          coalesce(sum(col("t")), lit(0L)).as("forgotten_resident"))
        .select(lit(surface).as("surface"), col("keys_total"),
          col("forgotten_resident"))
    row("raw_documents", TextDedup.documents(spark, dir), "doc_id")
      .unionByName(row("dedup_bands",
        spark.table(TextDedup.bandsTable(dir)), "doc_id"))
      .unionByName(tomb.agg(count(lit(1)).as("keys_total"))
        .select(lit("tombstones").as("surface"), col("keys_total"),
          col("keys_total").as("forgotten_resident")))
      .orderBy(col("surface"))
  }

  /** The doc-side physical erase: rewrite the documents store without
    * the tombstoned rows (same crash-safe swap), rebuild the
    * doc-derived standing surfaces present for `dir` (the dedup band
    * table; the substring gram index at `gramN` when one exists — both
    * re-derive from the rewritten store), clear the doc log LAST. Same
    * threshold economics, replay safety, and single-maintainer
    * contract as [[applyForgetIfNeeded]].
    *
    * Trained-state deletion semantics, doc side (r15 VERDICT next #8 —
    * the text twin of frozen IVF centroids and PQ codebooks, which keep
    * a deleted vector's statistical influence until the next retrain).
    * Doc-derived trained state falls in three classes, each with its
    * own erase moment: (1) per-query-trained artifacts (DSIR weights,
    * langid/quality scores) train from the store on every call, so the
    * NEXT call after this apply excludes the forgotten docs by
    * construction; (2) session-MEMOIZED models (the classifier's
    * count model, the BPE dict) pin materialized pre-erase statistics,
    * so this apply invalidates both memos for `dir` — a post-apply
    * retrain provably equals training on a corpus the docs never
    * entered (ForgetSpec pins it); (3) standing FROZEN state trained
    * from OTHER stores (the winsorize bounds index freezes from the
    * events table) is out of this apply's scope and follows its own
    * refreeze cycle ([[graft.ops.Analytics.refreezeBoundsIndexIfNeeded]]
    * in the maintenance loop) — the honest statement is the IVF one:
    * frozen statistics retain the deleted rows' influence until that
    * cycle retrains, while row CONTENT is gone immediately.
    */
  def applyForgetDocsIfNeeded(spark: SparkSession, dir: String,
                              gramN: Int = 5,
                              minTombstones: Long = 1L): Long = {
    if (!forgetDocsTableExists(spark, dir)) return -1L
    recoverRawSwap(spark, dir, "documents")
    val tomb = forgottenDocIds(spark, dir).localCheckpoint(true)
    if (tomb.count() < minTombstones) return -1L
    val before = TextDedup.documents(spark, dir)
    val erased = rewriteStore(spark, dir, "documents", before,
      before.count(), tomb, "doc_id")
    if (IndexCatalog.hasCommittedData(spark, TextDedup.bandsTable(dir))) {
      TextDedup.purgeDedupIndex(spark, dir)
      TextDedup.ensureDedupIndex(spark, dir)
    }
    if (TextDedup.substringIndexExists(spark, dir, gramN)) {
      TextDedup.purgeSubstringIndex(spark, dir, gramN)
      TextDedup.ensureSubstringIndex(spark, dir, gramN)
    }
    // trained-state class (2): drop the session memos trained on the
    // pre-erase store, so the next classifier/tokenizer call retrains
    Classifier.invalidateModelsFor(dir)
    TextAnalysis.invalidateBpeFor(dir)
    purgeForgetDocsTable(spark, dir)
    erased
  }
}
