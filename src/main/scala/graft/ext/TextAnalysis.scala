package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Ingest
import graft.ops.Exact.{round6, round9}

/** Text-analysis operators for the LLM-data-pipeline extension set
  * (SURVEY §7.6): language ID (stopword n-gram heuristic), quality
  * scoring, token counting (whitespace + regex), vocabulary stats, and
  * document fingerprinting.
  *
  * Everything here is built from codegen'd built-in functions (split,
  * regexp_*, higher-order array functions) — no UDFs, so the whole operator
  * set stays inside WholeStageCodegen and is a narrow projection over the
  * documents scan (zero shuffles except where a groupBy is the semantics,
  * e.g. vocabulary). At 100 TB that means text analysis is scan-bound.
  */
object TextAnalysis {

  def documents(spark: SparkSession, dir: String): DataFrame =
    Ingest.table(spark, dir, "documents")

  /** [[documents]] behind the scale-adaptive scan-parallelism floor
    * (r18, [[graft.ops.Ingest.tableWide]]) — ONLY for the consumers
    * whose scan-local text work measured as the wall (qualityGate's
    * metrics pass 3.6×, the big-vocab unk mask 1.4×). Reader-level
    * fan-out was measured a net LOSS: the exchange is a flat ~0.1 s tax
    * on the dozens of near-floor scan-local queries.
    */
  private def documentsWide(spark: SparkSession, dir: String): DataFrame =
    Ingest.tableWide(spark, dir, "documents", "doc_id")

  /** Whitespace tokens (the synthetic corpus is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Per-language stopword dictionaries (tiny, deterministic — the
    * heuristic's quality is bounded, by design; the operator shape is what
    * scales to a real lexicon broadcast to executors).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "you", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "por", "con", "los", "se"),
    "fr" -> Seq("le", "la", "et", "les", "des", "en", "un", "une", "que", "dans"))

  private def dictCol(lang: String): Column =
    array(stopwords(lang).map(lit): _*)

  /** Fraction of tokens present in `dict` — exact rational in double. */
  def dictRatio(toks: Column, dict: Column): Column =
    size(filter(toks, t => array_contains(dict, t))).cast("double") / size(toks)

  /** Occurrence count of the single most frequent element of `arr`
    * (the array's mode count): sort, then one linear run-length scan via
    * `aggregate`. O(n log n) per row, replacing the O(n²)
    * `array_distinct × filter` formulation (each distinct element
    * re-scanning the whole array) — identical value FOR NON-EMPTY,
    * NULL-FREE arrays, the only inputs the call sites produce (token /
    * n-gram arrays of non-empty documents): on an empty array this
    * returns 0 where the brute force returns null, and a null element
    * counts as a run here (`<=>`) where `array_contains`-style counting
    * would skip it. On the sf0.1
    * corpus this halves the quality-gate/repetition scan cost; at 100 TB
    * the difference is quadratic-vs-linearithmic in document length.
    */
  def maxRunCount(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Language-ID: argmax of per-language stopword ratios with a fixed
    * priority order (en > de > es > fr) for ties — deterministic.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val w = tokens(lower(col("text")))
    val scored = documents(spark, dir)
      .withColumn("s_en", dictRatio(w, dictCol("en")))
      .withColumn("s_de", dictRatio(w, dictCol("de")))
      .withColumn("s_es", dictRatio(w, dictCol("es")))
      .withColumn("s_fr", dictRatio(w, dictCol("fr")))
    scored.select(col("doc_id"), col("lang"),
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
        col("s_en") >= col("s_fr"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr").as("lang_guess"),
      round6(greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr")))
        .as("lang_score"))
  }

  /** The composite quality score as a pure column of `text` — shared by
    * [[quality]] and the per-source [[sourceScorecard]] rollup.
    */
  private def punctRatioCol: Column =
    length(regexp_replace(col("text"), "[a-z ]", "")).cast("double") /
      length(col("text"))
  private[graft] def qualityScoreCol: Column = {
    val stopRatio = dictRatio(tokens(lower(col("text"))), dictCol("en"))
    round6((lit(1.0) - punctRatioCol) * 0.5 +
      least(stopRatio * 10, lit(1.0)) * 0.5)
  }

  /** Survival curve behind the quality gate — the dataset-card artifact
    * every filter-strength decision quotes (the sibling of
    * `dedup_threshold_sweep` on the quality axis): for each candidate
    * cutoff, the documents and tokens that would survive
    * `quality_score >= cutoff`, with their fractions of the corpus. ONE
    * pass: the per-doc score computes once (narrow two-column
    * checkpoint), each doc explodes only into the cutoffs it clears,
    * and the grid left-join emits every sweep point — a cutoff nothing
    * clears still shows its zero.
    */
  def qualitySweep(spark: SparkSession, dir: String,
                   ths: Seq[Double] = Seq(0.2, 0.4, 0.6, 0.8)): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, dir)
      .select(qualityScoreCol.as("qs"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint(true) // score once; totals + survival both read it
    val totals = docs.agg(count(lit(1)).as("total_docs"),
      sum(col("n_tokens")).as("total_tokens"))
    val thArr = array(ths.sorted.map(lit): _*)
    val surv = docs
      .select(explode(filter(thArr, t => col("qs") >= t)).as("threshold"),
        col("n_tokens"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    ths.sorted.toDF("threshold")
      .join(surv, Seq("threshold"), "left")
      .crossJoin(broadcast(totals))
      .select(col("threshold"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round6(coalesce(col("n_docs"), lit(0L)).cast("double") /
          col("total_docs")).as("kept_docs_frac"),
        round6(coalesce(col("n_tokens"), lit(0L)).cast("double") /
          col("total_tokens")).as("kept_tokens_frac"))
      .orderBy(col("threshold"))
  }

  /** Quality metrics: char/token counts, regex token count, punctuation
    * ratio, mean token length, stopword ratio, and a composite score.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val w = tokens(col("text"))
    val punctRatio = punctRatioCol
    val stopRatio = dictRatio(tokens(lower(col("text"))), dictCol("en"))
    documents(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      size(w).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("n_tokens_re"),
      punctRatio.as("punct_ratio"),
      (length(col("text")).cast("double") / size(w)).as("mean_tok_len"),
      round6(stopRatio).as("stopword_ratio"),
      qualityScoreCol.as("quality_score"))
  }

  /** Per-source quality scorecard — the mixture-decision artifact: one
    * row per source with its document and token mass, token share, the
    * Gopher-rule keep rate, and the mean composite quality score. This
    * is the table a curation run reads before setting
    * `mixture_weights` / `sample_stratified` rates: which sources are
    * big, which are clean, which the rules would gut.
    *
    * Scale shape: ONE corpus scan — [[gopherFlags]] passes the source
    * column through its projection and the quality score is a pure
    * column of the same row — folded map-side into a sources-sized
    * groupBy. The mean quality rides the registry's exact-sum
    * convention (round-6 doubles cast DECIMAL(27,6), summed exactly,
    * ONE final division); the share denominators come from a window
    * over the sources-sized rollup, not a second scan.
    */
  def sourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val flagged = gopherFlags(documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), col("source")))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    flagged
      .select(col("source"), col("keep"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        qualityScoreCol.as("qs"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_gopher_keep"),
        sum(col("qs").cast("decimal(27,6)")).as("qsum"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(wAll))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round6(col("n_tokens").cast("double") /
          col("total_tokens").cast("double")).as("token_share"),
        col("n_gopher_keep"),
        round6(col("n_gopher_keep").cast("double") /
          col("n_docs").cast("double")).as("gopher_keep_rate"),
        // qsum/n_docs is the bigramLm defect pattern (a 6-dp sum over a
        // count terminates ON round() half-way boundaries that the two
        // engines resolve differently) — nano-unit floor division, no
        // round() of the quotient. Divide-then-remainder (ADVICE r12):
        // the one-shot (micro * 1000) div n form overflows BIGINT once
        // a source holds ~9.2e9 docs (micro ≈ n_docs·1e6); splitting as
        // (micro div n)*1000 + ((micro mod n)*1000) div n is the same
        // floor exactly (micro = q·n + r ⇒ floor(micro·1000/n) =
        // q·1000 + floor(r·1000/n)) with intermediates ≤ n·1000
        (expr("((cast(qsum * 1000000 as bigint) div n_docs) * 1000L) + " +
          "(((cast(qsum * 1000000 as bigint) % n_docs) * 1000L) div n_docs)")
          .cast("double") / lit(1e9)).as("mean_quality"))
      .orderBy(col("source"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, token-level
    * variant): the fraction of bigram occurrences taken by the single most
    * frequent bigram, and the fraction of trigram occurrences that are
    * repeats of an earlier trigram in the same document. High values mark
    * boilerplate / degenerate generations.
    *
    * Everything is per-document array arithmetic over the token list —
    * higher-order array functions inside one codegen'd projection. The
    * mode count comes from [[maxRunCount]]'s sorted run-length scan
    * (O(len·log len) per document, bounded by document length, not corpus
    * size), so at 100 TB the operator stays scan-bound with ZERO
    * shuffles — repetition filtering never pays a groupBy.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val metrics = documents(spark, dir)
      .withColumn("w", tokens(col("text")))
      .withColumn("bg", transform(
        sequence(lit(1), greatest(size(col("w")) - 1, lit(1))),
        i => concat_ws(" ", slice(col("w"), i, lit(2)))))
      .withColumn("tg", transform(
        sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
        i => concat_ws(" ", slice(col("w"), i, lit(3)))))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        round6(maxRunCount(col("bg")).cast("double") /
          size(col("bg"))).as("top_bigram_frac"),
        round6((size(col("tg")) - size(array_distinct(col("tg"))))
          .cast("double") / size(col("tg"))).as("dup_trigram_frac"))
    metrics
      .withColumn("keep_repetition",
        col("top_bigram_frac") <= 0.06 && col("dup_trigram_frac") <= 0.02)
  }

  /** The complete Gopher document-level rule family (Rae et al. 2021
    * §A1.1) with one boolean flag per rule plus the AND gate — the
    * published filter set a curation run reports rule-by-rule, not just
    * as a single keep bit:
    *   - `r_words`:    word count within [minWords, maxWords]
    *   - `r_meanlen`:  mean word length within [3, 10] chars
    *   - `r_symbol`:   (hash + ellipsis) to word ratio ≤ 0.1
    *   - `r_alpha`:    ≥ 80% of words contain an alphabetic character
    *   - `r_bullet`:   ≤ 90% of lines start with a bullet
    *   - `r_ellipsis`: ≤ 30% of lines end with an ellipsis
    *   - `r_stop`:     ≥ `minStopHits` distinct stop words present
    *
    * Every flag is decided by EXACT INTEGER cross-multiplication
    * (`10·symbols ≤ words` rather than `symbols/words ≤ 0.1`), so no
    * float rounding can flip a borderline document in either engine;
    * the ratio columns are display-rounded doubles derived from the
    * same integers. Thresholds follow the paper; `minWords`/`maxWords`
    * and the stop list are parameters (the demo values suit the
    * synthetic corpus — Gopher's 50..100k word bounds and 8-word stop
    * list would degenerate on 10-99-word single-line documents).
    *
    * Scale shape: one codegen'd projection over the documents scan —
    * per-document array arithmetic only, ZERO shuffles before the
    * output sort. The full rule family costs one corpus read.
    */
  def gopherRules(spark: SparkSession, dir: String,
                  minWords: Int = 30, maxWords: Int = 90,
                  stopWords: Seq[String] = Seq("the", "a"),
                  minStopHits: Int = 2): DataFrame =
    gopherFlags(documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text")),
      minWords, maxWords, stopWords, minStopHits)
      .drop("text")
      .orderBy(col("doc_id"))

  /** The Gopher repetition rules by CHARACTER MASS (Rae et al. 2021
    * Table A1's actual accounting) — the heavyweight sibling of
    * [[repetition]]'s occurrence-fraction signals: text whose content REPEATS (template
    * chrome, keyword stuffing, generation loops) is low-value however
    * well-shaped each line is. The corpus has no line structure, so the
    * duplicate-line metric runs over non-overlapping `spanLen`-token
    * spans (the [[Curation.cleanBoilerplate]] precedent); the n-gram
    * metrics are the paper's: characters covered by the single most
    * frequent `topN`-gram, and by all duplicated `dupN`-grams
    * (occurrences counted naively, the standard public approximation).
    * Thresholds are the paper's 0.30 / 0.20 / 0.15, compared in
    * EXACT INTEGERS (`5·topchars ≤ n_chars`, never a float ratio).
    *
    * Scale shape: one codegen'd kernel pass per document
    * ([[graft.catalyst.HashExpressions.RepetitionStats]] — hash-counted
    * views built in one tight JVM loop, no interpreted HOF, no
    * explode), ZERO shuffles before the output sort.
    */
  def repetitionMass(spark: SparkSession, dir: String, spanLen: Int = 8,
                     topN: Int = 2, dupN: Int = 5): DataFrame =
    repetitionMassFlags(documents(spark, dir)
      .select(col("doc_id"), col("text")), spanLen, topN, dupN)
      .drop("text")
      .orderBy(col("doc_id"))

  /** [[repetitionMass]] as a frame transformer over any frame with a
    * `text` column — a pure row function like [[gopherFlags]]. Appends
    * the metric, flag, and `keep` columns.
    */
  def repetitionMassFlags(docs: DataFrame, spanLen: Int = 8, topN: Int = 2,
                          dupN: Int = 5): DataFrame = {
    // refuse inputs already carrying an output column — the silent-
    // clobber class Classifier.scoreAgainstModel guards against
    val reserved = Seq("_rs", "n_chars", "n_spans", "n_dup_spans",
      "dup_span_frac", "top_gram", "top_cnt", "top_gram_char_frac",
      "dup_gram_char_frac", "r_dupspan", "r_topgram", "r_dupgram", "keep")
    val clash = docs.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"repetitionMassFlags appends ${reserved.drop(1).mkString(", ")}; " +
        s"the input frame already carries ${clash.mkString(", ")} — " +
        "rename or drop those columns first (they would be silently " +
        "overwritten)")
    val passthrough = docs.columns.map(col).toSeq
    docs
      .withColumn("_rs", graft.catalyst.HashExpressions.repetitionStats(
        tokens(col("text")), spanLen, topN, dupN))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(passthrough ++ Seq(
        col("n_chars"),
        col("_rs.n_spans").as("n_spans"),
        col("_rs.n_dup_spans").as("n_dup_spans"),
        round6(col("_rs.n_dup_spans").cast("double") / col("_rs.n_spans"))
          .as("dup_span_frac"),
        col("_rs.top_gram").as("top_gram"),
        col("_rs.top_cnt").as("top_cnt"),
        round6(col("_rs.top_cnt").cast("double") * col("_rs.top_chars") /
          col("n_chars")).as("top_gram_char_frac"),
        round6(col("_rs.dup_chars").cast("double") / col("n_chars"))
          .as("dup_gram_char_frac"),
        (lit(10L) * col("_rs.n_dup_spans") <= lit(3L) * col("_rs.n_spans"))
          .as("r_dupspan"),
        (lit(5L) * col("_rs.top_cnt") * col("_rs.top_chars") <=
          col("n_chars")).as("r_topgram"),
        (lit(20L) * col("_rs.dup_chars") <= lit(3L) * col("n_chars"))
          .as("r_dupgram"),
        ((lit(10L) * col("_rs.n_dup_spans") <=
          lit(3L) * col("_rs.n_spans")) &&
          (lit(5L) * col("_rs.top_cnt") * col("_rs.top_chars") <=
            col("n_chars")) &&
          (lit(20L) * col("_rs.dup_chars") <= lit(3L) * col("n_chars")))
          .as("keep")): _*)
  }

  /** The rule computation as a frame transformer over any frame with a
    * `text` column — a PURE ROW FUNCTION, so an ingest-time gate that
    * applies it to arriving documents can never diverge from the
    * backfill. Appends the metric, flag, and `keep` columns.
    */
  def gopherFlags(docs: DataFrame,
                  minWords: Int = 30, maxWords: Int = 90,
                  stopWords: Seq[String] = Seq("the", "a"),
                  minStopHits: Int = 2): DataFrame = {
    val stopList = array(stopWords.map(lit): _*)
    val passthrough = docs.columns.map(col).toSeq
    val base = docs
      .withColumn("w", tokens(col("text")))
      .withColumn("lines", split(col("text"), "\n"))
      .select(passthrough ++ Seq(
        size(col("w")).cast("long").as("n_words"),
        aggregate(col("w"), lit(0L), (acc, t) => acc + length(t))
          .as("tot_chars"),
        ((length(col("text")) -
          length(translate(col("text"), "#", ""))) +
          size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0))))
          .cast("long").as("n_symbols"),
        size(filter(col("w"), t => t.rlike("[a-zA-Z]")))
          .cast("long").as("n_alpha"),
        size(col("lines")).cast("long").as("n_lines"),
        size(filter(col("lines"), l =>
          substring(l, 1, 2) === "- " || substring(l, 1, 2) === "* "))
          .cast("long").as("n_bullet"),
        size(filter(col("lines"), l => l.endsWith("...")))
          .cast("long").as("n_ellipsis"),
        size(filter(array_distinct(col("w")),
          t => array_contains(stopList, t))).cast("long").as("stop_hits")): _*)
    base.select(
      passthrough ++ Seq(
        col("n_words"),
        round6(col("tot_chars").cast("double") / col("n_words"))
          .as("mean_word_len"),
        round6(col("n_symbols").cast("double") / col("n_words"))
          .as("symbol_ratio"),
        round6(col("n_alpha").cast("double") / col("n_words"))
          .as("alpha_frac"),
        col("stop_hits"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .as("r_words"),
        (col("tot_chars") >= lit(3L) * col("n_words") &&
          col("tot_chars") <= lit(10L) * col("n_words")).as("r_meanlen"),
        (lit(10L) * col("n_symbols") <= col("n_words")).as("r_symbol"),
        (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")).as("r_alpha"),
        (lit(10L) * col("n_bullet") <= lit(9L) * col("n_lines"))
          .as("r_bullet"),
        (lit(10L) * col("n_ellipsis") <= lit(3L) * col("n_lines"))
          .as("r_ellipsis"),
        (col("stop_hits") >= minStopHits).as("r_stop")): _*)
      .withColumn("keep",
        col("r_words") && col("r_meanlen") && col("r_symbol") &&
          col("r_alpha") && col("r_bullet") && col("r_ellipsis") &&
          col("r_stop"))
  }

  /** Per-language corpus report: document/token counts and the exact
    * interpolated token-count percentiles — the summary a curation run
    * emits per snapshot. One map-side-combined groupBy over 5 language
    * keys; counts and sums combine map-side.
    *
    * Scale note: `percentile` is EXACT and therefore buffers each
    * group's full value set on its reducer — per-language groups at
    * 100 TB hold billions of values, so the production swap is
    * `approx_percentile` (a bounded t-digest-style sketch that combines
    * map-side like the counts; `agg_approx_percentile` demonstrates the
    * sketch with an in-SQL error-bound check). The exact form is kept
    * here because the ORACLE needs digit-exact output; only this column
    * choice, not the plan shape, changes at scale.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round6(sum(col("n_tokens")).cast("double") / count(lit(1)))
          .as("avg_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round6(percentile(col("n_tokens"), lit(0.5))).as("p50_tokens"),
        round6(percentile(col("n_tokens"), lit(0.9))).as("p90_tokens"))
      .orderBy(col("lang"))

  /** Vocabulary: token → frequency, top-k. The one genuinely shuffling
    * text op (groupBy token with map-side combine — classic wordcount).
    */
  def vocabTopK(spark: SparkSession, dir: String, k: Int): DataFrame =
    documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** Zipf profile of the vocabulary head — the corpus-law audit a
    * tokenizer/curation run reads before fixing a vocab budget: tokens
    * ranked by frequency, grouped into rank OCTAVES (ranks [2^o, 2^o+1)),
    * one row per octave with its exact token count, frequency mass,
    * frequency extrema, head token, and the successive-octave mass
    * ratio. Under Zipf's law freq ∝ rank^-s the octave-mass ratio is the
    * constant 2^(s-1) — a flat `mass_ratio` column IS the law holding,
    * with no log-log regression (which would sum `ln` values — the
    * registry's no-libm bar, see [[unigramLm]]).
    *
    * Cross-engine exactness: the octave is `length(bin(rank)) - 1` — an
    * integer bit-length, NOT `floor(log2(rank))`: Spark's `log2` lowers
    * to `ln(x)/ln(2)`, which lands below the integer at exact powers of
    * two (log2(8) → 2.9999…96) and would floor into the wrong octave,
    * while DuckDB's is a true log2. Masses and counts are BIGINT sums;
    * `mass_ratio` and `coverage` are single IEEE divisions, rounded.
    *
    * Scale shape: one wordcount shuffle (map-side combined, vocabulary
    * key space), then a global top-`maxRank` — `TakeOrderedAndProject`,
    * partial per-partition top-k, never a full sort — so the ranked
    * window runs on a BOUNDED frame (maxRank rows) regardless of corpus
    * size; totals for `coverage` come from a separate full-vocab
    * aggregate (one tiny row, broadcast back).
    */
  def zipfProfile(spark: SparkSession, dir: String,
                  maxRank: Int = 4096): DataFrame = {
    // the vocab feeds the totals AND the ranked head — left lazy, the
    // wordcount pass would run twice; the frame is vocabulary-sized
    val vocab = documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    val totals = vocab.agg(count(lit(1)).as("vocab_size"),
      sum(col("freq")).as("total_mass"))
    val ranked = vocab
      .orderBy(col("freq").desc, col("token").asc)
      .limit(maxRank)
      .withColumn("rank", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("freq").desc, col("token").asc))
        .cast("long"))
      .withColumn("octave", (length(bin(col("rank"))) - 1).cast("long"))
    val oct = ranked.groupBy(col("octave"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("rank")).as("rank_lo"), max(col("rank")).as("rank_hi"),
        sum(col("freq")).as("mass"),
        max(col("freq")).as("max_freq"), min(col("freq")).as("min_freq"),
        min_by(col("token"), col("rank")).as("head_token"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("octave"))
    oct
      .withColumn("next_mass", lead(col("mass"), 1).over(w))
      .withColumn("cum_mass",
        sum(col("mass")).over(w.rowsBetween(Long.MinValue, 0)))
      .crossJoin(broadcast(totals))
      .select(col("octave"), col("rank_lo"), col("rank_hi"),
        col("n_tokens"), col("mass"), col("max_freq"), col("min_freq"),
        col("head_token"),
        round6(col("mass").cast("double") / col("next_mass").cast("double")).as("mass_ratio"),
        round6(col("cum_mass").cast("double") /
          col("total_mass").cast("double")).as("coverage"),
        col("vocab_size"), col("total_mass"))
      .orderBy(col("octave"))
  }

  /** Heaps-law audit — vocabulary growth as the corpus grows: the corpus
    * is carved into four deterministic hash-quartiles (first hex char of
    * md5("hp:"+doc_id) div 4 — hash-ordered prefixes are exchangeable
    * subsets, so the growth curve is reshard- and order-invariant), and
    * each quartile reports its token occurrences, NEW vocabulary types
    * (tokens whose first quartile it is), cumulative totals, and the
    * type–token ratios. Heaps' law V ∝ N^β (β < 1) shows up as a
    * falling `new_type_rate` across quartiles — the signal that decides
    * "will more data keep buying vocabulary" without any `ln` (the
    * registry's no-libm bar).
    *
    * Scale shape: the quartile is a scan-local pure function of doc_id;
    * ONE corpus explode folds map-side into (quarter, token) counts
    * (≤4× vocabulary keys, checkpointed), and both rollups — per-
    * quartile occurrences and first-quartile-per-token — are
    * vocabulary-sized folds of that frame; the join and windows run on
    * 4 rows. All counts BIGINT-exact; ratios are single IEEE
    * divisions, rounded.
    */
  def heapsProfile(spark: SparkSession, dir: String): DataFrame = {
    val quart = floor(conv(substring(md5(concat(lit("hp:"),
      col("doc_id").cast("string")).cast("binary")), 1, 1), 16, 10)
      .cast("long") / 4).cast("long")
    // ONE corpus explode folded to (quarter, token) counts; both
    // downstream rollups are vocabulary-sized folds of this frame
    val tokc = documents(spark, dir)
      .select(quart.as("quarter"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("quarter"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val occ = tokc.groupBy(col("quarter"))
      .agg(sum(col("cnt")).as("n_tokens"))
    val newTypes = tokc.groupBy(col("token"))
      .agg(min(col("quarter")).as("first_q"))
      .groupBy(col("first_q")).agg(count(lit(1)).as("n_new_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("quarter"))
      .rowsBetween(Long.MinValue, 0)
    occ.join(newTypes.withColumnRenamed("first_q", "quarter"),
        Seq("quarter"), "left")
      .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
      .select(col("quarter"), col("n_tokens"), col("n_new_types"),
        col("cum_tokens"), col("cum_types"),
        round6(col("cum_types").cast("double") /
          col("cum_tokens").cast("double")).as("type_token_ratio"),
        round6(col("n_new_types").cast("double") /
          col("n_tokens").cast("double")).as("new_type_rate"))
      .orderBy(col("quarter"))
  }

  /** Per-document keyword extraction — top-k TF-IDF terms, the doc-
    * tagging/indexing artifact a corpus browser or retrieval index
    * build reads. DOCUMENTED DEVIATION, same policy as [[unigramLm]]'s
    * no-log mean: the IDF factor is the RATIO N/df, not log(N/df) —
    * `ln` carries no cross-engine bit guarantee and the registry's bar
    * is hash-exact oracles. Per-document RANKINGS under tf·N/df are
    * monotone-equivalent per fixed df to the log form's; across terms
    * the ratio weighs rarity more steeply (a harmless re-mix for a
    * keyword table, whose job is surfacing distinctive terms).
    *
    * Scale shape: one corpus scan → (doc, term) counts (map-side
    * combined); df folds the SAME frame by term (vocabulary key
    * space); the vocabulary-sized df model broadcasts back; the
    * per-doc top-k is a doc_id-keyed window — keyed shuffle, no
    * single reducer. Score = one IEEE division and one multiply in
    * fixed order on exact BIGINTs — bit-identical cross-engine.
    */
  def keywords(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val dt = documentsWide(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = dt.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_raw").desc, col("token").asc)
    dt.join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score_raw",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("rank"), round6(col("score_raw")).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Collocation mining — the word2phrase/tokenizer-prep op (Mikolov et
    * al. 2013 §4): adjacent word pairs whose corpus count beats chance,
    * scored by lift = P(ab) / (P(a)·P(b)) and reported top-k. A high-lift
    * pair ("new york") is a phrase candidate the tokenizer should learn
    * as a unit; the `minCount` floor is word2phrase's discounting of
    * rare accidents.
    *
    * Cross-engine exactness: counts are BIGINT; lift is computed as
    * `(n_ab / n_a) · (N / n_b)` — two exactly-rounded IEEE divisions
    * and one multiply in a FIXED order, so both engines produce the
    * bit-identical double (the registry's no-libm bar needs no `ln`:
    * lift order ≡ PMI order). The top-k ordering ties break on
    * (w1, w2), making the cut total.
    *
    * Scale shape: one corpus scan explodes adjacent pairs → map-side-
    * combined pair counts (key space = observed-bigram vocabulary); the
    * unigram model (vocabulary-sized) broadcasts onto the pair table
    * twice; the final top-k is `TakeOrderedAndProject`. No all-pairs
    * anywhere — only observed bigrams are keyed.
    */
  def collocations(spark: SparkSession, dir: String, minCount: Int = 5,
                   k: Int = 50): DataFrame = {
    val docs = documents(spark, dir)
      .select(tokens(col("text")).as("w"))
    // the unigram model feeds TWO broadcast probes and the total — left
    // lazy, the wordcount pass would run three times
    val uni = docs.select(explode(col("w")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val total = uni.agg(sum(col("cnt")).as("n_total"))
    val pairs = docs
      .filter(size(col("w")) >= 2)
      .select(explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1))).as("p"))
      .select(col("p").getField("0").as("w1"),
        col("p").getField("1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount.toLong)
    pairs
      .join(broadcast(uni.select(col("token").as("w1"),
        col("cnt").as("n_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("token").as("w2"),
        col("cnt").as("n_b"))), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") / col("n_a").cast("double")) *
          (col("n_total").cast("double") / col("n_b").cast("double")))
          .as("lift_raw"))
      .orderBy(col("lift_raw").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        round6(col("lift_raw")).as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
  }

  /** The all-scan-local quality gate: repetition keep × composite
    * quality score × language-ID agreement, computed in ONE projection
    * over one documents scan — no joins, no shuffle before the output
    * sort. This is the filter stage a 100 TB curation run executes
    * FIRST, before any dedup pays a shuffle: every predicate is a pure
    * function of the row.
    */
  def qualityGate(spark: SparkSession, dir: String,
                  minQuality: Double = 0.5): DataFrame = {
    val wLower = tokens(lower(col("text")))
    val punctRatio =
      length(regexp_replace(col("text"), "[a-z ]", "")).cast("double") /
        length(col("text"))
    val stopRatio = dictRatio(wLower, array(stopwords("en").map(lit): _*))
    // STRUCTURE MATTERS: all array-lambda metrics land in ONE projection,
    // materialized (localCheckpoint — the output is doc_id + 7 doubles,
    // tiny at any scale) BEFORE the gate filter. Without the boundary
    // PushDownPredicate substitutes every metric alias into the filter,
    // re-inlining the bigram-mode scan per reference and pushing
    // the conjunction past codegen limits into interpreted evaluation —
    // measured 860× slower at sf0.1 (86 s vs 0.1 s for the identical
    // projection standalone). Same conf-scoping trick as
    // [[graft.plans.RangeJoinRewrite]]'s materialization.
    val metrics = documentsWide(spark, dir)
      .withColumn("w", tokens(col("text")))
      .withColumn("bg", transform(
        sequence(lit(1), greatest(size(col("w")) - 1, lit(1))),
        i => concat_ws(" ", slice(col("w"), i, lit(2)))))
      .withColumn("tg", transform(
        sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
        i => concat_ws(" ", slice(col("w"), i, lit(3)))))
      .select(col("doc_id"), col("lang"),
        round6(maxRunCount(col("bg")).cast("double") /
          size(col("bg"))).as("top_bigram_frac"),
        round6((size(col("tg")) - size(array_distinct(col("tg"))))
          .cast("double") / size(col("tg"))).as("dup_trigram_frac"),
        round6((lit(1.0) - punctRatio) * 0.5 +
          least(stopRatio * 10, lit(1.0)) * 0.5).as("quality_score"),
        dictRatio(wLower, dictCol("en")).as("s_en"),
        dictRatio(wLower, dictCol("de")).as("s_de"),
        dictRatio(wLower, dictCol("es")).as("s_es"),
        dictRatio(wLower, dictCol("fr")).as("s_fr"))
      .localCheckpoint(true)
    val langGuess =
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
        col("s_en") >= col("s_fr"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr")
    metrics
      .filter(col("top_bigram_frac") <= 0.06 &&
        col("dup_trigram_frac") <= 0.02 &&
        col("quality_score") >= minQuality &&
        langGuess === col("lang"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** BM25-shaped query relevance over the corpus — term-frequency
    * saturation and document-length normalization exactly as BM25
    * (k1 = 1.2, b = 0.75), with ONE documented deviation: the idf factor
    * is the raw Robertson ratio `(N - df + 0.5)/(df + 0.5)` WITHOUT the
    * log. The log is monotone, so per-term ordering is unchanged, and
    * dropping it keeps every arithmetic step rational-or-IEEE-identical
    * in both engines (`ln` has no cross-engine bit guarantee, and this
    * registry's bar is hash-exact oracles). Rankings differ from true
    * BM25 only in how multi-term scores mix.
    *
    * Scale shape: one scan computes per-doc tf columns (array HOFs); the
    * corpus-level stats (N, avgdl, per-term df) reduce to ONE row that
    * broadcasts back — so scoring is scan → tiny agg → scan-local
    * arithmetic, and the only full shuffle is the final top-k, which
    * TakeOrderedAndProject bounds at k rows per partition.
    */
  def relevanceTopK(spark: SparkSession, dir: String, terms: Seq[String],
                    k: Int): DataFrame = {
    val k1 = 1.2; val b = 0.75; val kPlus1 = k1 + 1.0
    val docs = documents(spark, dir)
      .withColumn("w", tokens(col("text")))
      .withColumn("dl", size(col("w")).cast("double"))
      .select(col("doc_id") +: col("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("w"), x => x === t)).cast("double").as(s"tf$i")
        }: _*)
    val aggCols = Seq(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")) / count(lit(1))).as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double")
          .as(s"df$i"))
    val stats = docs.agg(aggCols.head, aggCols.tail: _*)
    val scored = docs.crossJoin(broadcast(stats))
    val addends = terms.indices.map { i =>
      val idf = (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))
      val den = col(s"tf$i") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
      idf * (col(s"tf$i") * lit(kPlus1)) / den
    }
    // top-k FIRST via TakeOrderedAndProject (k rows per partition, k-way
    // merge — never a full-corpus sort on one reducer); the rank window
    // then runs over only k rows
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("score", addends.reduceLeft(_ + _))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("rank"),
        round6(col("score")).as("score"))
      .orderBy(col("rank"))
  }

  /** The DuckDB twin of [[relevanceTopK]], interpolating the SAME Scala
    * double constants (shortest-roundtrip printing parses back to the
    * identical double in DuckDB) so both engines run the same IEEE
    * sequence.
    */
  def relevanceOracleSql(terms: Seq[String], k: Int): String = {
    val k1 = 1.2; val b = 0.75; val kPlus1 = k1 + 1.0
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(w, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n    ")
    val addends = terms.indices.map { i =>
      s"""(n - df$i + 0.5) / (df$i + 0.5) * (tf$i * $kPlus1) /
         |    (tf$i + $k1 * (${1.0 - b} + $b * dl / avgdl))""".stripMargin
    }.mkString(" +\n    ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |t AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM d),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    sum(dl) / count(*) AS avgdl,
       |    $dfCols
       |  FROM t),
       |sc AS (SELECT doc_id,
       |    $addends AS score
       |  FROM t, s),
       |rk AS (SELECT doc_id, score,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM sc WHERE score > 0)
       |SELECT doc_id, rank, floor(CAST((score) AS DOUBLE)*1000000 + 0.5)/1000000 AS score FROM rk
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  /** Sliding token-window chunking — the "split documents into model
    * context windows" step of a training-data pipeline. Chunk `i` covers
    * tokens `[i·stride + 1, i·stride + window]` (1-based, last chunk may
    * be shorter), i ranging over `⌈n/stride⌉` starts — exactly the
    * HuggingFace `return_overflowing_tokens` stride convention.
    *
    * Pure per-row array arithmetic (sequence → slice) fanned out by one
    * `explode`: scan-bound, zero shuffle, and the chunk payload is
    * emitted as an md5 so the result stays narrow. At 100 TB chunking
    * is embarrassingly parallel — this plan keeps it that way.
    */
  def chunkWindows(spark: SparkSession, dir: String, window: Int = 64,
                   stride: Int = 48): DataFrame =
    chunkWindowsOf(documents(spark, dir), window, stride)
      .orderBy(col("doc_id"), col("chunk_no"))

  /** [[chunkWindows]] over any (doc_id, text) frame — sort-free, so it
    * applies to a STREAMING frame verbatim (stateless projection +
    * explode).
    */
  private[graft] def chunkWindowsOf(docs: DataFrame, window: Int,
                                    stride: Int): DataFrame = {
    val w = tokens(col("text"))
    docs
      .withColumn("w", w)
      .withColumn("n_chunks",
        ((size(col("w")) + lit(stride - 1)) / lit(stride)).cast("int"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        (col("chunk_no") * stride + 1).cast("long").as("start_tok"),
        size(slice(col("w"), col("chunk_no") * stride + 1, lit(window)))
          .cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("w"), col("chunk_no") * stride + 1, lit(window)))
          .cast("binary")).as("chunk_md5"))
  }

  /** Inverted-index build (the retrieval-prep twin of
    * [[relevanceTopK]]'s on-the-fly scoring): token → document
    * frequency + a CAPPED posting list, the structure a sharded search
    * tier loads. The cap is the scale decision: an uncapped
    * `collect_list` buffers a stop-word's entire posting list — a
    * billion doc_ids — on one reducer, so the engine ranks postings
    * per token first (`row_number` over the token partition) and
    * collects only rank ≤ `maxPostings`. The window and the final
    * groupBy hash-partition on the SAME key, so Catalyst reuses one
    * exchange: the whole build costs a single shuffle of (token,
    * doc_id) pairs, map-side-distinct'd. Posting lists are emitted as
    * comma-joined strings — the engine-portable encoding (and
    * hash-stable for the oracle).
    */
  def invertedIndex(spark: SparkSession, dir: String,
                    maxPostings: Int = 8, topTerms: Int = 50): DataFrame = {
    val td = documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("token"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("doc_id"))
    td.withColumn("rk", row_number().over(w))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        array_join(transform(array_sort(
          collect_list(when(col("rk") <= maxPostings, col("doc_id")))),
          d => d.cast("string")), ",").as("postings"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(topTerms)
  }

  /** Vocabulary truncation with `<unk>` masking — the tokenizer-prep
    * pass that rewrites every document so out-of-vocabulary tokens
    * become a single sentinel, bounding the token table a downstream
    * trainer must embed. Vocabulary = [[vocabTopK]] (top `v` tokens by
    * corpus frequency, ties toward the lexicographically smaller token).
    *
    * Scale shape: two passes. Pass 1 is the wordcount shuffle (map-side
    * combined, key space = distinct tokens); its top-`v` result is
    * BOUNDED BY THE CONSTANT `v`, so collecting it to the driver and
    * inlining it as an array literal is the same bounded-collect
    * contract as [[Similarity.defaultIvfSampleCap]] — the corpus never
    * leaves the executors. Pass 2 is a scan-local projection: one
    * `transform` over the token array against the broadcast literal,
    * zero additional shuffle. For a production-size vocabulary (10⁵–10⁶
    * entries) the literal swaps for a broadcast-hash-join on exploded
    * units — that path is real, registered code: [[unkMaskBigVocab]].
    */
  def unkMask(spark: SparkSession, dir: String, v: Int = 32): DataFrame = {
    val vocab: Array[String] = vocabTopK(spark, dir, v)
      .select(col("token")).collect().map(_.getString(0))
    val vlit = array(vocab.map(lit).toSeq: _*)
    val toks = tokens(col("text"))
    documents(spark, dir)
      .select(col("doc_id"),
        concat_ws(" ", transform(toks,
          w => when(array_contains(vlit, w), w).otherwise(lit("<unk>"))))
          .as("text_masked"),
        size(filter(toks, w => !array_contains(vlit, w)))
          .cast("long").as("n_unk"))
      .orderBy(col("doc_id"))
  }

  /** Production-vocabulary `<unk>` masking — [[unkMask]]'s documented
    * scale path made real code (VERDICT r6 #5): the vocabulary is a
    * standing DataFrame probed by a BROADCAST HASH JOIN on the exploded
    * unit stream, never an O(v)-per-unit literal array — the plan that
    * survives v = 10⁵–10⁶, where inlining a literal is impossible.
    *
    * The unit is the word TRIGRAM (positional, overlapping), not the
    * single token: the synthetic corpus has only 31 distinct word
    * tokens, so a production-size vocabulary needs the phrase unit (16k+
    * distinct trigrams at sf0.01) — which is also the realistic one, a
    * phrase/BPE-merge-style vocabulary. Per document the masked unit
    * stream (OOV grams → `<unk>`, original order) and the OOV count.
    *
    * Scale shape: pass 1 is the gram wordcount shuffle bounded to top-v
    * (map-side combined); pass 2 explodes grams, probes the broadcast
    * vocab map-side, and regroups by doc_id — the one corpus-wide
    * rebuild shuffle, with position order restored by array_sort, not a
    * per-doc window.
    */
  def unkMaskBigVocab(spark: SparkSession, dir: String,
                      v: Int = 4096): DataFrame = {
    // The token array is hoisted to its own projection so the gram lambda
    // reads a per-row attribute (O(1) per element) instead of re-running
    // the inlined split once per gram position (O(n) per element — O(n²)
    // per document in interpreted HOF evaluation; the same trap
    // [[Similarity.int8RescoreTopK]] hoists `scale` out of).
    val gramStream = transform(
      sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
      i => concat_ws(" ", slice(col("w"), i, lit(3))))
    val grams = documentsWide(spark, dir)
      .withColumn("w", tokens(col("text")))
      .select(col("doc_id"), posexplode(gramStream).as(Seq("pos", "gram")))
    val vocab = grams.groupBy(col("gram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("gram").asc).limit(v)
      .select(col("gram"), lit(true).as("in_vocab"))
    grams.join(broadcast(vocab), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws("|", transform(array_sort(collect_list(struct(col("pos"),
          when(col("in_vocab"), col("gram")).otherwise(lit("<unk>"))
            .as("m")))),
          s => s.getField("m"))).as("text_masked"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_unk"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM quality scoring — the corpus-LM document filter shape
    * (CCNet, Wenzek et al. 2020 §3.3 scores each document under a
    * language model and filters on the score; the 5-gram KenLM is
    * replaced here by the corpus's own unigram model, which is the
    * operator's plan shape with the smallest model that is still a
    * trained artifact). Each token's corpus frequency is the model; per
    * document the engine emits the EXACT-arithmetic likelihood summary:
    * mean token probability, minimum token probability (the "most
    * surprising token"), and the count of rare tokens (p < 1/1000).
    *
    * DOCUMENTED DEVIATION from CCNet's log-perplexity, same policy as
    * [[relevanceTopK]]'s no-log BM25: `ln` carries no cross-engine bit
    * guarantee and this registry's bar is hash-exact oracles, so the
    * score is the arithmetic mean probability (Σ cnt(tok) exactly in
    * BIGINT, ONE final IEEE division — bit-identical in both engines)
    * rather than the geometric mean the log would give. Rank order
    * differs only in how outlier tokens mix; the rare-token count —
    * an integer-compare, fully exact — carries the tail signal the
    * geometric mean exists for.
    *
    * Scale shape: pass 1 is the wordcount shuffle (map-side combined,
    * key space = vocabulary); the vocabulary table broadcasts (1e6-row
    * vocabularies broadcast fine; beyond that the probe becomes a
    * shuffled hash join on token — plan change, same semantics). Pass 2
    * explodes tokens, probes the broadcast model map-side, and re-combines
    * per document — one corpus shuffle on doc_id with partial aggregation.
    */
  def unigramLm(spark: SparkSession, dir: String): DataFrame = {
    val model = documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    val total = model.agg(sum(col("cnt")).as("total"))
    documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(model), Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_cnt"),
        min(col("cnt")).as("min_cnt"),
        sum(when(col("cnt") * 1000L < col("total"), 1L).otherwise(0L))
          .as("n_rare"),
        max(col("total")).as("total"))
      .select(col("doc_id"), col("n_tokens"), col("sum_cnt"), col("min_cnt"),
        col("n_rare"),
        // factors cast to double before the multiply — see lmBuckets'
        // overflow note; bit-equal below 2^53
        round9(col("sum_cnt").cast("double") /
          (col("n_tokens").cast("double") * col("total").cast("double")))
          .as("mean_p"),
        round9(col("min_cnt").cast("double") / col("total").cast("double"))
          .as("min_p"))
      .orderBy(col("doc_id"))
  }

  /** Bigram LM scoring — the next rung above [[unigramLm]]: per
    * document, the arithmetic mean of the conditional probabilities
    * p(w_i | w_{i-1}) = cnt(w_{i-1} w_i) / cnt(w_{i-1}·), each an
    * EXACT BIGINT ratio (same no-`ln` policy as [[unigramLm]]: the
    * registry's bar is hash-exact oracles, so the score is the
    * arithmetic — not geometric — mean), plus the minimum conditional
    * probability (the most surprising transition) and the count of
    * rare transitions (p < 1/100). Fluent running text scores high;
    * shuffled or template text scores low even when [[unigramLm]]
    * likes its vocabulary — this is the signal the bigram rung adds.
    *
    * The conditioning denominator is the count of the PRECEDING word
    * as a bigram-left (= occurrences not at document end), so the
    * probabilities per left-word sum to exactly 1 over the observed
    * follower set — a true conditional model of the corpus.
    *
    * Scale shape: one corpus pass folds bigram counts (observed-bigram
    * key space, map-side combined) and left-counts derive from the
    * same frame; both broadcast (bigram vocabulary is the larger — at
    * a 100 TB corpus the probe becomes a shuffled hash join on the
    * pair key, plan change, same semantics); the scoring pass explodes
    * transitions once and folds per doc_id. Mean = round-6 ratios
    * summed as DECIMAL(27,6), then a BIGINT floor division into
    * nano-units — no round() of a quotient anywhere (see the inline
    * note: psum/n terminates on half-way decimals that Spark and
    * DuckDB round apart).
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val trans = documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1))).as("p"))
      .select(col("doc_id"), col("p").getField("0").as("w1"),
        col("p").getField("1").as("w2"))
    val big = trans.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(true) // feeds the model AND the left-counts
    val lefts = big.groupBy(col("w1")).agg(sum(col("n_ab")).as("n_a"))
    trans
      .join(broadcast(big), Seq("w1", "w2"))
      .join(broadcast(lefts), Seq("w1"))
      .select(col("doc_id"),
        round6(col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("p"),
        col("n_ab"), col("n_a"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"),
        sum(col("p").cast("decimal(27,6)")).as("psum"),
        min(col("p")).as("min_p"),
        sum(when(col("n_ab") * 100L < col("n_a"), 1L).otherwise(0L))
          .as("n_rare"))
      .select(col("doc_id"), col("n_trans"),
        // NO round() anywhere near this mean: psum/n is a terminating
        // decimal for many n, and round() of a half-way double splits
        // between Spark (shortest-decimal HALF_UP) and DuckDB (scaled-
        // double) — sf0.01 hit it at BOTH 6 and 9 digits. Instead the
        // mean is computed in integer NANO-units with BIGINT floor
        // division (truncation, bit-identical by construction) and one
        // exactly-rounded /1e9 conversion.
        (expr("(cast(psum * 1000000 as bigint) * 1000L) div n_trans")
          .cast("double") / lit(1e9)).as("mean_p"),
        col("min_p"), col("n_rare"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style LM quality buckets (Wenzek et al. 2020 §4.3): score
    * every document under ITS OWN language's corpus unigram LM, then
    * split each language into head / middle / tail TERTILES by score —
    * the split CCNet uses to keep head+middle and drop tail. Score is
    * the [[unigramLm]] arithmetic-mean probability (same documented
    * no-log deviation: exact BIGINT sums, ONE IEEE division, so ranks
    * are bit-identical cross-engine); ranks tie-break by doc_id.
    *
    * Scale shape: the model pass is one map-side-combined wordcount per
    * (lang, token); per-lang models broadcast; the scoring pass is one
    * doc_id shuffle. The tertile needs a per-language rank — a per-lang
    * sort of DOC SCORES (not tokens). At 100 TB the exact rank becomes
    * the bottleneck and the deployment shape swaps in approx-percentile
    * cutoffs over the score histogram — that shape IS shipped as
    * [[lmBucketsApprox]] (`text_lm_buckets_approx`, error-bound
    * oracle); the registered query here keeps the exact form the
    * oracle can replay hash-exactly.
    */
  /** The shared per-document LM-score chain of [[lmBuckets]] and
    * [[lmBucketsApprox]]: one (lang, token) wordcount, per-lang models
    * broadcast, one doc-keyed fold → (doc_id, lang, n_tokens, score).
    */
  private def lmPerDocScores(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("token"))
    val model = toks.groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val totals = model.groupBy(col("lang")).agg(sum(col("cnt")).as("total"))
    toks.join(broadcast(model), Seq("lang", "token"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("sum_cnt"))
      .join(broadcast(totals), Seq("lang"))
      // each factor cast to double BEFORE the multiply: a Long product
      // wraps silently past 2^63 at corpus scale (per-language total
      // ~1e13 × a 1e6-token doc), while the double product just rounds —
      // and both engines round identically. Below 2^53 the two forms
      // are bit-equal, so small-scale hashes don't move.
      .withColumn("score",
        col("sum_cnt").cast("double") /
          (col("n_tokens").cast("double") * col("total").cast("double")))
  }

  def lmBuckets(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = lmPerDocScores(spark, dir)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id").asc)
    val wLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
    perDoc
      .withColumn("lm_rank", row_number().over(wRank).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(wLang))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round9(col("score")).as("mean_p"), col("lm_rank"),
        when(col("lm_rank") * 3 <= col("n_docs"), lit("head"))
          .when(col("lm_rank") * 3 <= col("n_docs") * 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** The 100 TB deployment shape [[lmBuckets]]' scaladoc promises:
    * tertile CUTOFFS from a per-language quantile sketch
    * (`approx_percentile`, one pass, no per-language sort) instead of
    * the exact rank — at corpus scale the per-lang rank window is the
    * bottleneck, while the sketch is a map-side-mergeable aggregate;
    * each doc then buckets by comparing its score to the broadcast
    * cutoffs, scan-local.
    *
    * Oracle contract (the `agg_approx_percentile` pattern — a sketch
    * has no cross-engine twin, so the registered query asserts its
    * ERROR BOUND as booleans the oracle expects TRUE): per language,
    * each approx bucket's size must sit within the exact tertile
    * ± 5%-rank (plus one for the floor) — accuracy 1000 gives ≤0.1%
    * rank error, so the window holds with room for boundary ties.
    */
  def lmBucketsApprox(spark: SparkSession, dir: String,
                      accuracy: Int = 1000): DataFrame = {
    val perDoc = lmPerDocScores(spark, dir).localCheckpoint(true)
    val cuts = perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        approx_percentile(col("score"), lit(2.0 / 3.0), lit(accuracy))
          .as("c_head"),
        approx_percentile(col("score"), lit(1.0 / 3.0), lit(accuracy))
          .as("c_mid"))
    val eps = col("n_docs").cast("double") * 0.05 + 1.0
    val third = col("n_docs").cast("double") / 3.0
    perDoc.join(broadcast(cuts), Seq("lang"))
      .select(col("lang"), col("n_docs"),
        when(col("score") >= col("c_head"), "head")
          .when(col("score") >= col("c_mid"), "middle")
          .otherwise("tail").as("bucket"))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("nh"),
        sum(when(col("bucket") === "middle", 1L).otherwise(0L)).as("nm"),
        sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("nt"))
      .select(col("lang"), col("n_docs"),
        (abs(col("nh").cast("double") - third) <= eps)
          .as("head_within_rank_eps"),
        (abs(col("nm").cast("double") - third) <= eps)
          .as("middle_within_rank_eps"),
        (abs(col("nt").cast("double") - third) <= eps)
          .as("tail_within_rank_eps"))
      .orderBy(col("lang"))
  }

  /** Fingerprints: md5 of the whitespace-normalized text plus the minimum
    * 5-gram shingle hash (a 1-hash winnowing sketch) — both stable under
    * leading/trailing/duplicate whitespace.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), " +", " "))
    documents(spark, dir)
      .withColumn("norm", norm)
      .withColumn("w", tokens(col("norm")))
      .select(col("doc_id"),
        md5(col("norm")).as("fp"),
        array_min(transform(
          sequence(lit(1), greatest(size(col("w")) - 4, lit(1))),
          i => md5(concat_ws(" ", slice(col("w"), i, lit(5)))))).as("min_shingle"))
  }

  /** The BPE building block — tokenizer-training statistics over the
    * corpus: counts of adjacent SYMBOL PAIRS within words, the quantity
    * BPE's first merge iteration maximizes (Sennrich et al. 2016 §3.2).
    * A pair is the 2-character substring at each in-word position, plus
    * the terminal (last-char, `</w>`) pair that lets BPE distinguish
    * word-final symbols. Output: the top-k pairs by corpus count
    * (deterministic tie-break on the pair string) — at 100 TB this is
    * the whole first training pass: one scan-local explode (O(chars)
    * rows of a few bytes), one map-side-combined count, top-k as
    * TakeOrderedAndProject. Later merge iterations re-run the same scan
    * over re-paired symbols (a driver loop of bounded k, the k-means
    * pattern) — the per-iteration shape is this operator's.
    */
  def bpePairCounts(spark: SparkSession, dir: String, k: Int): DataFrame =
    bpePairCountsOf(documents(spark, dir), k)

  private[graft] def bpePairCountsOf(docs: DataFrame, k: Int): DataFrame = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val inner = words
      .select(explode(expr(
        // guard: sequence(1, 0) would run DESCENDING in Spark
        "case when length(w) >= 2 then transform(sequence(1, length(w) - 1), " +
          "i -> substring(w, i, 2)) else cast(array() as array<string>) end"))
        .as("pair"))
    val terminal = words
      .select(concat(substring(col("w"), -1, 1), lit("</w>")).as("pair"))
    inner.unionByName(terminal)
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** The FULL BPE trainer (Sennrich et al. 2016 §3.2 — the loop
    * [[bpePairCounts]] is the first step of): `nMerges` iterations of
    * count-pairs → take the argmax pair → merge it everywhere, producing
    * the ranked merge table a tokenizer-training user actually wants.
    *
    * Scale shape — the paper's own reduction plus the repo's k-means
    * pattern ([[graft.ext.Similarity]] `trainIvfCentroids`): training
    * runs on the distinct-WORD frequency dict, not the running text. The
    * corpus is touched ONCE (one map-side-combined word count); every
    * iteration after that is (a) one vocab-sized pair aggregation onto
    * (l, r) groups, (b) a single-row argmax collect — the only driver
    * action, constant-bounded — and (c) a scan-local merge rewrite via
    * the codegen'd [[graft.catalyst.HashExpressions.BpeMergePair]]
    * kernel. At 100 TB the corpus cost is the one word count; the loop
    * cost scales with the vocabulary, not the data.
    *
    * Merge-step semantics: greedy left-to-right, non-overlapping,
    * candidates from the original sequence (a symbol formed by this
    * step cannot re-match within the step) — the reference
    * implementation's `re.sub` behavior. Argmax tie-break is pinned
    * deterministic: highest count, then (l, r) lexicographic — the
    * paper's Python `max` is dict-order-dependent, which an engine
    * cannot reproduce.
    *
    * Output: one row per merge — (rank, lhs, rhs, merged, cnt).
    */
  def bpeMerges(spark: SparkSession, dir: String,
                nMerges: Int): DataFrame = {
    import spark.implicits._
    bpeTrainForDir(spark, dir, nMerges)._1
      .toDF("rank", "lhs", "rhs", "merged", "cnt")
      .orderBy(col("rank"))
  }

  private[graft] def bpeMergesOf(spark: SparkSession, docs: DataFrame,
                                 nMerges: Int): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, docs, nMerges)._1
      .toDF("rank", "lhs", "rhs", "merged", "cnt")
      .orderBy(col("rank"))
  }

  /** Session-scoped memo of the trained (merges, dict) per (dir, n):
    * the tokenizer queries (`merges`, `encode`, `vocab`, the merge
    * curve) share one training run instead of re-looping per query —
    * the same derived-state amortization the standing indexes apply,
    * in-memory because the dict is checkpointed RDD state that dies
    * with the session anyway. Keyed by [[Classifier.sessionKey]]'s
    * never-recurring UUID and LRU-BOUNDED, the
    * [[Classifier]] `modelCache` shape (VERDICT r11 What's-wrong #2
    * applied to this cache too): an identity hash can be reused after
    * a session is GC'd, and an unbounded memo pins checkpoint state
    * for the process lifetime when sessions or corpora cycle.
    */
  private val bpeTrainCacheMax = 8
  private val bpeTrainCache = new java.util.LinkedHashMap[
    (String, String, Int),
    (Seq[(Long, String, String, String, Long)], DataFrame)](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, String, Int),
          (Seq[(Long, String, String, String, Long)], DataFrame)])
        : Boolean = {
      val evict = size() > bpeTrainCacheMax
      // best-effort block release, the modelCache pattern: the evicted
      // dict is localCheckpoint state whose executor blocks would
      // otherwise wait on GC + ContextCleaner
      if (evict) scala.util.Try(e.getValue._2.unpersist(false))
      evict
    }
  }

  private def bpeTrainForDir(spark: SparkSession, dir: String, nMerges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) =
    bpeTrainCache.synchronized {
      val key = (Classifier.sessionKey(spark), dir, nMerges)
      Option(bpeTrainCache.get(key)).getOrElse {
        val t = bpeTrain(spark, documents(spark, dir), nMerges)
        bpeTrainCache.put(key, t)
        t
      }
    }

  /** Drop every session's memoized BPE training for `dir` — the
    * [[Classifier.invalidateModelsFor]] twin: the dict is checkpointed
    * pre-erase state, and a post-apply tokenizer call must retrain from
    * the rewritten documents store (trained-state deletion semantics,
    * r15 VERDICT next #8).
    */
  private[graft] def invalidateBpeFor(dir: String): Unit =
    bpeTrainCache.synchronized {
      val it = bpeTrainCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._2 == dir) {
          scala.util.Try(e.getValue._2.unpersist(false))
          it.remove()
        }
      }
    }

  /** The shared trainer loop behind [[bpeMerges]] and [[bpeEncode]]:
    * returns the ranked merge list AND the final dict
    * `(w, freq, syms)` — each distinct word's symbol sequence after all
    * `nMerges` merges, which is exactly the lookup table a tokenizer
    * APPLY pass needs.
    */
  private def bpeTrain(spark: SparkSession, docs: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    import graft.catalyst.HashExpressions
    // the one corpus pass: distinct-word frequencies, then each word as
    // its character symbols plus the word-end marker
    var dict = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        concat(split(col("w"), ""), array(lit("</w>"))).as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var rank = 1
    while (rank <= nMerges) {
      // pair counts over the dict, weighted by word frequency; adjacent
      // positions all count (overlaps included), as in get_stats
      val top = dict
        .select(col("freq"), explode(expr(
          // guard: a fully merged word has one symbol; sequence(1, 0)
          // DESCENDS in Spark and element_at(_, 0) errors under ANSI
          "case when size(syms) >= 2 then transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) as l, element_at(syms, i + 1) as r)) " +
            "else cast(array() as array<struct<l:string,r:string>>) end"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) {
        rank = nMerges + 1 // vocabulary fully merged — stop early
      } else {
        val (l, r, cnt) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((rank.toLong, l, r, l + r, cnt))
        // checkpoint per iteration: truncates the growing merge lineage
        // (the k-means pattern) — the dict is vocab-sized, not corpus-sized
        dict = dict.select(col("w"), col("freq"),
          HashExpressions.bpeMergePair(col("syms"), lit(l), lit(r))
            .as("syms"))
          .localCheckpoint(true)
        rank += 1
      }
    }
    (merges.toSeq, dict)
  }

  /** The APPLY half of the BPE pair ([[bpeMerges]] trains, this
    * encodes): per document, the word count, the BPE token count after
    * all `nMerges` merges, the character mass, and the chars-per-token
    * compression ratio — the numbers a tokenizer-budget planner reads
    * off a corpus.
    *
    * Scale shape: encoding joins the exploded words against the
    * trained DICT's per-word subword counts (vocab-sized — AQE
    * broadcasts it when small; never per-doc re-merging), then one
    * map-side-combined rollup per doc. The corpus is touched twice
    * total: once by the trainer's word count, once here.
    */
  def bpeEncode(spark: SparkSession, dir: String,
                nMerges: Int): DataFrame =
    bpeEncodeWith(spark, documents(spark, dir),
      bpeTrainForDir(spark, dir, nMerges)._2)

  /** The VOCABULARY the trained merges induce: every subword unit in
    * the final dict with its corpus occurrence mass (word frequency ×
    * slots) and the number of distinct words containing it — the table
    * a tokenizer-budget decision (vocab size vs coverage) reads.
    * Vocab-sized output; one explode + rollup over the trained dict.
    */
  def bpeVocab(spark: SparkSession, dir: String,
               nMerges: Int): DataFrame = {
    val (_, dict) = bpeTrainForDir(spark, dir, nMerges)
    dict.select(col("w"), col("freq"), explode(col("syms")).as("subword"))
      .groupBy(col("subword"))
      .agg(sum(col("freq")).as("n_occurrences"),
        count_distinct(col("w")).as("n_words"))
      .orderBy(col("n_occurrences").desc, col("subword"))
  }

  private[graft] def bpeEncodeOf(spark: SparkSession, docs: DataFrame,
                                 nMerges: Int): DataFrame =
    bpeEncodeWith(spark, docs, bpeTrain(spark, docs, nMerges)._2)

  /** The encode join against an already-trained dict — shared by the
    * memoized dir path and the arbitrary-frame test path.
    */
  private def bpeEncodeWith(spark: SparkSession, docs: DataFrame,
                            dict: DataFrame): DataFrame = {
    val sub = dict.select(col("w"), size(col("syms")).cast("long").as("n_sub"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(sub, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        col("n_chars"),
        round6(col("n_chars").cast("double") / col("n_bpe_tokens"))
          .as("compression"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer-efficiency curve — the vocab-size decision artifact: at
    * each merge count, the corpus-wide chars-per-token (the compression
    * a bigger vocab buys) and tokens-per-word. Every token of training
    * compute is spent per TOKEN, so this curve is how a pipeline picks
    * its merge budget: the knee is where additional merges stop paying
    * (Sennrich et al. 2016 tune exactly this).
    *
    * Scale shape: ZERO corpus scans beyond the memoized training pass —
    * the trained dict already carries each distinct word's corpus
    * frequency, so every curve point is a three-sum aggregation of the
    * distinct-word-sized dict (occurrences = Σfreq, tokens =
    * Σfreq·|syms|, chars = Σfreq·|w|). The oracle replays all points
    * off a single CTE cascade, since lower merge counts are prefixes
    * of the highest one's chain.
    */
  def bpeMergeCurve(spark: SparkSession, dir: String,
                    merges: Seq[Int] = Seq(0, 5, 10)): DataFrame =
    merges.map { m =>
      bpeTrainForDir(spark, dir, m)._2
        .agg(sum(col("freq")).as("n_words"),
          sum(col("freq") * size(col("syms")).cast("long"))
            .as("n_bpe_tokens"),
          sum(col("freq") * length(col("w")).cast("long")).as("n_chars"))
        .select(lit(m.toLong).as("n_merges"), col("n_words"),
          col("n_bpe_tokens"), col("n_chars"),
          round6(col("n_chars").cast("double") / col("n_bpe_tokens"))
            .as("chars_per_token"),
          round6(col("n_bpe_tokens").cast("double") / col("n_words"))
            .as("tokens_per_word"))
    }.reduce(_ unionByName _).orderBy(col("n_merges"))
}
