package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replica-based scale-up generator for the measured 10×/100× bench.
  *
  * The registry's plan audit argues each query survives a 100×
  * scale-up; this tool makes that a MEASUREMENT: it writes a
  * `factor`-times-larger copy of a testdata dir to `outDir` (same
  * table names/schemas, so `Bench` runs against it unchanged via
  * SPARK_GRAFT_SF_DIR) and BENCH_DELTA records the observed time
  * ratios per query family.
  *
  * Scaling model — what a larger corpus actually looks like, not a
  * degenerate one:
  *   - Facts (customer/supplier/part/orders/lineitem, events,
  *     documents, embeddings) are replicated `factor` times with
  *     every key column offset by `replica * 10_000_000` (all base
  *     keys are < 10M), preserving FK joins WITHIN a replica — the
  *     same shape a bigger TPC-H SF has. Replica 0 is the base data
  *     byte-for-byte, so fixed query panels (vec_id < nQueries,
  *     eval-set doc_id ranges) keep their meaning while the corpus
  *     side grows.
  *   - Dimensions (region, nation) are copied ONCE: bigger data does
  *     not mean more nations, and the broadcast-ability the plans
  *     rely on must stay honest.
  *   - Document text is word-PERMUTED per replica (positions sorted by
  *     md5(replica + ":" + index) — see [[permuteWords]]), so replicas
  *     are NOT near-dups of their base or of each other: shingle/
  *     MinHash signatures decorrelate while length, vocabulary, and
  *     language distributions are preserved exactly. Without this,
  *     every LSH bucket would hold `factor` correlated signatures and
  *     candidate pairs would grow ×factor² — a distortion real corpora
  *     don't have (near-dup MASS scales linearly: each base near-dup
  *     pair recurs once per replica, which the position-keyed permutation
  *     preserves). The r16 word-ROTATION failed exactly this: rotation
  *     keeps all interior n-grams, replicas verified at Jaccard ~0.75,
  *     and the r17 ×100 spot bench measured the quadratic pair mass as
  *     16–21× wall per 10× data on the pipeline_* family.
  *   - Embeddings are cyclically shifted by (7·replica) mod 64 dims
  *     with a sign flip every 64 replicas (shift collisions repeat at
  *     replica+64, where the flip keeps them distinct), so replica
  *     vectors have ~random cosine to their base: norms and
  *     per-dimension moments are preserved, no artificial duplicate
  *     mass, IVF/PQ training sees a genuinely larger corpus.
  *
  * Timestamps are kept as-is: a larger corpus over the same window is
  * the higher-traffic shape, so time-bucketed aggregations grow rows
  * per bucket with a constant group count — the scaling that actually
  * stresses partial aggregation.
  *
  * Usage: runMain graft.tools.ScaleGen <baseDir> <outDir> <factor>
  */
object ScaleGen {

  private val KeyOffset = 10000000L

  /** Cross-join with the replica spine and offset the given key
    * columns by replica*KeyOffset. The spine is `factor` rows —
    * always broadcast.
    */
  private def replicate(spark: SparkSession, df: DataFrame, factor: Int,
                        keyCols: Seq[String]): DataFrame = {
    val reps = broadcast(spark.range(factor.toLong).toDF("rep"))
    val crossed = df.crossJoin(reps)
    keyCols.foldLeft(crossed) { (d, k) =>
      d.withColumn(k, (col(k) + col("rep") * KeyOffset).cast("long"))
    }
  }

  /** Reorder the space-tokenized words of `c` by `md5(rep + ":" + i)`
    * (i = word position) — a deterministic per-replica pseudorandom
    * permutation of the word POSITIONS. Pure column expression.
    *
    * Why a hash-keyed position sort and not a cyclic rotation (the r16
    * form): rotation PRESERVES word n-grams — a rotated sequence shares
    * every 3-gram shingle with its base except the few spanning the
    * wrap boundary (measured Jaccard 0.75 on 16-word docs), so every
    * replica verified as a near-dup of its base and candidate/verified
    * pair mass grew ×factor², exactly the distortion the scaling model
    * documents as unrealistic (the r17 ×100 spot bench read the
    * pipeline_* family 16–21× per 10× data from this). The hash sort
    * shreds consecutive n-grams, and keys differ per replica, so
    * replicas decorrelate from the base AND from each other.
    *
    * The key must be the POSITION, not the word: sorting by
    * `md5(rep:word)` canonicalizes word ORDER away, so any two docs
    * with similar word BAGS become near-dups — measured 52,200
    * within-replica pairs per 2,000 docs against 45 in the base, a
    * worse distortion than the rotation's. Position keys give every
    * same-length doc the same index permutation and never collapse
    * order information: unrelated docs stay unrelated, while the base
    * corpus's planted near-dup pairs — append/substitution edits whose
    * shared words sit at the SAME positions — ride the same permutation
    * and recur once per replica (near-dup MASS scales linearly, as the
    * model requires). Docs of ≤ 3 words keep their single shingle under
    * any reorder (bounded, realistic short-text repetition).
    */
  private def permuteWords(c: org.apache.spark.sql.Column,
                           rep: org.apache.spark.sql.Column) = {
    val words = split(c, " ")
    val keyed = transform(words, (w, i) =>
      struct(md5(concat(rep.cast("string"), lit(":"), i.cast("string")))
        .as("k"), w.as("w")))
    array_join(transform(array_sort(keyed), s => s.getField("w")), " ")
  }

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Write the `factor`-times replica of `baseDir` to `outDir`. */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
               factor: Int): Unit = {
    require(factor >= 1 && factor * KeyOffset < Long.MaxValue / 4,
      s"factor out of range: $factor")
    def read(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
    // the replica spine is generation scaffolding — never part of the
    // output schema. Facts write as ~factor files (capped at 64): the
    // base sf dirs are single-file, and inheriting that layout at ×100
    // caps scan parallelism at the 128 MB split size — an 80 MB
    // embeddings table would read as ONE partition, which is not the
    // shape any real 100× table has (r16 finding: the single-file ×100
    // corpus serialized a corpus-sized probe window into one task).
    def write(df: DataFrame, t: String): Unit =
      df.drop("rep").repartition(math.min(64, factor))
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def writeOnce(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // dims: copied once — more data, same nations/regions
    writeOnce(read("region"), "region")
    writeOnce(read("nation"), "nation")

    // TPC-H facts: offset every key so FK joins hold within a replica
    write(replicate(spark, read("customer"), factor, Seq("c_custkey")),
      "customer")
    write(replicate(spark, read("supplier"), factor, Seq("s_suppkey")),
      "supplier")
    write(replicate(spark, read("part"), factor, Seq("p_partkey")), "part")
    write(replicate(spark, read("orders"), factor,
      Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(spark, read("lineitem"), factor,
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")

    // events: more users over the same time window (higher traffic)
    write(replicate(spark, read("events"), factor,
      Seq("event_id", "user_id")), "events")

    // documents: per-replica word permutation decorrelates shingles
    // across replicas (replica 0 stays byte-identical)
    write(
      replicate(spark, read("documents"), factor, Seq("doc_id"))
        .withColumn("text",
          when(col("rep") === 0, col("text"))
            .otherwise(permuteWords(col("text"), col("rep")))),
      "documents")

    // embeddings: dim-shift + per-64-replica sign flip — random cosine
    // to the base vector, identical norm/moment distributions
    val emb = replicate(spark, read("embeddings"), factor, Seq("vec_id"))
    val shift = ((col("rep") * 7) % 64).cast("int")
    val sign = when((col("rep") / 64).cast("int") % 2 === 1, lit(-1.0f))
      .otherwise(lit(1.0f))
    val shifted = concat(
      slice(col("embedding"), shift + 1, size(col("embedding")) - shift),
      slice(col("embedding"), lit(1), shift))
    write(
      emb.withColumn("embedding",
        transform(shifted, x => (x * sign).cast("float"))),
      "embeddings")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleGen <baseDir> <outDir> <factor>")
    val Array(baseDir, outDir, factorStr) = args
    val spark = graft.GraftSession.local()
    generate(spark, baseDir, outDir, factorStr.toInt)
    val counts =
      tables.map(t => t -> spark.read.parquet(s"$outDir/$t.parquet").count())
    spark.stop()
    counts.foreach { case (t, n) => println(s"$t: $n rows") }
  }
}

