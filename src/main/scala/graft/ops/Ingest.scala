package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loading + the reference's projection surface (SURVEY §2.2 P1-P5,
  * P9): cast-projection, JSON parse, struct flatten, derived time columns,
  * aliasing. The batch analog of stream-processor/processing/silver.py:54-62
  * over the driver `events` table (event_id≅id, user_id≅group_id,
  * value≅score, ts≅event_timestamp; FIXTURES.md §A).
  *
  * Scale notes: everything here is a narrow projection — no shuffle; all
  * casts/JSON parsing stay inside whole-stage codegen and column pruning
  * reaches the parquet scan.
  */
object Ingest {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive scan-parallelism floor (r18, guide §6
    * `minPartitionNum` / §2.5 deterministic keys): at evaluation scale a
    * whole table is a single parquet row group, so every scan is ONE
    * split and every CPU-heavy scan-local projection (tokenize, shingle
    * explode, n-gram arrays, dot products) runs on one task no matter
    * how many cores the session has — the measured reason 8 cores ≈ 32
    * cores on the text family. When the scan has fewer splits than the
    * session's parallelism, repartition by the row key (deterministic —
    * a retried task reproduces the same assignment) so the heavy
    * projection above fans out; when the scan already has ≥ cores
    * splits — every production scale — this is a NO-OP and no exchange
    * is added. `minPartitionNum` itself cannot deliver this: a
    * one-row-group file splits into byte ranges but only one range gets
    * the row group, so the floor must be a repartition.
    *
    * Deliberately NOT applied to standing-index build inputs (bucketed
    * `saveAsTable` writes): fanning the build input multiplies
    * per-bucket files.
    */
  def fanOut(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
    else df
  }

  /** [[fanOut]] for a direct table read, with the split count estimated
    * from FILE SIZE (one namenode stat) instead of `df.rdd` — forcing
    * physical planning just to count partitions taxed every cheap query
    * ~0.1 s (measured r18: the reader-level .rdd probe + exchange
    * regressed 60+ near-floor queries 2×). Applied ONLY at consumers
    * whose scan-local work measured as the bottleneck.
    */
  def tableWide(spark: SparkSession, dir: String, name: String,
                key: String): DataFrame = {
    val df = table(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val splits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (splits < target) df.repartition(target, col(key)) else df
  }

  /** The `events` table's `ts` encoding varies across testdata
    * generations: nanosecond-precision parquet timestamps (which Spark 4
    * rejects outright — PARQUET_TYPE_ILLEGAL) or plain microsecond
    * TIMESTAMP_NTZ. Sniff the footer schema and normalize either to a
    * session-timezone (UTC) microsecond timestamp — exactly the value
    * DuckDB sees reading the same file (ns truncates to µs; µs is
    * as-is), so oracle comparisons line up (FIXTURES.md §A caveat).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // ns-as-long generation
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => // µs timestamp generation; NTZ + UTC session tz ⇒ same instant
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** 180-second bucket of an epoch-ms column — the reference's misnamed
    * `minute_timestamp` (silver.py:61): (ms / 1000 / 180) cast long.
    * Double division then truncating cast, exactly as PySpark does it.
    */
  def minuteBucket(msCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (msCol / lit(1000) / lit(180)).cast("long")

  /** Silver projection over the events table: epoch-ms extraction, the
    * 180-s clustering bucket, and the JSON `props` parse
    * (from_json ≅ silver.py:57; flatten ≅ silver.py:58).
    */
  def silverProjection(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val parsed = ev
      .withColumn("event_timestamp", unix_millis(col("ts")))
      .withColumn("minute_timestamp", minuteBucket(col("event_timestamp")))
      .withColumn("props_struct",
        from_json(col("props"), graft.model.Schemas.propsSchema))
      .withColumn("prop_k", col("props_struct.k"))
    parsed.select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("event_timestamp"), col("minute_timestamp"),
      col("prop_k"))
  }
}
