package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation surface (SURVEY §2.4 A1-A4) + the gold fold (A2/J2).
  *
  * The reference computes per-batch partial aggregates
  * (processing/gold.py:11-16) and folds them into running totals with a
  * Delta MERGE (gold.py:19-45). Batch analog: one groupBy.agg; incremental
  * analog: [[fold]] — a full-outer join + coalesce arithmetic, the exact
  * MERGE semantics without Delta.
  *
  * Scale notes: groupBy(group_id) is a single shuffle with map-side partial
  * aggregation (Spark's hash-agg does the partial/final split the reference
  * gets from MERGE). The fold joins two group-keyed tables — both already
  * shuffled on group_id, so AQE can plan a shuffle-reuse sort-merge join;
  * when the per-batch partials are small relative to gold, Catalyst
  * broadcasts them.
  *
  * All score math is double internally; cast to float only at a table
  * boundary (SURVEY §1.3 float trap).
  */
object Aggregate {

  /** A1: per-group partial aggregate of a batch (gold.py:11-16).
    * `batch_score` is an exact DECIMAL sum so downstream folds stay
    * order-independent (see SparkEntry's determinism convention).
    */
  def partial(events: DataFrame, groupCol: String, scoreCol: String,
              tsCol: String): DataFrame =
    events.groupBy(col(groupCol)).agg(
      sum(col(scoreCol).cast(DecimalType(27, 4))).as("batch_score"),
      count(lit(1)).as("batch_events"),
      min(col(tsCol)).as("batch_first"),
      max(col(tsCol)).as("batch_last"))

  /** One-shot gold: the batch equivalent of running every event through the
    * incremental pipeline (dedup assumed done upstream).
    */
  private[graft] def oneShotGold(events: DataFrame, groupCol: String,
                                 scoreCol: String,
                                 tsCol: String): DataFrame = {
    val exact = sum(col(scoreCol).cast(DecimalType(27, 4)))
    events.groupBy(col(groupCol)).agg(
      exact.cast("double").as("cumulative_score"),
      count(lit(1)).as("event_count"),
      (exact.cast("double") / count(lit(1))).as("avg_score"),
      min(col(tsCol)).as("first_event_timestamp"),
      max(col(tsCol)).as("last_event_timestamp"))
  }

  /** Skew-safe two-phase aggregation: groupBy((key, salt)) partials, then
    * groupBy(key) final merge. A hot key's rows spread over `saltBuckets`
    * reducers in phase 1 instead of hammering one; phase 2 merges the at
    * most `saltBuckets` partial rows per key. Results are identical to a
    * direct groupBy (decimal sums are associative), so the plain query
    * serves as its oracle. Spark's map-side partial aggregation already
    * blunts most skew — explicit salting is the lever when distinct-heavy
    * or memory-bound aggregates defeat partial aggregation.
    */
  def saltedGold(events: DataFrame, groupCol: String, scoreCol: String,
                 tsCol: String, saltBuckets: Int): DataFrame = {
    val salted = events.withColumn("__salt",
      pmod(hash(col(tsCol)), lit(saltBuckets)))
    val phase1 = salted.groupBy(col(groupCol), col("__salt")).agg(
      sum(col(scoreCol).cast(DecimalType(27, 4))).as("s"),
      count(lit(1)).as("c"),
      min(col(tsCol)).as("f"),
      max(col(tsCol)).as("l"))
    phase1.groupBy(col(groupCol)).agg(
      sum(col("s")).cast("double").as("cumulative_score"),
      sum(col("c")).as("event_count"),
      (sum(col("s")).cast("double") / sum(col("c"))).as("avg_score"),
      min(col("f")).as("first_event_timestamp"),
      max(col("l")).as("last_event_timestamp"))
  }

  /** A2/J2: fold a batch partial into the running gold table — faithful
    * MERGE semantics of gold.py:23-44:
    *   - cumulative_score += batch_score, event_count += batch_events;
    *   - avg_score recomputed from the new totals (exact, not
    *     average-of-averages);
    *   - first/last_event_timestamp OVERWRITTEN by the batch's min/max when
    *     the batch touches the group (trap SURVEY §7.5-3 — deliberately
    *     faithful; see [[foldAllTime]] for the corrected variant).
    */
  def fold(gold: DataFrame, batchPartial: DataFrame, groupCol: String): DataFrame = {
    val g = gold.alias("t")
    val b = batchPartial.alias("s")
    val joined = g.join(b, Seq(groupCol), "full_outer")
    // lit(0) (integral) so a decimal input stays decimal through coalesce —
    // a 0.0 double literal would promote the whole sum to double
    val newScore = coalesce(col("t.cumulative_score"), lit(0)) +
      coalesce(col("s.batch_score"), lit(0))
    val newCount = coalesce(col("t.event_count"), lit(0L)) +
      coalesce(col("s.batch_events"), lit(0L))
    joined.select(
      col(groupCol),
      newScore.as("cumulative_score"),
      newCount.as("event_count"),
      // divide in double AFTER the exact sum — decimal division would
      // introduce engine-specific scale/rounding rules
      (newScore.cast("double") / newCount).as("avg_score"),
      coalesce(col("s.batch_first"), col("t.first_event_timestamp"))
        .as("first_event_timestamp"),
      coalesce(col("s.batch_last"), col("t.last_event_timestamp"))
        .as("last_event_timestamp"))
  }

  /** Corrected fold: true all-time min/max instead of batch-overwrite
    * (the documented fix for trap SURVEY §7.5-3). Same single full-outer
    * join as [[fold]].
    */
  def foldAllTime(gold: DataFrame, batchPartial: DataFrame, groupCol: String): DataFrame = {
    val joined = gold.alias("t").join(batchPartial.alias("s"),
      Seq(groupCol), "full_outer")
    val newScore = coalesce(col("t.cumulative_score"), lit(0)) +
      coalesce(col("s.batch_score"), lit(0))
    val newCount = coalesce(col("t.event_count"), lit(0L)) +
      coalesce(col("s.batch_events"), lit(0L))
    val tFirst = col("t.first_event_timestamp")
    val tLast = col("t.last_event_timestamp")
    joined.select(
      col(groupCol),
      newScore.as("cumulative_score"),
      newCount.as("event_count"),
      (newScore.cast("double") / newCount).as("avg_score"),
      least(coalesce(tFirst, col("s.batch_first")),
        coalesce(col("s.batch_first"), tFirst)).as("first_event_timestamp"),
      greatest(coalesce(tLast, col("s.batch_last")),
        coalesce(col("s.batch_last"), tLast)).as("last_event_timestamp"))
  }
}
