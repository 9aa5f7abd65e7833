package graft.model

import org.apache.spark.sql.types._

/** Schemas of the rebuilt engine.
  *
  * Mirrors the reference's static schema system (three StructTypes at
  * stream-processor/config.py:24-56) plus the driver testdata shapes
  * (FIXTURES.md §A). All time is epoch milliseconds in LongType, as in the
  * reference (config.py:28,38-41,51-54); `minuteTimestamp` is a 180-second
  * bucket despite its name (processing/silver.py:61).
  */
object Schemas {

  /** Kafka message value — EVENT_SCHEMA (config.py:24-31). */
  val eventSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("group_id", StringType, nullable = false),
    StructField("score", FloatType, nullable = false),
    StructField("event_timestamp", LongType, nullable = false)
  ))

  /** Silver table — RAW_SCHEMA (config.py:33-42). */
  val silverSchema: StructType = StructType(eventSchema.fields ++ Seq(
    StructField("ingest_timestamp", LongType, nullable = false),
    StructField("minute_timestamp", LongType, nullable = false)
  ))

  /** Gold table — AGGREGATION_SCHEMA (config.py:44-56). Scores are computed
    * in double and cast to float only at the table boundary (SURVEY §1.3).
    */
  val goldSchema: StructType = StructType(Seq(
    StructField("group_id", StringType, nullable = false),
    StructField("cumulative_score", FloatType, nullable = false),
    StructField("event_count", LongType, nullable = false),
    StructField("avg_score", FloatType, nullable = false),
    StructField("first_event_timestamp", LongType, nullable = false),
    StructField("last_event_timestamp", LongType, nullable = false),
    StructField("updated_at", LongType, nullable = false)
  ))

  /** Schema of the JSON `props` column on the testdata `events` table. */
  val propsSchema: StructType = StructType(Seq(
    StructField("k", IntegerType, nullable = true)
  ))
}

/** Typed rows for Dataset[T] paths and MemoryStream fixtures. */
case class Event(id: String, group_id: String, score: Float,
                 event_timestamp: Long)
