package graft.model

import org.apache.spark.sql.types._

/** Schemas of the rebuilt engine.
  *
  * Mirrors the reference's static event and raw schemas
  * (stream-processor/config.py:24-42) plus the driver testdata shapes
  * (FIXTURES.md §A). All time is epoch milliseconds in LongType, as in the
  * reference (config.py:28,38-41); `minuteTimestamp` is a 180-second
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

  /** Schema of the JSON `props` column on the testdata `events` table. */
  val propsSchema: StructType = StructType(Seq(
    StructField("k", IntegerType, nullable = true)
  ))
}

/** Typed rows for Dataset[T] paths and MemoryStream fixtures. */
case class Event(id: String, group_id: String, score: Float,
                 event_timestamp: Long)
