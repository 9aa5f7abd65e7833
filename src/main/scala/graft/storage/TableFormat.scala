package graft.storage

import org.apache.spark.sql.SparkSession

import graft.streaming.Pipeline

/** The three storage calls perfbench's chain workload
  * (`perfbench/src/main/scala/graftbench/Chain.scala`) compiles against,
  * its only caller; each is one call into [[Pipeline]], which every
  * program caller uses directly.
  */
object TableFormat {
  object parquet {
    def optimize(spark: SparkSession, cfg: Pipeline.Config): Unit =
      Pipeline.compactSilver(spark, cfg)

    def optimizeServe(spark: SparkSession, cfg: Pipeline.Config): Unit =
      Pipeline.compactServe(spark, cfg)

    def vacuumChangeFeed(spark: SparkSession, cfg: Pipeline.Config,
                         keepVersions: Int = 168): Unit =
      Pipeline.vacuumGoldChanges(spark, cfg, keepVersions)
  }
}
