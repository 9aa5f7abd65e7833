package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.Event
import graft.streaming.Pipeline

/** End-to-end drive of the streaming pipeline through the library
  * boundary: MemoryStream → silver (watermark dedup + MERGE) → gold fold →
  * serve projection. Prints the resulting gold table. Usage:
  * `sbt "runMain graft.tools.StreamDemo [baseDir]"`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft_demo").toString
    val spark = graft.GraftSession.local()
    import spark.implicits._

    val cfg = Pipeline.Config(base)
    val input = MemoryStream[Event](1, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    input.addData(
      Event("e1", "alpha", 1.5f, t0),
      Event("e1", "alpha", 1.5f, t0), // in-batch duplicate
      Event("e2", "alpha", 2.5f, t0 + 1000),
      Event("e3", "beta", 4.0f, t0 + 2000))
    silverQ.processAllAvailable()
    input.addData(
      Event("e2", "alpha", 2.5f, t0 + 1000), // cross-batch duplicate
      Event("e4", "beta", 1.0f, t0 + 3000))
    silverQ.processAllAvailable()
    silverQ.stop()

    val goldQ = Pipeline.startGold(spark, cfg)
    goldQ.processAllAvailable()
    goldQ.stop()

    println(s"[demo] base=$base")
    println("[demo] silver:")
    spark.read.parquet(cfg.silverPath).orderBy("id").show(false)
    println("[demo] gold (serving shape):")
    Pipeline.serveProjection(spark, cfg).orderBy("group_id").show(false)
    spark.stop()
  }
}
