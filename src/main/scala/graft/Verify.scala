package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Runs `body` on its own thread under query `name`'s job tag, with
    * task interruption on cancel. Past `timeout` it cancels every job
    * carrying the tag and rethrows the TimeoutException, so an abandoned
    * query stops running jobs against the later ones. A body caught
    * between two jobs has nothing active to cancel: the cancel repeats
    * until the body gives up or `grace` passes.
    */
  def bounded(spark: SparkSession, name: String, timeout: FiniteDuration,
              grace: FiniteDuration = 10.seconds)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val f = Future {
      sc.setInterruptOnCancel(true)
      try GraftSession.tagged(spark, name)(body) finally sc.setInterruptOnCancel(false)
    }(ExecutionContext.global)
    try Await.result(f, timeout)
    catch { case e: TimeoutException =>
      val deadline = grace.fromNow
      do {
        sc.cancelJobsWithTag(GraftSession.tag(name))
        scala.util.Try(Await.ready(f, 100.millis))
      } while (!f.isCompleted && deadline.hasTimeLeft())
      throw e
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Per-query wall-clock cap: one pathological hang must not consume
    // the whole verification run (failures are already isolated per
    // query; a timed-out query's jobs are cancelled).
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "600").toLong
    // Optional comma-separated subset for fast local iteration (the
    // driver's gate leaves this unset and dumps everything); the oracle
    // json below always carries the full map so a subset run still
    // composes with tools/check_oracle.py on just the dumped dirs.
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .fold(SparkEntry.queries)(GraftSession.select(_, "SPARK_GRAFT_VERIFY_ONLY"))
    // the tombstone fixture: the deterministic deletion sets the forget
    // queries' oracles assume, registered once so the queries price the
    // read path
    GraftSession.registerForgetFixtures(spark, sfDir)
    selected.foreach { case (name, fn) =>
      // coalesce(1) is REQUIRED, not a convenience: the driver's compare
      // (tools/check_oracle.py mirrors it) reads rows in file order and
      // diffs positionally, so the single sorted file must carry the
      // query's total ORDER BY. It costs little — coalesce preserves the
      // sort and only serializes the final write, not the compute below
      // the last shuffle.
      try bounded(spark, name, timeoutSec.seconds) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
