package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.duration._

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.functions.{col, udf}

import graft.tools.Inspect

/** The shared entry-point plumbing: the query-name parser, Bench's failure
  * accounting, Verify's timeout cancel and Inspect's profile listener.
  */
class GraftSessionSpec extends SparkTestBase {

  test("query selection: all, a subset, and unknown names failing fast sorted") {
    assert(GraftSession.select("all", "T").keySet == SparkEntry.queries.keySet)
    assert(GraftSession.select(" tpch_q3, dedup_exact ,", "T").keySet ==
      Set("tpch_q3", "dedup_exact"))
    val e = intercept[IllegalArgumentException](
      GraftSession.select("tpch_q3,zz_typo,aa_typo", "SPARK_GRAFT_BENCH_ONLY"))
    assert(e.getMessage.contains(
      "SPARK_GRAFT_BENCH_ONLY names not registered: aa_typo, zz_typo"), e.getMessage)
    intercept[IllegalArgumentException](GraftSession.select(" , ", "T"))
  }

  test("Bench reports a query that throws as failed, never as a fast time") {
    val boom = udf((x: Long) => if (x >= 0) throw new IllegalStateException("boom") else x)
    val queries: Seq[(String, GraftSession.Query)] = Seq(
      "fails_at_build" -> ((_, _) => throw new IllegalStateException("no plan")),
      "fails_in_task" -> ((s, _) => s.range(3).toDF().filter(boom(col("id")) >= 0)),
      "ok" -> ((s, _) => s.range(10).toDF()))
    val (timings, failed) = Bench.time(spark, queries, dir = "", reps = 2)
    assert(failed == Seq("fails_at_build", "fails_in_task"))
    assert(timings.map(_._1) == Seq("ok"))
    assert(timings.forall(_._2 > 0))
  }

  test("Verify cancels a query past its timeout: it returns promptly and " +
    "no job with its tag stays active") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    intercept[TimeoutException](Verify.bounded(spark, "sleeper", 2.seconds) {
      sc.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(60000))
    })
    assert((System.nanoTime() - t0) / 1e9 < 15)
    val tracker = sc.statusTracker
    val deadline = 10.seconds.fromNow
    def active = tracker.getJobIdsForTag(GraftSession.tag("sleeper")).filter(id =>
      tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))
    assert(tracker.getJobIdsForTag(GraftSession.tag("sleeper")).nonEmpty)
    while (active.nonEmpty && deadline.hasTimeLeft()) Thread.sleep(100)
    assert(active.isEmpty)
  }

  test("Inspect's profile counts exactly the body's tagged jobs on every one " +
    "of 20 repeats") {
    val sc = spark.sparkContext
    (1 to 20).foreach { i =>
      val p = Inspect.profile(spark, "two-counts") {
        sc.parallelize(1 to 100, 4).count()
        sc.parallelize(1 to 100, 4).count()
      }
      assert(p.jobs.size == 2, s"repeat $i")
      assert(p.tasks == 8, s"repeat $i")
      assert(p.stages == 2, s"repeat $i")
    }
    // branch threads of Concurrent.materialize set their own job group;
    // their jobs still carry the caller's tag
    val branches = Inspect.profile(spark, "branches") {
      graft.ops.Concurrent.materialize(Seq(
        () => spark.range(10).toDF(), () => spark.range(20).toDF()))
    }
    assert(branches.jobs.size >= 2)
  }
}
