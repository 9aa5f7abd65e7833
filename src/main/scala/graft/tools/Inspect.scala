package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.GraftSession
import graft.plans.PlanWalk

/** One inspection tool for registered queries. Usage:
  *   sbt "runMain graft.tools.Inspect plan|profile <query[,query...]|all> [sfDir] [outDir]"
  *
  * `plan` (default sfDir sf0.001) runs each query once so AQE settles,
  * then prints one audit line per query from the final plan: exchanges,
  * partitionless windows ([[PlanWalk.globalWindows]]), sort-merge and
  * broadcast-hash joins, whole-stage codegen, filters pushed into the
  * scan and top-k as TakeOrderedAndProject. With `outDir` it also
  * writes the formatted final plan to `<outDir>/<name>.txt`.
  *
  * `profile` (default sfDir sf0.1) runs each query once warm, then once
  * timed under one listener ([[profile]]), and prints the per-job
  * timeline and the totals. The totals keep both halves of Spark's cost
  * apart, as Chukonu (VLDB 2021) does before choosing what to speed up:
  * the driver gaps between jobs and the task time inside them.
  */
object Inspect {
  final case class Job(id: Int, start: Long, tasks: Int) {
    var end = 0L
  }

  private val drainName = "inspect-drain"

  /** One timed pass as its listener saw it: the jobs that carry `tag`, in
    * start order, and the summed metrics of those jobs' tasks. The bus
    * calls it from one thread; `drained` opens at the end of the drain
    * marker job.
    */
  final class Profile(tag: String, val t0: Long) extends SparkListener {
    var wallMs = 0L
    var jobs = Vector.empty[Job]
    var stages, tasks = 0
    var taskRunMs, gcMs, deserMs, resultSerMs, inputB, shufReadB, shufWriteB = 0L
    private val stageIds = mutable.Set[Int]()
    private var drainJob = -1
    private[Inspect] val drained = new CountDownLatch(1)

    /** Per job, the time since the previous job ended (or the pass began). */
    def gaps: Seq[Long] =
      jobs.scanLeft((0L, t0)) { case ((_, prevEnd), j) =>
        (math.max(0L, j.start - prevEnd),
          math.max(prevEnd, if (j.end > 0) j.end else j.start))
      }.tail.map(_._1)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val tags = Option(j.properties).flatMap(ps => Option(ps.getProperty("spark.job.tags")))
        .fold(Set.empty[String])(_.split(",").toSet)
      if (tags(tag)) {
        jobs :+= Job(j.jobId, j.time, j.stageInfos.map(_.numTasks).sum)
        stageIds ++= j.stageIds
      } else if (tags(GraftSession.tag(drainName))) drainJob = j.jobId
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      jobs.find(_.id == j.jobId).foreach(_.end = j.time)
      if (j.jobId == drainJob) drained.countDown()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (stageIds(s.stageInfo.stageId)) stages += 1
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stageIds(t.stageId)) {
        tasks += 1
        Option(t.taskMetrics).foreach { m =>
          taskRunMs += m.executorRunTime
          gcMs += m.jvmGCTime
          deserMs += m.executorDeserializeTime
          resultSerMs += m.resultSerializationTime
          inputB += m.inputMetrics.bytesRead
          shufReadB += m.shuffleReadMetrics.totalBytesRead
          shufWriteB += m.shuffleWriteMetrics.bytesWritten
        }
      }
  }

  /** Runs `body` once under `name`'s job tag with a [[Profile]] attached,
    * and returns it. The listener bus is asynchronous but delivers in
    * order, so a one-task marker job run after the body drains it: once
    * the marker's end arrives, every event of the body has arrived too.
    */
  def profile(spark: SparkSession, name: String)(body: => Unit): Profile = {
    val sc = spark.sparkContext
    val p = new Profile(GraftSession.tag(name), System.currentTimeMillis())
    sc.addSparkListener(p)
    try {
      GraftSession.tagged(spark, name)(body)
      p.wallMs = System.currentTimeMillis() - p.t0
      GraftSession.tagged(spark, drainName)(sc.parallelize(Seq(1), 1).count())
      require(p.drained.await(60, TimeUnit.SECONDS),
        "listener bus did not deliver the drain marker within 60 s")
      p.jobs = p.jobs.sortBy(_.start)
      p
    } finally sc.removeSparkListener(p)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Inspect plan|profile <query[,query...]|all> [sfDir] [outDir]"
    require(args.length >= 2 && Set("plan", "profile")(args(0)), usage)
    val plan = args(0) == "plan"
    val outDir = args.lift(3).map(Paths.get(_))
    require(plan || outDir.isEmpty, s"only plan writes to an outDir; $usage")
    val selected = GraftSession.select(args(1), "Inspect").toSeq.sortBy(_._1)
    val dir = args.lift(2)
      .getOrElse(if (plan) "/root/testdata/sf0.001" else "/root/testdata/sf0.1")
    outDir.foreach(Files.createDirectories(_))
    val spark = GraftSession.local()
    // audit and profile the forget queries with the tombstone logs
    // populated, as Verify and Bench run them
    GraftSession.registerForgetFixtures(spark, dir)

    selected.foreach { case (name, fn) =>
      try {
        if (plan) {
          val df = fn(spark, dir)
          df.collect() // let AQE settle so the audited plan is the executed one
          val qe = df.queryExecution
          outDir.foreach(d => Files.write(d.resolve(s"$name.txt"),
            qe.explainString(FormattedMode).getBytes("UTF-8")))
          val p = qe.executedPlan.toString
          def has(s: String) = if (p.contains(s)) "Y" else "-"
          val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined
          println(f"[inspect] $name%-28s exchanges=${"Exchange".r.findAllIn(p).size}%2d" +
            f" globalWindow=${PlanWalk.globalWindows(qe.executedPlan).size}%d" +
            f" smj=${has("SortMergeJoin")} bhj=${has("BroadcastHashJoin")}" +
            f" codegen=${has("*(")} pushedFilters=${if (pushed) "Y" else "-"}" +
            f" topK=${has("TakeOrderedAndProject")}")
        } else {
          fn(spark, dir).count() // warm: codegen compiled, file metadata cached
          val p = profile(spark, name)(fn(spark, dir).count())
          p.jobs.zip(p.gaps).foreach { case (j, gap) =>
            println(f"[inspect] job=${j.id}%3d off=${(j.start - p.t0) / 1e3}%6.2f" +
              f" gap=${gap / 1e3}%5.2f dur=${math.max(0L, j.end - j.start) / 1e3}%5.2f" +
              f" tasks=${j.tasks}%3d")
          }
          val wallSec = p.wallMs / 1e3
          println(f"[inspect] $name wall=$wallSec%.3f s jobs=${p.jobs.size}" +
            f" stages=${p.stages} tasks=${p.tasks} taskRun=${p.taskRunMs / 1e3}%.2f s" +
            f" gc=${p.gcMs / 1e3}%.2f s deser=${p.deserMs / 1e3}%.2f s" +
            f" resultSer=${p.resultSerMs / 1e3}%.2f s driverGaps=${p.gaps.sum / 1e3}%.2f s")
          println(f"[inspect] $name input=${p.inputB / 1e6}%.1f MB" +
            f" shufRead=${p.shufReadB / 1e6}%.1f MB shufWrite=${p.shufWriteB / 1e6}%.1f MB" +
            f" parallelEff=${p.taskRunMs / 1e3 / wallSec}%.1fx")
        }
      } catch { case NonFatal(e) =>
        println(s"[inspect] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
