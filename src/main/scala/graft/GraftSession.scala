package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a Spark session is configured. Every entry point (Bench,
  * Verify, the tools) and the test suites build their session here, so
  * they all run one configuration: `local[cpus]` with as many shuffle
  * partitions, UTC, no UI, the RocksDB state store with changelog
  * checkpointing and checkpoint and local-file I/O that forks no shell
  * command ([[graft.streaming.Pipeline.rocksDbConfigs]]). A
  * streaming query restarted on an existing checkpoint keeps the
  * state-store provider its offset log recorded, so a checkpoint written
  * under the default provider still resumes under this session.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The local session; `conf` adds static settings (the test suites'
    * temp warehouse dir).
    */
  def local(cpus: Int = GraftSession.cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.streaming.Pipeline.rocksDbConfigs)
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  type Query = (SparkSession, String) => DataFrame

  /** The registered queries a comma-separated name list selects (`all`
    * selects every one). A name that is not registered fails fast with
    * the sorted list of unknown names: a silently empty selection would
    * read as "nothing regressed". `what` names the list's source in the
    * error.
    */
  def select(names: String, what: String): Map[String, Query] =
    if (names.trim == "all") SparkEntry.queries
    else {
      val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(wanted.nonEmpty, s"$what names no query")
      val unknown = wanted -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"$what names not registered: ${unknown.toSeq.sorted.mkString(", ")}")
      SparkEntry.queries.filter { case (n, _) => wanted(n) }
    }

  /** The deterministic tombstone sets the forget queries' oracles assume
    * ([[SparkEntry.registerForgetFixtures]]), registered once per sf dir.
    * A failure is logged, not fatal: a corpus without the events or
    * documents tables must not stop the other queries.
    */
  def registerForgetFixtures(spark: SparkSession, dirs: String*): Unit =
    dirs.distinct.foreach { d =>
      try SparkEntry.registerForgetFixtures(spark, d)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] forget fixture skipped for $d: ${e.getMessage}")
      }
    }

  /** The Spark job tag every job of query `name` carries inside [[tagged]]. */
  def tag(name: String): String = s"graft-query:$name"

  /** Runs `body` with [[tag]]`(name)` added to this thread's jobs, so
    * listeners can attribute them and `cancelJobsWithTag` can stop them.
    * Threads started inside `body` (the `Concurrent.materialize` branches)
    * inherit the tag; unlike a job group, it survives their own
    * `setJobGroup`.
    */
  def tagged[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(tag(name))
    try body finally sc.removeJobTag(tag(name))
  }
}
