package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (SURVEY §5 test strategy). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** The operating-system process starts (`jdk.ProcessStart`, with call
    * stacks) the JVM made while `body` ran. Hadoop's local filesystem
    * forks a shell command for some calls when the native libhadoop is
    * absent. A plain JFR recording, dumped on stop, rather than a
    * `RecordingStream`: JDK 17's stream has no stop that flushes, so
    * closing it may drop the last second's events.
    */
  protected def processStarts(body: => Unit): Seq[jdk.jfr.consumer.RecordedEvent] = {
    import scala.jdk.CollectionConverters._
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val f = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      body
      recording.stop()
      recording.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
    } finally {
      recording.close()
      Files.deleteIfExists(f)
    }
  }

  /** The `Class.method` names on a recorded process start's call stack. */
  protected def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4, Map("spark.sql.warehouse.dir" ->
      Files.createTempDirectory("graft_wh").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
