package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Event
import graft.streaming.{Pipeline, UserForget}

/** USER-level deletion through the event pipeline (round 15): the
  * read-path filter on the serving surfaces, the drain-guard deferral,
  * the full physical erase across silver/gold/change-feed/serve, the
  * serve stream's accounting surviving the in-place change scrub, and
  * the GDPR re-registration semantics (history gone, fresh rows
  * accumulate from zero).
  */
class UserForgetSpec extends SparkTestBase {

  private def freshCfg(): Pipeline.Config =
    Pipeline.Config(Files.createTempDirectory("graft_uforget").toString)

  private def ev(id: String, group: String, score: Float, tsMs: Long) =
    Event(id, group, score, tsMs)

  test("full pipeline erase: tombstoned user vanishes from the read path " +
    "immediately, the apply scrubs silver + gold + change feed + serve, " +
    "a restarted serve stream re-plans nothing, and the user's later " +
    "events accumulate from zero") {
    import spark.implicits._
    val cfg = freshCfg()
    val input = MemoryStream[Event](110, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    try {
      input.addData(
        ev("e1", "g1", 1.5f, t0), ev("e2", "g2", 2.0f, t0 + 1000),
        ev("e3", "g2", 3.0f, t0 + 2000), ev("e4", "g3", 4.0f, t0 + 3000))
      silverQ.processAllAvailable()
      input.addData(
        ev("e5", "g2", 5.0f, t0 + 4000), ev("e6", "g1", 6.0f, t0 + 5000))
      silverQ.processAllAvailable()
      val goldQ = Pipeline.startGold(spark, cfg)
      try goldQ.processAllAvailable() finally goldQ.stop()
      // a g2-ONLY batch makes one change-feed version whose rows all
      // belong to the deleted user — the scrub's empty-leaf path (the
      // staged rewrite has zero rows; the plan is pure deletion)
      input.addData(ev("e0", "g2", 7.0f, t0 + 5500))
      silverQ.processAllAvailable()
      val goldQb = Pipeline.startGold(spark, cfg)
      try goldQb.processAllAvailable() finally goldQb.stop()
      val serveQ = Pipeline.startServe(spark, cfg)
      try serveQ.processAllAvailable() finally serveQ.stop()

      UserForget.forgetUsers(spark, cfg.baseDir,
        Seq("g2").toDF("group_id"))
      // read path: the serving projection closes ranks immediately
      val live = UserForget.excludeForgottenUsers(spark, cfg.baseDir,
        Pipeline.serveProjection(spark, cfg), "group_id")
        .select(col("group_id")).collect().map(_.getString(0)).sorted
      assert(live.toSeq == Seq("g1", "g3"))

      var erased = 0L
      val starts = processStarts {
        erased = UserForget.applyForgetUsersIfNeeded(spark, cfg)
      }
      assert(erased == 4L, s"erased=$erased (g2 has 4 silver rows)")
      // the erase walks the stores with listStatus: a recursive
      // listFiles builds a LocatedFileStatus per file, which forks
      // `ls -ld` when the native libhadoop is absent
      val viaLocated = starts.filter(e =>
        frames(e).exists(_.contains("LocatedFileStatus")))
      assert(viaLocated.isEmpty, s"${viaLocated.size} of ${starts.size} " +
        "process starts came from a LocatedFileStatus, e.g.\n  " +
        viaLocated.take(1).flatMap(frames).mkString("\n  "))
      assert(!UserForget.forgetUsersTableExists(spark, cfg.baseDir))
      // every store scrubbed
      def g2In(path: String): Long =
        spark.read.option("basePath", path).parquet(path)
          .filter(col("group_id") === "g2").count()
      assert(g2In(cfg.silverPath) == 0L, "silver history not scrubbed")
      assert(g2In(cfg.goldPath) == 0L, "gold snapshot not scrubbed")
      assert(g2In(cfg.goldChangesPath) == 0L, "change feed not scrubbed")
      assert(g2In(cfg.servePath) == 0L, "serve store not scrubbed")
      // survivors intact end-to-end
      val gold = Pipeline.serveProjection(spark, cfg).collect()
        .map(r => r.getAs[String]("group_id") ->
          r.getAs[Long]("event_count")).toMap
      assert(gold == Map("g1" -> 2L, "g3" -> 1L), gold.toString)
      // re-apply after the clear is a no-op
      assert(UserForget.applyForgetUsersIfNeeded(spark, cfg) == -1L)

      // the in-place change scrub kept every surviving NAME: a restarted
      // serve stream plans nothing new (re-planned scrubbed history
      // would re-upsert stale postimages under a fresh _serve_batch)
      val serveRowsBefore = spark.read
        .option("basePath", cfg.servePath).parquet(cfg.servePath).count()
      val serveQ2 = Pipeline.startServe(spark, cfg)
      try serveQ2.processAllAvailable() finally serveQ2.stop()
      assert(spark.read.option("basePath", cfg.servePath)
        .parquet(cfg.servePath).count() == serveRowsBefore,
        "restarted serve stream re-planned scrubbed change files")

      // GDPR re-registration: g2's NEW events accumulate from zero
      input.addData(ev("e7", "g2", 9.0f, t0 + 600000))
      silverQ.processAllAvailable()
      val goldQ2 = Pipeline.startGold(spark, cfg)
      try goldQ2.processAllAvailable() finally goldQ2.stop()
      val g2row = Pipeline.serveProjection(spark, cfg)
        .filter(col("group_id") === "g2").collect()
      assert(g2row.length == 1 && g2row.head.getAs[Long]("event_count") == 1L,
        s"re-registered user must restart from zero: ${g2row.toSeq}")
    } finally {
      silverQ.stop()
      UserForget.purgeForgetUsersTable(spark, cfg.baseDir)
    }
  }

  test("an erase after gold ran but before serve ever started scrubs the " +
    "change feed in place: a serve stage started afterwards serves no " +
    "row of the erased user and every other group exactly") {
    import spark.implicits._
    val cfg = freshCfg()
    val input = MemoryStream[Event](112, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    try {
      def silverThenGold(events: Event*): Unit = {
        input.addData(events: _*)
        silverQ.processAllAvailable()
        val goldQ = Pipeline.startGold(spark, cfg)
        try goldQ.processAllAvailable() finally goldQ.stop()
      }
      // two change-feed versions: inserts for g1-g3, then a pre- and
      // postimage for g1 and g2
      silverThenGold(
        ev("e1", "g1", 1.5f, t0), ev("e2", "g2", 2.0f, t0 + 1000),
        ev("e3", "g3", 4.0f, t0 + 2000))
      silverThenGold(
        ev("e4", "g2", 5.0f, t0 + 3000), ev("e5", "g1", 6.0f, t0 + 4000))
      UserForget.forgetUsers(spark, cfg.baseDir, Seq("g2").toDF("group_id"))
      assert(UserForget.applyForgetUsersIfNeeded(spark, cfg) == 2L)
      val serveQ = Pipeline.startServe(spark, cfg)
      try serveQ.processAllAvailable() finally serveQ.stop()
      val cols = Seq("_id", "cumulative_score", "event_count",
        "first_event_timestamp", "last_event_timestamp")
      val served = Pipeline.serveSnapshot(spark, cfg)
        .select(cols.map(col): _*).orderBy("_id").collect().toSeq
      val gold = Pipeline.serveProjection(spark, cfg)
        .select(cols.map(col): _*).orderBy("_id").collect().toSeq
      assert(Pipeline.serveLog(spark, cfg)
        .filter(col("group_id") === "g2").count() == 0L,
        "serve read an erased user's change row")
      assert(served.map(_.getString(0)) == Seq("g1", "g3"), served.toString)
      assert(served == gold, s"\n$served\nvs\n$gold")
    } finally {
      silverQ.stop()
      UserForget.purgeForgetUsersTable(spark, cfg.baseDir)
    }
  }

  test("req_ms log migration is crash-safe: the rewrite stages beside " +
    "the live log and swaps, and a crash in any window heals without " +
    "losing a pending deletion (ADVICE r16)") {
    import spark.implicits._
    import graft.ext.IndexCatalog
    val cfg = freshCfg()
    val t = UserForget.forgetUsersTable(cfg.baseDir)
    val loc = IndexCatalog.tableLocation(spark, t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // plant a LEGACY (pre-req_ms) log: gid only
      Seq("old1", "old2").toDF("gid").write
        .bucketBy(8, "gid").sortBy("gid")
        .option("path", loc.toString).saveAsTable(t)
      // a new registration migrates in place: legacy rows gain req_ms,
      // nothing is lost, the new tombstone appends
      UserForget.forgetUsers(spark, cfg.baseDir,
        Seq("new1").toDF("group_id"), reqMs = 42L)
      val pend = UserForget.pendingRequests(spark, cfg.baseDir)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(pend == Seq(("new1", 42L), ("old1", 42L), ("old2", 42L)),
        pend.toString)
      // no swap debris after a clean migration
      assert(!fs.exists(new org.apache.hadoop.fs.Path(loc.getParent,
        s".${loc.getName}.rewrite")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(loc.getParent,
        s".${loc.getName}.trash")))

      // crash window 1: the live dir was renamed away and the committed
      // stage never promoted — every exists-guard must heal, not report
      // "no data" (the window that silently restarted the log)
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val tmp = new org.apache.hadoop.fs.Path(loc.getParent,
        s".${loc.getName}.rewrite")
      fs.rename(loc, tmp)
      assert(UserForget.forgetUsersTableExists(spark, cfg.baseDir),
        "a committed stage must heal to the live location")
      assert(UserForget.pendingRequests(spark, cfg.baseDir).count() == 3L)

      // crash window 2: the legacy data survives only at the trash path
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val trash = new org.apache.hadoop.fs.Path(loc.getParent,
        s".${loc.getName}.trash")
      fs.rename(loc, trash)
      assert(UserForget.forgetUsersTableExists(spark, cfg.baseDir),
        "surviving trash must restore the live location")
      assert(UserForget.pendingRequests(spark, cfg.baseDir).count() == 3L)
    } finally UserForget.purgeForgetUsersTable(spark, cfg.baseDir)
  }

  test("drain guard: the apply HOLDS BACK (-2) while gold owes silver " +
    "files a fold — an unconsumed file would fold the user back into " +
    "gold after the scrub — and lands once drained") {
    import spark.implicits._
    val cfg = freshCfg()
    val input = MemoryStream[Event](111, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    try {
      input.addData(ev("e1", "u1", 1.0f, t0), ev("e2", "u2", 2.0f, t0 + 1000))
      silverQ.processAllAvailable()
      val goldQ = Pipeline.startGold(spark, cfg)
      try goldQ.processAllAvailable() finally goldQ.stop()
      // a second silver batch gold has NOT consumed
      input.addData(ev("e3", "u2", 3.0f, t0 + 2000))
      silverQ.processAllAvailable()
      UserForget.forgetUsers(spark, cfg.baseDir, Seq("u2").toDF("group_id"))
      assert(UserForget.applyForgetUsersIfNeeded(spark, cfg) == -2L)
      // tombstone survives the deferral — nothing was lost
      assert(UserForget.forgottenUserIds(spark, cfg.baseDir).count() == 1L)
      // the takedown-SLA probe makes the deferral VISIBLE (r15 VERDICT
      // next #1): pending request with a nonzero age, the blocking
      // reason named, and under a zero-tolerance SLA the guard flips
      // unhealthy — a stuck gold consumer can no longer silently
      // outlive the legal clock
      val held = UserForget.forgetUsersAudit(spark, cfg, slaMs = 0L)
        .collect().head
      assert(held.getAs[Long]("pending_users") == 1L)
      assert(held.getAs[Long]("oldest_pending_ms") > 0L,
        "pending request must carry a nonzero age")
      assert(held.getAs[String]("deferred_because") ==
        "gold_owes_silver_files", held.toString)
      assert(!held.getAs[Boolean]("sla_ok"),
        "zero-tolerance SLA must flip unhealthy while held back")
      // under a generous SLA the same held-back state is still healthy
      assert(UserForget.forgetUsersAudit(spark, cfg)
        .collect().head.getAs[Boolean]("sla_ok"))
      // drain gold, then the erase lands (u2 has 2 silver rows)
      val goldQ2 = Pipeline.startGold(spark, cfg)
      try goldQ2.processAllAvailable() finally goldQ2.stop()
      assert(UserForget.deferralReason(spark, cfg).isEmpty,
        "drained chain must report no deferral reason")
      assert(UserForget.applyForgetUsersIfNeeded(spark, cfg) == 2L)
      // the apply clears the clock: no pending, no reason, healthy
      // even at zero tolerance
      val cleared = UserForget.forgetUsersAudit(spark, cfg, slaMs = 0L)
        .collect().head
      assert(cleared.getAs[Long]("pending_users") == 0L &&
        cleared.getAs[Long]("oldest_pending_ms") == 0L &&
        cleared.getAs[String]("deferred_because") == "none" &&
        cleared.getAs[Boolean]("sla_ok"), cleared.toString)
      assert(spark.read.option("basePath", cfg.silverPath)
        .parquet(cfg.silverPath).filter(col("group_id") === "u2")
        .count() == 0L)
      assert(spark.read.option("basePath", cfg.goldPath)
        .parquet(cfg.goldPath).filter(col("group_id") === "u2")
        .count() == 0L)
    } finally {
      silverQ.stop()
      UserForget.purgeForgetUsersTable(spark, cfg.baseDir)
    }
  }

  test("drain guard: a gold checkpoint with no source log yet holds the " +
    "apply back — compaction rewrites nothing there, and gold would fold " +
    "the user back in — and the erase lands once gold has drained") {
    import spark.implicits._
    val cfg = freshCfg()
    val input = MemoryStream[Event](113, spark, None)
    val silverQ = Pipeline.startSilver(spark, input.toDF(), cfg)
    val t0 = 1700000000000L
    try {
      input.addData(ev("e1", "u1", 1.0f, t0), ev("e2", "u2", 2.0f, t0 + 1000))
      silverQ.processAllAvailable()
      // what startGold leaves before its stream plans a batch
      val fs = new org.apache.hadoop.fs.Path(cfg.baseDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(cfg.checkpoint("gold")))
      UserForget.forgetUsers(spark, cfg.baseDir, Seq("u2").toDF("group_id"))
      assert(UserForget.deferralReason(spark, cfg)
        .contains("gold_owes_silver_files"))
      assert(UserForget.applyForgetUsersIfNeeded(spark, cfg) == -2L)
      val goldQ = Pipeline.startGold(spark, cfg)
      try goldQ.processAllAvailable() finally goldQ.stop()
      assert(UserForget.applyForgetUsersIfNeeded(spark, cfg) == 1L)
      Seq(cfg.silverPath, cfg.goldPath).foreach { p =>
        assert(spark.read.option("basePath", p).parquet(p)
          .filter(col("group_id") === "u2").count() == 0L, p)
      }
    } finally {
      silverQ.stop()
      UserForget.purgeForgetUsersTable(spark, cfg.baseDir)
    }
  }

  test("scrub-manifest replay is idempotent across the MOVE phase: a " +
    "crash landing after the MOVE executed (src gone, dst scrubbed) " +
    "replays without deleting the leaf's surviving rows — including " +
    "against a legacy manifest that lists the MOVE destination as a " +
    "DELETE line") {
    import org.apache.hadoop.fs.Path
    val cfg = freshCfg()
    val fs = new Path(cfg.baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaf = new Path(cfg.goldChangesPath, "_commit_version=1/gb=0")
    val stage = new Path(s"${cfg.baseDir}/gold_changes_scrub_tmp",
      "_commit_version=1/gb=0")
    val manifest = new Path(s"${cfg.baseDir}/gold_changes_scrub_manifest")
    def touch(p: Path, content: String): Unit = {
      val out = fs.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    def writeManifest(lines: Seq[String]): Unit =
      touch(manifest, lines.mkString("", "\n", "\n"))
    def readFile(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val dst = new Path(leaf, "part-a")
    val merged = new Path(leaf, "part-b")
    val staged = new Path(stage, "part-staged")
    val plan = Seq(s"DELETE\t$merged", s"MOVE\t$staged\t$dst")
    // first replay: normal execution — merged original deleted, staged
    // survivor installed under the surviving original name
    touch(dst, "unscrubbed-a"); touch(merged, "unscrubbed-b")
    touch(staged, "scrubbed")
    writeManifest(plan)
    UserForget.replayScrubManifest(fs, cfg)
    assert(!fs.exists(merged) && !fs.exists(manifest))
    assert(readFile(dst) == "scrubbed")
    // the r15 ADVICE crash window: the MOVE already executed but the
    // manifest survived — the replay must treat the leaf as complete,
    // not re-delete the scrubbed survivor
    writeManifest(plan)
    UserForget.replayScrubManifest(fs, cfg)
    assert(fs.exists(dst) && readFile(dst) == "scrubbed",
      "replay after a post-MOVE crash deleted the scrubbed survivor")
    // defensive half: a legacy manifest that (wrongly) lists the MOVE
    // destination as a DELETE line must still not lose the survivor
    writeManifest(s"DELETE\t$dst" +: plan)
    UserForget.replayScrubManifest(fs, cfg)
    assert(fs.exists(dst) && readFile(dst) == "scrubbed",
      "replay executed a DELETE naming the MOVE destination")
  }

  test("unrecoverable swap debris fails loudly: a gold bucket gone with " +
    "only an uncommitted rewrite sibling surviving aborts the apply " +
    "instead of silently vanishing; a store dir that never existed " +
    "stays silent") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val cfg = freshCfg()
    val fs = new Path(cfg.baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      UserForget.forgetUsers(spark, cfg.baseDir, Seq("x").toDF("group_id"))
      // a fresh pipeline (no gold/changes/serve dirs at all) recovers
      // nothing and defers nothing — the apply proceeds to a clean
      // erase of the (empty) stores rather than throwing
      assert(UserForget.applyForgetUsersIfNeeded(spark, cfg) >= -2L)
      UserForget.forgetUsers(spark, cfg.baseDir, Seq("x").toDF("group_id"))
      // fabricate the impossible-under-protocol debris: the bucket dir
      // is gone, an UNCOMMITTED rewrite survives, no trash
      fs.mkdirs(new Path(cfg.goldPath, ".gb=0.rewrite"))
      val e = intercept[IllegalArgumentException] {
        UserForget.applyForgetUsersIfNeeded(spark, cfg)
      }
      assert(e.getMessage.contains("lost outside the swap protocol"))
    } finally UserForget.purgeForgetUsersTable(spark, cfg.baseDir)
  }

  test("registration is idempotent across batches and in-batch " +
    "duplicates; an empty batch never creates the log") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_uforget_reg").toString
    try {
      UserForget.forgetUsers(spark, base,
        spark.range(0).select(col("id").cast("string").as("group_id")))
      assert(!UserForget.forgetUsersTableExists(spark, base))
      UserForget.forgetUsers(spark, base,
        Seq("a", "a", "b").toDF("group_id"))
      assert(UserForget.forgottenUserIds(spark, base).count() == 2L)
      UserForget.forgetUsers(spark, base, Seq("b", "c").toDF("group_id"))
      assert(UserForget.forgottenUserIds(spark, base)
        .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b", "c"))
      // redelivery cannot refresh a request's SLA clock: "a" keeps its
      // FIRST registration time even when a replay arrives much later
      UserForget.forgetUsers(spark, base, Seq("a").toDF("group_id"),
        reqMs = 9999999999999L)
      val reqs = UserForget.pendingRequests(spark, base).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(reqs("a") < 9999999999999L,
        s"replay refreshed the SLA clock: ${reqs("a")}")
    } finally UserForget.purgeForgetUsersTable(spark, base)
  }
}
