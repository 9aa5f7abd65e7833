package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Schemas
import graft.ops.{Aggregate, Dedup}

/** The reference's medallion streaming pipeline, rebuilt on Structured
  * Streaming without Delta (SURVEY §2.9, §7.4):
  *
  *   raw event stream (Kafka / MemoryStream / file)
  *     → parse + derived cols (P1-P4)
  *     → watermark + dropDuplicatesWithinWatermark (T1/T2, reference
  *       silver.py:62-66)
  *     → foreachBatch insert-only MERGE into partitioned silver parquet
  *       (J1 left-anti on (minute_timestamp, id) with the dynamic IN-list
  *       bucket prune — reference silver.py:10-40)
  *   silver parquet dir
  *     → file-source stream (the Delta-CDF-insert analog: silver is
  *       insert-only, so new files ARE the inserts — SURVEY §7.4)
  *     → per-batch partial aggregate (A1) + full-outer fold into gold
  *       (A2/J2, reference gold.py:7-46)
  *   gold snapshot
  *     → serving projection with `_id` (S7/P9, reference tomongo.py:6-17)
  *
  * Exactly-once notes: silver is idempotent under micro-batch replay (the
  * MERGE key guard absorbs reprocessing — T5). The gold fold, like the
  * reference's, is at-least-once across driver crashes inside foreachBatch;
  * the checkpointed file-source offsets make replays rare, and the
  * batch-id guard [[GoldState.lastBatchId]] skips folds already applied.
  *
  * Scale notes: dedup state lives in RocksDB with changelog checkpointing
  * (reference utils.py:41-42) so the hot set stays off-heap and restarts
  * replay only the changelog tail. Silver is partitioned by
  * minute_timestamp (the liquid-clustering fallback, SURVEY §7.4) so the
  * MERGE's bucket IN-list becomes real partition pruning on the target
  * scan. The fold shuffles only per-group partials (≤ one row per
  * group_id per batch), never raw events.
  */
object Pipeline {

  final case class Config(baseDir: String, goldBuckets: Int = 64) {
    def silverPath: String = s"$baseDir/silver"
    def goldPath: String = s"$baseDir/gold"
    def goldChangesPath: String = s"$baseDir/gold_changes"
    def servePath: String = s"$baseDir/serve"
    def checkpoint(name: String): String = s"$baseDir/checkpoints/$name"
  }

  /** Session configs for the chain: the reference's state-store tuning,
    * a codegen cache sized for three concurrent micro-batch plans, and
    * checkpoint and local-file I/O that forks no process.
    *
    * `spark.sql.codegen.cache.maxEntries` (a static conf — it must be set
    * before the session exists): every batch re-plans each stage's sink
    * and looks its generated classes up in Spark's compiled-class cache,
    * keyed by source text. The chain's sinks carry no per-batch literal
    * ([[batchClockSeconds]], the path-addressed sink directories), so a
    * steady batch's sources are all hits — but only if they fit. The
    * cache is shared with the serve reader and maintenance jobs and its
    * 100-entry default is split over the cache's segments: at that size
    * the chain benchmark (`chain_steady`, 4 cores) still ran 377 Janino
    * compilations in a 25 s window, against 49 at 1,000 entries. The
    * larger cache kept ~40 MB more heap live there.
    *
    * The last two entries keep checkpoint and table I/O in-process. With
    * no native libhadoop on the classpath, Hadoop's local filesystem
    * forks a shell command for a permission change (`chmod`) and for the
    * symlink check of a FileContext rename (`readlink`):
    *   - `spark.sql.streaming.checkpointFileManagerClass`: Spark's
    *     default manager renames through `FileContext` (one `readlink`
    *     per offset, commit, state and metadata file). The FileSystem
    *     manager writes a temp file and renames it with plain
    *     `FileSystem.rename`, atomic on the local FS and on HDFS, which
    *     is enough for a checkpoint with one writer.
    *   - `spark.hadoop.fs.file.impl`: [[graft.storage.NioLocalFileSystem]]
    *     sets permissions through java.nio instead of forking `chmod` for
    *     every file Hadoop creates.
    * Two JFR-recorded `chain_steady` runs (4 cores) counted 4,552 and
    * 4,851 process starts without the two entries, 83% of them from the
    * default manager, and 219 and 231 with them.
    */
  def rocksDbConfigs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.hadoop.fs.file.impl" -> classOf[graft.storage.NioLocalFileSystem].getName)

  /** The wall clock, in whole epoch seconds, captured once at this call
    * and served as a column whose generated code does not depend on the
    * value. `unix_timestamp(current_timestamp())` is folded by Catalyst
    * into a literal, so every batch emitted new source text and
    * recompiled its stage; here the value rides in the UDF closure (a
    * reference object of the compiled class), so batch N reuses batch
    * 1's classes. One call per batch gives every row of the batch the
    * same value. Nondeterministic so the optimizer neither folds nor
    * duplicates it.
    */
  private[streaming] def batchClockSeconds(): org.apache.spark.sql.Column = {
    val now = System.currentTimeMillis() / 1000L
    udf(() => now).asNondeterministic().asNonNullable()()
  }

  /** Kafka source wiring mirroring the reference's options
    * (silver.py:45-51): subscribe + earliest offsets + per-trigger cap.
    * The spark-sql-kafka connector jar resolves at runtime (`format` is a
    * string lookup), so this compiles and ships without it; the test
    * environment drives the identical downstream pipeline from
    * MemoryStream instead (SURVEY §2.1 S1/S11).
    */
  def fromKafka(spark: SparkSession, bootstrapServers: String, topic: String,
                maxOffsetsPerTrigger: Long = 10000L): DataFrame =
    parseKafkaShaped(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
        .load())

  /** P1-P4 over a raw Kafka-shaped stream: binary key/value → parsed
    * struct → flat columns + ingest/bucket/watermark columns.
    * (reference silver.py:54-62)
    */
  def parseKafkaShaped(raw: DataFrame): DataFrame =
    raw.select(col("value").cast("string").as("value"))
      .withColumn("json", from_json(col("value"), Schemas.eventSchema))
      .select("json.*") // flat Event columns; startSilver derives the rest

  /** Same derivations when the stream is already typed (MemoryStream).
    * `ingest_timestamp` is not derived here: it is a per-batch value, and
    * [[startSilver]] stamps it on each deduped batch.
    */
  def withDerived(events: DataFrame): DataFrame =
    events
      .withColumn("minute_timestamp",
        (col("event_timestamp") / lit(1000) / lit(180)).cast("long"))
      .withColumn("timestamp",
        (col("event_timestamp") / lit(1000)).cast("timestamp"))

  /** How far event time may lag before the dedup stage drops an event
    * and evicts its state (reference silver.py:62-63, SURVEY T1).
    */
  private val watermarkDelay = "30 seconds"

  /** Stage 1: raw → watermark dedup → insert-only MERGE into silver. */
  def startSilver(spark: SparkSession, raw: DataFrame,
                  cfg: Config): StreamingQuery = {
    val deduped = withDerived(raw)
      .withWatermark("timestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark("id")
      .drop("timestamp")
    deduped.writeStream
      .queryName("graft_silver")
      .option("checkpointLocation", cfg.checkpoint("silver"))
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeToSilver(spark,
          batch.withColumn("ingest_timestamp", batchClockSeconds()), cfg)
      }
      .start()
  }

  /** Minute-buckets per silver partition directory. The MERGE key stays
    * (minute_timestamp, id); this only sets the DIRECTORY granularity.
    * 20 × 180 s = 1 h — at 3-minute dirs a time-ordered replay wrote
    * ~1,440 partition dirs per 10k-event batch (the r16 ×10-replay
    * small-file storm: listings, per-dir writes, and downstream
    * file-count-driven triggers all scaled with it); hourly dirs keep
    * partition pruning while bounding dirs at 8,760/year.
    */
  private val hbMinuteBuckets = 20

  /** Silver partition-directory value of a minute bucket: `hb` = hour
    * bucket ([[hbMinuteBuckets]] × 180 s). A DATA column in every silver
    * frame but a DIRECTORY name on disk — `minute_timestamp` stays a
    * normal parquet column, and batch/stream readers get `hb` appended
    * from the dir names.
    */
  private[streaming] def silverHb: org.apache.spark.sql.Column =
    floor(col("minute_timestamp") / lit(hbMinuteBuckets)).cast("long")

  /** J1: anti-join the batch against the already-written hour buckets
    * only, then append. Idempotent per (minute_timestamp, id). The batch
    * must carry one row per id, as the stream's
    * `dropDuplicatesWithinWatermark` leaves it.
    *
    * The target prune is DIRECT-PATH, not a filter: the batch's touched
    * `hb` values name their partition directories outright, so the
    * target read lists only those dirs — no whole-table partition
    * discovery per micro-batch (at the r16 ×10-replay shape discovery
    * re-listed every silver dir each batch, a cost that grew with
    * table age, not batch size).
    */
  def mergeToSilver(spark: SparkSession, batch: DataFrame,
                    cfg: Config): Unit = {
    val out = new Path(cfg.silverPath)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two actions follow (bucket collect + the merge write); without a
    // persist each would re-execute the full batch plan — in the
    // streaming path that plan includes the RocksDB state-store read
    val batchDedup = batch.withColumn("hb", silverHb).persist()
    try {
      val hbs = batchDedup.select("hb").distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      val existingDirs =
        if (!fs.exists(out)) Nil
        else hbs.map(h => new Path(out, s"hb=$h")).filter(fs.exists(_))
          .map(_.toString)
      val fresh =
        if (existingDirs.isEmpty) batchDedup
        else {
          val existing = spark.read
            .schema(Schemas.silverSchema)
            .option("basePath", cfg.silverPath)
            .parquet(existingDirs: _*)
          // two-phase broadcast-of-the-batch anti-join: the target bucket
          // is streamed map-side, never shuffled — the shape that holds
          // when one bucket is GBs (the single left-anti could only
          // broadcast the target side)
          Dedup.insertOnlyMergeSmallBatch(batchDedup, existing,
            "minute_timestamp", "id", None)
        }
      // cluster the append by hour bucket so each micro-batch lands ~one
      // file per touched hour instead of shuffle-partitions × dirs small
      // files — keeps the per-batch target re-scan (and 100 TB compaction
      // debt) flat
      fresh.select((Schemas.silverSchema.fieldNames.toSeq :+ "hb").map(col): _*)
        .repartition(col("hb"))
        .write.mode("append").partitionBy("hb")
        .parquet(cfg.silverPath)
    } finally batchDedup.unpersist(false)
  }

  /** Compaction (the OPTIMIZE analog, reference utils.py:111-124): each
    * silver bucket's accumulated micro-batch files rewritten as one. The
    * 1M-event soak shows why: the MERGE's target re-scan decays as small
    * files accumulate. `rowFilter`, when given, rewrites the rows too
    * (the user-deletion scrub, [[UserForget]]).
    *
    * Which files may be rewritten depends on whether a gold stream
    * consumes silver as a file source. The gold CHECKPOINT directory is
    * the witness: [[startGold]] creates it before its stream starts, and
    * it outlives the query object.
    *
    *   - WITH a consumer (the reference OPTIMIZEs live because Delta
    *     commits rewrites with dataChange=false): gold's source reads
    *     ONLY `part-*` files ([[silverInsertStream]]'s `pathGlobFilter`),
    *     so the rewrite takes the files gold has COMMITTED
    *     ([[committedSourcePaths]]) plus prior `compact-*` outputs and
    *     writes `compact-*` names gold never plans. A committed file is
    *     never re-read (the source's seen-files log outlives restarts;
    *     only planned-but-uncommitted batches replay), so its rows stay
    *     exactly-once in gold. Not-yet-consumed part files are left
    *     alone: gold still owes them a fold. Until gold's source log
    *     (`sources/0`) exists, nothing is known committed and nothing is
    *     rewritten. This reads only GOLD's checkpoint, so it is safe only
    *     because gold is the one stream that reads silver.
    *   - With NO consumer, every data file is eligible and the rewrite
    *     writes `part-*` names, so a gold stream started later folds each
    *     row exactly once. A gold stream whose first start races a
    *     compaction in flight could see a row twice: start gold before
    *     compacting, or with the compaction quiesced.
    *
    * A bucket is rewritten when merging shrinks its file count, or,
    * under a `rowFilter`, whenever it has any eligible file.
    *
    * Crash safety without a transaction log: the rewritten buckets are
    * staged to a `_compact_tmp` dir, then a MANIFEST (a sibling file,
    * never visible to any reader of the data dir) records every
    * rename-in and delete before any is performed. A crash at any point
    * replays the manifest on the next run ([[replayCompactionManifest]]):
    * renames are idempotent (skip when src is gone / dst exists), deletes
    * are idempotent, and the tmp dir is only removed after the manifest
    * is. Readers racing the rename→delete window can transiently see a
    * row twice; streaming gold is immune via the committed-only rule.
    *
    * Not safe beside a running silver stream: it deletes part files the
    * silver MERGE may be reading (ROADMAP item 2).
    */
  def compactSilver(spark: SparkSession, cfg: Config,
                    rowFilter: Option[DataFrame => DataFrame] = None)
      : Unit = {
    val dir = new Path(cfg.silverPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    replayCompactionManifest(fs, cfg) // finish any crashed prior run
    if (stageSilverCompaction(spark, fs, cfg, rowFilter)) {
      replayCompactionManifest(fs, cfg)
      spark.catalog.refreshByPath(cfg.silverPath)
    }
  }

  /** The staging half of [[compactSilver]]: writes the rewritten
    * buckets to `_compact_tmp` and the plan to the manifest, and
    * changes nothing a reader sees. False when no bucket qualifies.
    */
  private[graft] def stageSilverCompaction(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem, cfg: Config,
      rowFilter: Option[DataFrame => DataFrame]): Boolean = {
    val dir = new Path(cfg.silverPath)
    val goldCkpt = cfg.checkpoint("gold")
    // None: no consumer; Some(c): gold's committed part files
    val committed: Option[Set[String]] =
      if (!fs.exists(new Path(goldCkpt))) None
      else committedSourcePaths(fs, goldCkpt) match {
        case None => return false // no gold source log yet — nothing is safe
        case some => some
      }
    val outPrefix = if (committed.isDefined) "compact-" else "part-"
    val buckets = fs.listStatus(dir).toSeq.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("hb="))
    val doomed: Seq[Path] = buckets.flatMap { b =>
      val files = fs.listStatus(b.getPath).toSeq.filter(_.isFile)
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          (n.startsWith("part-") &&
            committed.forall(_.contains(p.toUri.getPath))) ||
            n.startsWith("compact-")
        }
      if (files.size >= 2 || (rowFilter.isDefined && files.nonEmpty)) files
      else Nil
    }
    if (doomed.isEmpty) return false
    val tmp = new Path(cfg.silverPath + "_compact_tmp")
    fs.delete(tmp, true)
    val doomedBase = spark.read.schema(Schemas.silverSchema)
      .option("basePath", cfg.silverPath)
      .parquet(doomed.map(_.toString): _*)
    rowFilter.map(_(doomedBase)).getOrElse(doomedBase)
      .repartition(col("hb"))
      .write.mode("overwrite").partitionBy("hb")
      .parquet(tmp.toString)
    // stage the plan: every rename-in (tmp part file → live bucket) and
    // every delete of a merged source
    val moves = fs.listStatus(tmp).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("hb="))
      .flatMap { b =>
        fs.listStatus(b.getPath).toSeq.filter(_.isFile)
          .filter(_.getPath.getName.startsWith("part-"))
          .map { f =>
            val dst = new Path(new Path(dir, b.getPath.getName),
              outPrefix + f.getPath.getName.stripPrefix("part-"))
            (f.getPath, dst)
          }
      }
    val manifest = compactionManifestPath(cfg)
    val out = fs.create(manifest, true)
    try {
      moves.foreach { case (s, d) => out.write(s"MOVE\t$s\t$d\n".getBytes("UTF-8")) }
      doomed.foreach(p => out.write(s"DELETE\t$p\n".getBytes("UTF-8")))
    } finally out.close()
    true
  }

  private def compactionManifestPath(cfg: Config): Path =
    new Path(cfg.silverPath + "_compact_manifest")

  /** Executes (or re-executes after a crash) the staged compaction plan:
    * MOVE lines first, then DELETE lines, each idempotent; afterwards the
    * manifest and the staging dir are removed, in that order — so a crash
    * anywhere re-enters here with the manifest still authoritative.
    */
  private[graft] def replayCompactionManifest(
      fs: org.apache.hadoop.fs.FileSystem, cfg: Config): Unit = {
    val manifest = compactionManifestPath(cfg)
    if (!fs.exists(manifest)) {
      fs.delete(new Path(cfg.silverPath + "_compact_tmp"), true)
      return
    }
    val in = fs.open(manifest)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val (movesL, rest) = lines.partition(_.startsWith("MOVE\t"))
    movesL.foreach { l =>
      val Array(_, src, dst) = l.split('\t')
      val (s, d) = (new Path(src), new Path(dst))
      if (fs.exists(s) && !fs.exists(d)) fs.rename(s, d)
    }
    rest.filter(_.startsWith("DELETE\t")).foreach { l =>
      val p = new Path(l.split('\t')(1))
      if (fs.exists(p)) fs.delete(p, false)
    }
    fs.delete(manifest, false)
    fs.delete(new Path(cfg.silverPath + "_compact_tmp"), true)
  }

  /** The VACUUM analog (reference utils.py:127-135, scheduled with 168 h
    * retention in bootstrap.py:61-62): the change-feed log grows one
    * `_commit_version=<batch>` partition per fold, and versions the serve
    * stage has consumed are reclaimable.
    *
    * The cutoff is derived from the serve stream's OWN progress: a
    * version is deleted only when every data file under it appears in the
    * serve checkpoint's committed file-source log — so a lagging or
    * paused serve stage holds the vacuum back instead of silently losing
    * change-feed data (the failure Delta documents for vacuuming below
    * retention while a stream reads the table). `keepVersions` is a
    * retention FLOOR on top of that: the newest `keepVersions` versions
    * beyond the live edge survive even when fully consumed, so a second
    * feed consumer — or a serve stage rebuilt with a fresh checkpoint —
    * keeps a replay window (Delta's retention-hours analog; pass 0 to
    * reclaim everything consumed). When no serve checkpoint exists at all
    * (stage 3 never started) only the floor applies.
    *
    * Stray directories matching the partition prefix but with a
    * non-numeric suffix are skipped, never deleted. The NEWEST version is
    * always retained even when consumed: the fold's dynamic-partition
    * overwrite and concurrent readers list the directory through Spark's
    * file-status cache, and deleting the live edge of the log under them
    * races that listing (the same reason Delta never vacuums the active
    * window). After deleting, the cached listing for the change dir is
    * invalidated so the next fold re-lists from the filesystem.
    */
  def vacuumGoldChanges(spark: SparkSession, cfg: Config,
                        keepVersions: Int = 168): Unit = {
    val dir = new Path(cfg.goldChangesPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = numberedDirs(fs, dir, "_commit_version=")
    if (versions.isEmpty) return
    val consumedCutoff = committedSourcePaths(fs, cfg.checkpoint("serve")) match {
      case Some(committed) =>
        // first version with any file the serve stream has not committed;
        // everything below it is fully consumed and safe to reclaim
        versions.find { case (_, p) => !fullyCommitted(fs, p, committed) }
          .map(_._1).getOrElse(versions.last._1 + 1)
      case None => Long.MaxValue // no consumer yet: the floor governs
    }
    val retentionFloor = versions.last._1 - keepVersions
    val cutoff = math.min(consumedCutoff,
      math.min(retentionFloor, versions.last._1))
    val doomed = versions.filter(_._1 < cutoff)
    doomed.foreach { case (_, p) => fs.delete(p, true) }
    if (doomed.nonEmpty) spark.catalog.refreshByPath(cfg.goldChangesPath)
  }

  /** Data-file paths (scheme-stripped) a file-source stream has
    * COMMITTED: entries of checkpoint `ckptDir`'s file-source metadata
    * log (`sources/0`) whose batch id is at or below the last entry in
    * `commits/`. Entries from a planned but uncommitted batch are
    * excluded — a restart re-reads those files, so they must survive any
    * reclaim keyed to this set. None when the checkpoint does not exist.
    *
    * Each log line is a JSON object (Spark's `FileEntry`); lines are
    * parsed as JSON — not regex-matched — so field order and escaped
    * characters in paths cannot corrupt the extraction. A non-empty log
    * that yields zero entries is loudly flagged: for vacuum callers that
    * failure direction is safe (nothing reclaimed) but unbounded growth
    * with no signal is not acceptable.
    */
  private[graft] def committedSourcePaths(fs: org.apache.hadoop.fs.FileSystem,
                                          ckptDir: String): Option[Set[String]] = {
    val srcLog = new Path(ckptDir + "/sources/0")
    if (!fs.exists(srcLog)) return None
    val lastCommitted = lastCommittedBatch(fs, ckptDir)
    if (lastCommitted < 0) return Some(Set.empty)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var sawEntryLine = false
    val paths = fs.listStatus(srcLog).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .flatMap { s =>
        // Tolerate an entry file vanishing between the list and the open:
        // Spark's CompactibleFileStreamLog deletes plain entry files once
        // a later N.compact (also in this listing) holds their entries,
        // and a LIVE consumer runs that cleanup concurrently with this
        // read (the ×100 replay soak hit exactly this at serve batch 82).
        // Skipping is complete (the compact covers the entries) and its
        // failure direction is safe regardless: a smaller committed set
        // only makes reclaim/deferral callers retain MORE.
        val lines =
          try {
            val in = fs.open(s.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          } catch { case _: java.io.FileNotFoundException => Nil }
        lines.filter(_.startsWith("{")).flatMap { line =>
          sawEntryLine = true
          val node =
            try mapper.readTree(line)
            catch { case _: com.fasterxml.jackson.core.JacksonException => null }
          if (node == null || !node.hasNonNull("path") ||
              !node.hasNonNull("batchId")) None
          else if (node.get("batchId").asLong() <= lastCommitted)
            Some(new Path(node.get("path").asText()).toUri.getPath)
          else None
        }
      }
    if (sawEntryLine && paths.isEmpty)
      println(s"[graft] WARNING: file-source log $srcLog is non-empty but " +
        "yielded zero committed paths — log format drift? (reclaim is a no-op)")
    Some(paths.toSet)
  }

  /** Highest batch id in checkpoint `ckptDir`'s `commits/` log, -1 when
    * it has none (entries whose name is not a number are skipped).
    */
  private def lastCommittedBatch(fs: org.apache.hadoop.fs.FileSystem,
                                 ckptDir: String): Long = {
    val commitsDir = new Path(ckptDir + "/commits")
    if (!fs.exists(commitsDir)) -1L
    else fs.listStatus(commitsDir).toSeq
      .flatMap(_.getPath.getName.toLongOption).foldLeft(-1L)(math.max)
  }

  /** The `<prefix><n>` subdirectories of `dir` (`v=3`,
    * `_serve_batch=12`, …) as (n, path), ascending by n. Entries whose
    * suffix is not a number are skipped; empty when `dir` does not exist.
    */
  private def numberedDirs(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                           prefix: String): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(s => s.getPath.getName.stripPrefix(prefix).toLongOption
        .map(_ -> s.getPath))
      .sortBy(_._1)

  /** The data files under `dir` at any depth: every file whose name
    * starts with neither `.` nor `_` (Hadoop's hidden-file convention,
    * which skips `_SUCCESS` markers and `.crc` siblings); empty when
    * `dir` does not exist. Walks with `listStatus`, as [[fullyCommitted]]
    * does: the `LocatedFileStatus` entries of a recursive `listFiles`
    * load each file's permissions, which the local filesystem does by
    * forking `ls -ld` when the native libhadoop is absent.
    */
  private[graft] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                               dir: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    def walk(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.flatMap { s =>
        val name = s.getPath.getName
        if (s.isDirectory) walk(s.getPath)
        else if (name.startsWith(".") || name.startsWith("_")) Nil
        else Seq(s)
      }
    if (fs.exists(dir)) walk(dir) else Nil
  }

  /** Every data file under the version directory is in the committed set
    * (hidden/metadata files excluded). Walks with `listStatus`: the
    * `LocatedFileStatus` entries of `listFiles` load each file's
    * permissions, which the local filesystem does by forking `ls -ld`,
    * and that call failed outright on a fold's staging file that vanished
    * mid-walk. A directory that vanishes under the walk (an in-flight
    * write's staging dir) counts as not committed, so reclaim keeps more.
    */
  private[graft] def fullyCommitted(fs: org.apache.hadoop.fs.FileSystem,
                                    versionDir: Path,
                                    committed: Set[String]): Boolean = {
    val entries =
      try fs.listStatus(versionDir)
      catch { case _: java.io.FileNotFoundException => return false }
    entries.forall { s =>
      val name = s.getPath.getName
      if (s.isDirectory) fullyCommitted(fs, s.getPath, committed)
      else name.startsWith(".") || name.startsWith("_") ||
        committed.contains(s.getPath.toUri.getPath)
    }
  }

  /** Stage-2 source: the silver table's insert feed (insert-only ⇒ new
    * files ARE the change feed — the Delta-CDF-insert analog).
    *
    * This source, [[goldChangeStream]] and [[serveLog]] read directories
    * that are compacted or vacuumed out-of-band, so a file can vanish
    * between a reader's listing and its read; Hadoop then throws
    * FileNotFoundException and kills the stream, although the reclaim
    * contract ([[compactSilver]], [[vacuumGoldChanges]],
    * [[compactServe]]) only deletes files whose rows every consumer has
    * already committed (or that live on in a compact-* rewrite). With no
    * transaction log to serialize readers against deletes (Delta's
    * answer), the plain-parquet semantics is to SKIP a vanished file,
    * which under that committed-cutoff invariant never hides unread
    * data. Each of the three sets Spark's per-read `ignoreMissingFiles`
    * option; the session conf is left alone, so every other reader —
    * the silver MERGE probe above all, where a skipped file could
    * re-admit a duplicate id — still fails loudly on a missing file.
    */
  def silverInsertStream(spark: SparkSession, cfg: Config): DataFrame = {
    val silverDir = new Path(cfg.silverPath)
    val fs = silverDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(silverDir) // allow starting before stage 1's first commit
    spark.readStream
      // the hb partition column is DECLARED (not inferred): a stream
      // started on the pre-first-commit empty dir would otherwise plan a
      // 6-column schema and fail schema assertion once hb= dirs appear
      .schema(org.apache.spark.sql.types.StructType(
        Schemas.silverSchema.fields :+
          org.apache.spark.sql.types.StructField("hb",
            org.apache.spark.sql.types.LongType)))
      .option("maxFilesPerTrigger", 50)
      .option("ignoreMissingFiles", "true")
      // the compaction contract: gold folds ONLY part-* files, so
      // [[compactSilver]]'s compact-* rewrites of already-committed
      // files are invisible to this source (no double-fold, no re-read)
      .option("pathGlobFilter", "part-*")
      .parquet(cfg.silverPath)
  }

  /** Stage 2: silver insert feed → per-batch partial agg → fold into the
    * gold snapshot.
    */
  def startGold(spark: SparkSession, cfg: Config): StreamingQuery = {
    val fs = new Path(cfg.silverPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Pre-create the checkpoint dir BEFORE the stream's async start: it is
    // [[compactSilver]]'s witness that a gold consumer exists, and the
    // stream's own lazy creation would leave a window where a concurrent
    // compaction still writes part-* names gold would fold. After this
    // mkdirs every compaction that starts later keeps to the files gold
    // committed; only a compaction already in flight at call time can race.
    fs.mkdirs(new Path(cfg.checkpoint("gold")))
    silverInsertStream(spark, cfg).writeStream
      .queryName("graft_gold")
      .option("checkpointLocation", cfg.checkpoint("gold"))
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldToGold(spark, batch, batchId, cfg)
      }
      .start()
  }

  /** Gold bucket of a group key: deterministic hash-mod over
    * [[Config.goldBuckets]] — the partition column of the gold snapshot
    * (the plain-Spark analog of the reference clustering gold by
    * `group_id`, bootstrap.py:50-56).
    */
  private[streaming] def goldBucket(cfg: Config): org.apache.spark.sql.Column =
    pmod(crc32(col("group_id")), lit(cfg.goldBuckets)).cast("int")

  /** A2/J2 with the faithful batch-overwrite first/last semantics, plus
    * `updated_at` (excluded from any oracle compare).
    *
    * Scale shape: gold is PARTITIONED by `gb = crc32(group_id) %
    * goldBuckets`, and a micro-batch rewrites ONLY the buckets its groups
    * land in — per-batch cost is O(|touched buckets|), not O(|gold|), so
    * the fold stays flat as gold grows (VERDICT r2 item 3). The target
    * read is pruned to the touched buckets (partition pruning on `gb`),
    * folded output is staged to a tmp dir partitioned the same way, and
    * each bucket directory is swapped in with a rename.
    *
    * Exactly-once: a GLOBAL batch-id marker short-circuits fully applied
    * replays, and a PER-BUCKET marker — written immediately after that
    * bucket's rename — makes partially-applied replays idempotent: a
    * crash mid-swap re-folds only the buckets whose marker still lags.
    *
    * Change feed (the CDF analog, reference gold.py:55-57 /
    * tomongo.py:21-35): each fold also appends the touched rows to
    * `gold_changes` as `insert` / `update_preimage` / `update_postimage`
    * rows (the fold never deletes), partitioned by (_commit_version, gb)
    * so a replayed bucket overwrites its own change files
    * deterministically. Stage 3 ([[startServe]]) streams this directory.
    */
  def foldToGold(spark: SparkSession, batch: DataFrame, batchId: Long,
                 cfg: Config): Unit = {
    val fs = new Path(cfg.goldPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (GoldState.lastBatchId(fs, cfg) >= batchId) return // replayed batch
    // persisted: two actions consume this frame (the touched-bucket
    // collect and the fold), and without the persist each would re-read
    // the batch files and re-run the partial agg shuffle (tiny frame —
    // one row per group)
    val partials = Aggregate
      .partial(batch, "group_id", "score", "event_timestamp")
      .withColumn("gb", goldBucket(cfg))
      .persist()
    try {
      val touched = partials.select("gb").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      foldBuckets(spark, fs, cfg, partials, touched, batchId)
      GoldState.writeBatchId(fs, cfg, batchId)
    } finally partials.unpersist(false)
  }

  /** The fold itself — ONE full-outer join computes the new snapshot
    * rows AND both change-feed images (r16 measured the previous shape —
    * re-reading the staged fold and classifying changes through three
    * more joins — as a per-batch fixed cost that multiplied at high
    * group cardinality).
    *
    * `partials` holds ONE partial row per group (group_id, batch_score,
    * batch_events, batch_first, batch_last, gb): one batch's partial
    * aggregate.
    */
  private def foldBuckets(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem, cfg: Config,
                          partials: DataFrame, buckets: Seq[Int],
                          version: Long): Unit = {
    val goldDir = new Path(cfg.goldPath)
    // bucket-granular replay guard: a crash mid-swap re-folds only the
    // buckets whose marker still lags
    val remaining = buckets
      .filter(b => GoldState.bucketBatchId(fs, cfg, b) < version).sorted
    if (remaining.isEmpty) return
    val merged = partials.filter(col("gb").isin(remaining: _*))
    val existing: DataFrame =
      if (!fs.exists(goldDir))
        spark.range(0).select(
          lit("").as("group_id"), lit(0.0).as("cumulative_score"),
          lit(0L).as("event_count"), lit(0.0).as("avg_score"),
          lit(0L).as("first_event_timestamp"),
          lit(0L).as("last_event_timestamp"), lit(0L).as("updated_at"))
      else spark.read.parquet(cfg.goldPath)
        .filter(col("gb").isin(remaining: _*)) // partition pruning
        .drop("gb")
    // the MERGE arithmetic of Aggregate.fold, widened with the old row
    // (preimages) and the touched/had-prior flags (change classification)
    val joined = existing.alias("t").join(merged.alias("s"),
      Seq("group_id"), "full_outer")
    val newScore = coalesce(col("t.cumulative_score"), lit(0)) +
      coalesce(col("s.batch_score"), lit(0))
    val newCount = coalesce(col("t.event_count"), lit(0L)) +
      coalesce(col("s.batch_events"), lit(0L))
    val wide = joined.select(
      col("group_id"),
      col("t.cumulative_score").as("old_score"),
      col("t.event_count").as("old_count"),
      col("t.avg_score").as("old_avg"),
      col("t.first_event_timestamp").as("old_first"),
      col("t.last_event_timestamp").as("old_last"),
      col("t.updated_at").as("old_updated"),
      newScore.cast("double").as("cumulative_score"),
      newCount.as("event_count"),
      (newScore.cast("double") / newCount).as("avg_score"),
      coalesce(col("s.batch_first"), col("t.first_event_timestamp"))
        .as("first_event_timestamp"),
      coalesce(col("s.batch_last"), col("t.last_event_timestamp"))
        .as("last_event_timestamp"),
      // stamped on matched and inserted rows only, as the reference
      // MERGE does; an untouched group in a rewritten bucket keeps its own
      when(col("s.batch_events").isNotNull, batchClockSeconds() * 1000L)
        .otherwise(col("t.updated_at")).as("updated_at"),
      col("s.batch_events").isNotNull.as("__touched"),
      col("t.event_count").isNotNull.as("__had_prior"))
      .withColumn("gb", goldBucket(cfg))
      .persist()
    try {
      // 1. stage the folded buckets (one file per bucket — materializes
      //    the read of the OLD gold through the persist)
      val tmp = new Path(cfg.goldPath + s"_tmp_$version")
      wide.select(col("group_id"), col("cumulative_score"),
          col("event_count"), col("avg_score"),
          col("first_event_timestamp"), col("last_event_timestamp"),
          col("updated_at"), col("gb"))
        .repartition(col("gb"))
        .write.mode("overwrite").partitionBy("gb").parquet(tmp.toString)
      // 2. emit the change feed while the old gold is still readable:
      //    both images come off the SAME cached wide rows — no re-read,
      //    no classification joins. One file per (version, bucket) leaf.
      val oldRow = struct(
        col("group_id"),
        col("old_score").cast("double").as("cumulative_score"),
        col("old_count").cast("long").as("event_count"),
        col("old_avg").cast("double").as("avg_score"),
        col("old_first").as("first_event_timestamp"),
        col("old_last").as("last_event_timestamp"),
        col("old_updated").as("updated_at"),
        lit("update_preimage").as("_change_type"))
      val newRow = struct(
        col("group_id"),
        col("cumulative_score"),
        col("event_count").cast("long").as("event_count"),
        col("avg_score"),
        col("first_event_timestamp"), col("last_event_timestamp"),
        col("updated_at"),
        when(col("__had_prior"), lit("update_postimage"))
          .otherwise(lit("insert")).as("_change_type"))
      //    The version names the directory rather than riding as a
      //    column, so this plan's generated code is the same every batch;
      //    dynamic overwrite replaces only the buckets a replay re-folds.
      wide.filter(col("__touched"))
        .select(col("gb"), explode(array(
          when(col("__had_prior"), oldRow), newRow)).as("c"))
        .filter(col("c").isNotNull)
        .select(col("c.*"), col("gb"))
        .repartition(col("gb"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("gb")
        .parquet(s"${cfg.goldChangesPath}/_commit_version=$version")
      // 3. swap each touched bucket in; mark it immediately so a crash
      //    mid-loop replays only the unswapped tail
      fs.mkdirs(goldDir)
      remaining.foreach { b =>
        val src = new Path(tmp, s"gb=$b")
        val dst = new Path(goldDir, s"gb=$b")
        if (fs.exists(dst)) fs.delete(dst, true)
        if (fs.exists(src)) fs.rename(src, dst)
        GoldState.writeBucketBatchId(fs, cfg, b, version)
      }
      fs.delete(tmp, true)
    } finally wide.unpersist(false)
  }

  /** Stage 3 (batch form): gold snapshot → serving shape (`_id` = group
    * key), the Mongo-sink analog (S7/P9).
    */
  def serveProjection(spark: SparkSession, cfg: Config): DataFrame =
    spark.read.parquet(cfg.goldPath)
      .drop("gb")
      .withColumn("_id", col("group_id"))

  /** Schema of a gold-change row, including the (_commit_version, gb)
    * partition columns the change directory is laid out by.
    */
  val goldChangeSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("group_id", StringType),
      StructField("cumulative_score", DoubleType),
      StructField("event_count", LongType),
      StructField("avg_score", DoubleType),
      StructField("first_event_timestamp", LongType),
      StructField("last_event_timestamp", LongType),
      StructField("updated_at", LongType),
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType),
      StructField("gb", IntegerType)))
  }

  /** Stage 3 (streaming form): gold CHANGES → serving sink — the
    * reference's third concurrent StreamingQuery (tomongo.py:21-35): read
    * the table's change feed, drop `update_preimage` rows, key by `_id`,
    * and upsert into the serving store. Here the change feed is the
    * `gold_changes` directory [[foldToGold]] emits, and the serving store
    * is a keyed log under `servePath` partitioned by the serve stream's
    * own batch id — exactly-once because a replayed (uncommitted) batch
    * dynamically overwrites exactly its own `_serve_batch` partition.
    * [[serveSnapshot]] is the replace-by-id view a Mongo collection
    * would hold, and [[compactServe]] is the bound on its cost: it folds
    * committed batch partitions into a versioned snapshot and vacuums
    * them, so the log's live tail — not the table's full history — is
    * what every snapshot read scans (the Mongo `replace_one(upsert)`
    * being O(1) per key is the behavior this mirrors).
    */
  def startServe(spark: SparkSession, cfg: Config): StreamingQuery = {
    goldChangeStream(spark, cfg)
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .withColumn("_id", col("group_id"))
      .drop("gb", "_change_type")
      .writeStream
      .queryName("graft_serve")
      .option("checkpointLocation", cfg.checkpoint("serve"))
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch id names the partition directory (no literal column:
        // the plan compiles once); overwrite replaces a replay's own dir
        batch.write.mode("overwrite")
          .parquet(s"${cfg.servePath}/_serve_batch=$batchId")
      }
      .start()
  }

  /** Stage-3 source: the gold change feed as a streaming DataFrame
    * (`_change_type` / `_commit_version` carried — the CDF-read analog).
    */
  def goldChangeStream(spark: SparkSession, cfg: Config): DataFrame = {
    val changesDir = new Path(cfg.goldChangesPath)
    val fs = changesDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(changesDir) // file stream needs the dir to exist up front
    spark.readStream
      .schema(goldChangeSchema)
      .option("maxFilesPerTrigger", 100)
      .option("ignoreMissingFiles", "true") // see [[silverInsertStream]]
      .option("basePath", cfg.goldChangesPath)
      .parquet(cfg.goldChangesPath)
  }

  private[streaming] def serveSnapshotBase(cfg: Config): String =
    s"${cfg.baseDir}/serve_snapshot"

  /** Newest compacted snapshot version under `serve_snapshot/v=<n>`. */
  private def currentServeSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                                   cfg: Config): Option[(Long, Path)] =
    numberedDirs(fs, new Path(serveSnapshotBase(cfg)), "v=").lastOption

  /** Live `_serve_batch=<id>` partitions of the serve log. */
  private def serveBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
                             cfg: Config): Seq[(Long, Path)] =
    numberedDirs(fs, new Path(cfg.servePath), "_serve_batch=")

  /** Every serve row currently visible: the compacted snapshot (≤ one
    * row per `_id`) unioned with the log's uncompacted tail. The scan
    * [[serveSnapshot]] and the freshness probe pay is O(snapshot + tail),
    * and [[compactServe]] keeps the tail short — NOT O(full history).
    *
    * The tail excludes the partitions the resolved snapshot already
    * folded (its `_folded_tails` marker): their rows are in the snapshot,
    * and they are exactly what the next [[compactServe]] deletes, so a
    * reader never names a directory that can vanish before its scan is
    * planned (a listed-then-deleted path fails the read with
    * PATH_NOT_FOUND; `ignoreMissingFiles` only covers files).
    */
  def serveLog(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = new Path(cfg.servePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = currentServeSnapshot(fs, cfg).map(_._2)
    val folded = snap.map(foldedTails(fs, _)).getOrElse(Set.empty)
    val tail = serveBatchDirs(fs, cfg).map(_._2)
      .filterNot(p => folded.contains(p.getName))
    val parts = (snap.toSeq ++ tail).map(_.toString)
    require(parts.nonEmpty, s"serve log ${cfg.servePath} has no data yet")
    // a scan outliving two compactions skips the files reclaimed under
    // it instead of failing (see [[silverInsertStream]])
    spark.read.schema(serveRowSchema).option("ignoreMissingFiles", "true")
      .parquet(parts: _*)
  }

  /** Names of the `_serve_batch=<id>` partitions a snapshot version
    * folded, from its `_folded_tails` marker (empty when it has none).
    */
  private def foldedTails(fs: org.apache.hadoop.fs.FileSystem,
                          version: Path): Set[String] = {
    val marker = new Path(version, "_folded_tails")
    val text =
      try {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => "" }
    text.split("\n").filter(_.nonEmpty).toSet
  }

  /** Data columns of a serve row (batch/version partition cols excluded
    * — both the log tail and the snapshot hold exactly this shape).
    */
  private val serveRowSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("group_id", StringType),
      StructField("cumulative_score", DoubleType),
      StructField("event_count", LongType),
      StructField("avg_score", DoubleType),
      StructField("first_event_timestamp", LongType),
      StructField("last_event_timestamp", LongType),
      StructField("updated_at", LongType),
      StructField("_commit_version", LongType),
      StructField("_id", StringType)))
  }

  /** The serving table a keyed store (Mongo `replace_one(upsert)`) would
    * materialize from the serve stream: latest row per `_id` by commit
    * version — single max_by aggregation over snapshot + live tail.
    */
  def serveSnapshot(spark: SparkSession, cfg: Config): DataFrame =
    graft.ops.Dedup.latestPerKeyAgg(
      serveLog(spark, cfg), Seq("_id"),
      struct(col("_commit_version")), latest = true)

  /** Bounds the serve log (VERDICT r4 "What's missing" #2): folds every
    * batch partition the serve stream has COMMITTED into a new snapshot
    * version holding the latest row per `_id`, then reclaims history one
    * generation BEHIND: the prior snapshot version and this run's folded
    * tails are retained until the next compaction (so a reader that
    * resolved the old layout just before the new version appeared always
    * finishes), while older versions and the prior run's folded tails
    * (its `_folded_tails` marker) are deleted. Only committed batches
    * fold — an in-flight or replayable batch keeps its partition, because
    * a replay would dynamically overwrite it mid-fold. Crash-safe by
    * write ordering: the new `v=<n+1>` snapshot is complete before
    * anything is deleted, readers take the NEWEST version, and a crash at
    * any point only leaves rows duplicated between snapshot, retained
    * tail, and retained prior version — which the latest-per-key read
    * collapses and later compactions reclaim. A version is staged under a
    * hidden name and renamed into place with its marker already inside,
    * so every reader that resolves it also sees which tails to skip
    * ([[serveLog]]). Each compaction is
    * O(snapshot + tail); scheduling it every N batches keeps
    * [[serveSnapshot]]'s scan flat as history grows (soak evidence:
    * StreamBench full mode).
    */
  def compactServe(spark: SparkSession, cfg: Config): Unit = {
    val fs = new Path(cfg.servePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastCommitted = lastCommittedBatch(fs, cfg.checkpoint("serve"))
    val foldable = serveBatchDirs(fs, cfg).filter(_._1 <= lastCommitted)
    if (foldable.isEmpty) return
    val prior = currentServeSnapshot(fs, cfg)
    val newV = prior.map(_._1 + 1).getOrElse(0L)
    val inputs = prior.map(_._2.toString).toSeq ++ foldable.map(_._2.toString)
    val folded = graft.ops.Dedup.latestPerKeyAgg(
      spark.read.schema(serveRowSchema).parquet(inputs: _*), Seq("_id"),
      struct(col("_commit_version")), latest = true)
    val staged = new Path(s"${serveSnapshotBase(cfg)}/_staged_v=$newV")
    folded.select(serveRowSchema.fieldNames.map(col): _*)
      .coalesce(math.max(1, foldable.size / 8))
      .write.mode("overwrite")
      .parquet(staged.toString)
    // record which tail partitions this version folded (underscore name —
    // invisible to parquet readers of the version dir), then publish
    val markerOut = fs.create(new Path(staged, "_folded_tails"), true)
    try markerOut.write(
      foldable.map(_._2.getName).mkString("\n").getBytes("UTF-8"))
    finally markerOut.close()
    fs.rename(staged, new Path(s"${serveSnapshotBase(cfg)}/v=$newV"))
    // Reclaim with a ONE-GENERATION retention window: a reader that
    // resolved the prior snapshot + tail layout just before v=newV
    // appeared must be able to finish its scan, so the prior version and
    // THIS run's folded tails survive until the NEXT compaction (by which
    // time any such reader is long done; ignoreMissingFiles covers the
    // residual window). Re-folding a retained tail next run is idempotent
    // under latest-per-_id. Deleted now: versions OLDER than prior
    // (unreachable — every reader resolved prior or newV) and the tails
    // the PRIOR compaction folded (recorded in its marker).
    numberedDirs(fs, new Path(serveSnapshotBase(cfg)), "v=")
      .filter { case (v, _) => prior.exists(v < _._1) }
      .foreach { case (_, p) => fs.delete(p, true) }
    prior.foreach { case (_, priorPath) =>
      foldedTails(fs, priorPath)
        .foreach(n => fs.delete(new Path(cfg.servePath, n), true))
    }
    spark.catalog.refreshByPath(cfg.servePath)
    spark.catalog.refreshByPath(serveSnapshotBase(cfg))
  }

  /** The reference's orchestration (main.py:12-20): all three stages as
    * concurrent StreamingQueries.
    */
  def startAll(spark: SparkSession, raw: DataFrame,
               cfg: Config): Seq[StreamingQuery] =
    Seq(startSilver(spark, raw, cfg), startGold(spark, cfg),
      startServe(spark, cfg))

  /** Tiny markers for gold-fold replay protection: one global batch id
    * (fast path: whole batch already applied) plus one per gold bucket
    * (bucket-granular idempotence for crashes mid-swap).
    */
  private object GoldState {
    def markerPath(cfg: Config) = new Path(cfg.baseDir + "/gold_batch_id")
    def bucketMarkerPath(cfg: Config, b: Int) =
      new Path(cfg.baseDir + s"/gold_meta/gb_$b")

    private def readLong(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long =
      if (!fs.exists(p)) -1L
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in).mkString.trim.toLong
        finally in.close()
      }

    private def writeLong(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                          v: Long): Unit = {
      val out = fs.create(p, true)
      try out.write(v.toString.getBytes("UTF-8"))
      finally out.close()
    }

    def lastBatchId(fs: org.apache.hadoop.fs.FileSystem, cfg: Config): Long =
      readLong(fs, markerPath(cfg))
    def writeBatchId(fs: org.apache.hadoop.fs.FileSystem, cfg: Config,
                     id: Long): Unit =
      writeLong(fs, markerPath(cfg), id)
    def bucketBatchId(fs: org.apache.hadoop.fs.FileSystem, cfg: Config,
                      b: Int): Long =
      readLong(fs, bucketMarkerPath(cfg, b))
    def writeBucketBatchId(fs: org.apache.hadoop.fs.FileSystem, cfg: Config,
                           b: Int, id: Long): Unit =
      writeLong(fs, bucketMarkerPath(cfg, b), id)
  }
}
