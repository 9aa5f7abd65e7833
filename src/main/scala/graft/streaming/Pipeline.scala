package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

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

  /** @param goldFoldEvery fold cadence in micro-batches. 1 (default)
    *   folds every batch — the reference's per-batch MERGE shape. >1
    *   COALESCES: each batch appends its per-group partials to a pending
    *   delta log (one shuffle + one small append, O(increment) whatever
    *   the active-group count) and a bucket folds into the snapshot only
    *   when it holds that many pending batches — the LSM-memtable trade
    *   the ×10 replay soak motivated (r16: per-batch fold cost was
    *   ACTIVE-GROUP-proportional; at ~10k active groups/batch every
    *   bucket rewrote every batch). Serve freshness then lags ≤
    *   goldFoldEvery batches; [[flushGold]] folds the remainder on
    *   drain/maintenance.
    * @param silverHbSize minute-buckets per silver partition directory.
    *   The MERGE key stays (minute_timestamp, id); this only sets the
    *   DIRECTORY granularity. 20 × 180 s = 1 h — at 3-minute dirs a
    *   time-ordered replay wrote ~1,440 partition dirs per 10k-event
    *   batch (the r16 ×10-replay small-file storm: listings, per-dir
    *   writes, and downstream file-count-driven triggers all scaled
    *   with it); hourly dirs keep partition pruning while bounding
    *   dirs at 8,760/year.
    */
  final case class Config(
      baseDir: String,
      watermarkDelay: String = "30 seconds",
      triggerMs: Long = 0L,
      goldBuckets: Int = 64,
      compactEvery: Long = 0L,
      goldFoldEvery: Int = 1,
      silverHbSize: Int = 20) {
    def silverPath: String = s"$baseDir/silver"
    def goldPath: String = s"$baseDir/gold"
    def goldChangesPath: String = s"$baseDir/gold_changes"
    def goldPendingPath: String = s"$baseDir/gold_pending"
    def servePath: String = s"$baseDir/serve"
    def checkpoint(name: String): String = s"$baseDir/checkpoints/$name"
  }

  /** Session configs for the chain: the reference's state-store tuning
    * plus a codegen cache sized for three concurrent micro-batch plans.
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
    */
  def rocksDbConfigs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

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

  /** Stage 1: raw → watermark dedup → insert-only MERGE into silver.
    * The sink primitives dispatch through `format`
    * ([[graft.storage.TableFormat]]) — parquet by default, a Delta
    * implementation drop-in if its jar ever ships.
    */
  def startSilver(spark: SparkSession, raw: DataFrame, cfg: Config,
                  format: graft.storage.TableFormat =
                    graft.storage.TableFormat.parquet): StreamingQuery = {
    val deduped = withDerived(raw)
      .withWatermark("timestamp", cfg.watermarkDelay)
      .dropDuplicatesWithinWatermark("id")
      .drop("timestamp")
    deduped.writeStream
      .queryName("graft_silver")
      .option("checkpointLocation", cfg.checkpoint("silver"))
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batchUnique: dropDuplicatesWithinWatermark upstream guarantees
        // one row per id within the batch
        format.mergeInsertOnly(spark,
          batch.withColumn("ingest_timestamp", batchClockSeconds()), cfg,
          batchUnique = true)
        // scheduled compaction (the OPTIMIZE-on-a-cadence analog,
        // reference utils.py:111-124): run synchronously with the merge
        // so the rewrite cannot race a concurrent append. Without a
        // transaction log, "out-of-band" can only mean between batches.
        // [[compactSilverAuto]] picks the gold-safe manifest variant when
        // a gold stream has ever consumed this directory.
        if (cfg.compactEvery > 0 && batchId > 0 && batchId % cfg.compactEvery == 0)
          format.optimize(spark, cfg)
      }
      .start()
  }

  /** Silver partition-directory value of a minute bucket: `hb` = hour
    * bucket (with the default [[Config.silverHbSize]] = 20 × 180 s).
    * A DATA column in every silver frame but a DIRECTORY name on disk —
    * `minute_timestamp` stays a normal parquet column, and batch/stream
    * readers get `hb` appended from the dir names.
    */
  private[streaming] def silverHb(cfg: Config): org.apache.spark.sql.Column =
    floor(col("minute_timestamp") / lit(cfg.silverHbSize)).cast("long")

  /** J1: anti-join the batch against the already-written hour buckets
    * only, then append. Idempotent per (minute_timestamp, id).
    *
    * The target prune is DIRECT-PATH, not a filter: the batch's touched
    * `hb` values name their partition directories outright, so the
    * target read lists only those dirs — no whole-table partition
    * discovery per micro-batch (at the r16 ×10-replay shape discovery
    * re-listed every silver dir each batch, a cost that grew with
    * table age, not batch size).
    */
  def mergeToSilver(spark: SparkSession, batch: DataFrame, cfg: Config,
                    batchUnique: Boolean = false): Unit = {
    val out = new Path(cfg.silverPath)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // within-batch uniqueness: hash-dedup suffices (and costs no sort);
    // the streaming path passes batchUnique=true because its upstream
    // dropDuplicatesWithinWatermark already guarantees one row per id —
    // re-shuffling every micro-batch for a no-op dedup was measurable
    // pacing overhead. For a deterministic tie-break on conflicting
    // payloads use Dedup.latestPerKey at the call site instead.
    val batchDedup0 =
      if (batchUnique) batch
      else batch.dropDuplicates("minute_timestamp", "id")
    // two actions follow (bucket collect + the merge write); without a
    // persist each would re-execute the full batch plan — in the
    // streaming path that plan includes the RocksDB state-store read
    val batchDedup = batchDedup0.withColumn("hb", silverHb(cfg)).persist()
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

  /** Dispatch between the two OPTIMIZE analogs: the whole-directory swap
    * ([[compactSilver]] — silver-terminal deployments, no reader to
    * confuse) and the gold-safe manifest variant ([[compactSilverLive]] —
    * some gold stream has consumed this directory as a file source, so
    * only files it has committed may be rewritten, into names its glob
    * filter ignores). The gold CHECKPOINT's existence is the switch: it
    * outlives the query object, so "a gold stream ever consumed silver"
    * is exactly what it witnesses.
    *
    * The switch is EVENTUALLY safe, not instantaneously: a gold stream
    * whose very first start races this check can observe the
    * whole-directory swap mid-listing (checkpoint dir not yet created →
    * [[compactSilver]] chosen). Deployments that will add a gold
    * consumer later should pre-create the gold checkpoint directory (or
    * call [[compactSilverLive]] explicitly) before the first
    * [[startGold]]; once the checkpoint exists — i.e. for the entire
    * life of a running chain — the dispatch is stable and safe.
    */
  def compactSilverAuto(spark: SparkSession, cfg: Config): Unit = {
    val ckpt = new Path(cfg.checkpoint("gold"))
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(ckpt)) compactSilverLive(spark, cfg)
    else compactSilver(spark, cfg)
  }

  /** Compaction (the OPTIMIZE analog, reference utils.py:111-124): each
    * silver bucket's accumulated micro-batch files rewritten as one, via
    * an atomic directory swap. The 1M-event soak shows why: the MERGE's
    * target re-scan decays as small files accumulate. Run out-of-band
    * (between or alongside batches — the swap is a rename).
    *
    * NOT safe while [[startGold]] is streaming the silver directory: the
    * gold stage treats new silver files as the change feed (insert-only
    * contract), and rewriting a NOT-yet-consumed file into a compact-*
    * name would hide its rows from gold forever, while the whole-dir swap
    * also yanks files mid-listing. Delta's OPTIMIZE solves this with
    * dataChange=false commits; the plain-parquet analog is
    * [[compactSilverLive]]: gold reads only `part-*` files (its source is
    * glob-filtered, [[startGold]]), so a rewrite of files gold has
    * ALREADY COMMITTED into a `compact-*` file is invisible to it — the
    * rows stay exactly-once in gold and batch readers see the compacted
    * layout. Use [[compactSilverAuto]] to pick the right variant.
    */
  def compactSilver(spark: SparkSession, cfg: Config,
                    rowFilter: Option[DataFrame => DataFrame] = None)
      : Unit = {
    val dir = new Path(cfg.silverPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    val tmp = new Path(cfg.silverPath + "_compacting")
    val base = spark.read.schema(Schemas.silverSchema)
      .parquet(cfg.silverPath) // partition col hb appended from dir names
    rowFilter.map(_(base)).getOrElse(base)
      .repartition(col("hb"))
      .write.mode("overwrite").partitionBy("hb")
      .parquet(tmp.toString)
    fs.delete(dir, true)
    fs.rename(tmp, dir)
  }

  /** The OPTIMIZE analog that is legal WHILE a gold stream is consuming
    * the silver directory (VERDICT r4 "What's missing" #1; the reference
    * OPTIMIZEs live because Delta commits rewrites with
    * dataChange=false, utils.py:111-124). The plain-parquet analog rests
    * on two invariants:
    *
    *   1. [[startGold]]'s file source reads ONLY `part-*` files
    *      (`pathGlobFilter`), so a file named `compact-*` is invisible to
    *      the stream — it can appear, change, or vanish without the
    *      source ever planning it into a batch.
    *   2. Only files the gold checkpoint has COMMITTED
    *      ([[committedSourcePaths]]) are rewritten. A committed file is
    *      never re-read (the source's seen-files log outlives restarts;
    *      only planned-but-uncommitted batches replay), so deleting it
    *      after its rows land in a compact-* file loses nothing and
    *      double-folds nothing. Not-yet-consumed part-* files are left
    *      untouched — gold still owes them a fold.
    *
    * Prior `compact-*` outputs are always eligible for re-compaction
    * (gold never reads them), so repeated runs converge each bucket to
    * one file instead of accumulating one compact file per run.
    *
    * Crash safety without a transaction log: the rewritten buckets are
    * staged to a `_compact_tmp` dir, then a MANIFEST (a sibling file,
    * never visible to any reader of the data dir) records every
    * rename-in and delete before any is performed. A crash at any point
    * replays the manifest on the next run ([[replayCompactionManifest]]):
    * renames are idempotent (skip when src is gone / dst exists), deletes
    * are idempotent, and the tmp dir is only removed after the manifest
    * is. Readers racing the rename→delete window can transiently see a
    * row twice — the same read-uncommitted window the whole-dir swap has;
    * streaming gold is immune via invariants 1–2.
    */
  def compactSilverLive(spark: SparkSession, cfg: Config,
                        rowFilter: Option[DataFrame => DataFrame] = None)
      : Unit = {
    val dir = new Path(cfg.silverPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    replayCompactionManifest(fs, cfg) // finish any crashed prior run
    val committed: Set[String] =
      committedSourcePaths(fs, cfg.checkpoint("gold")) match {
        case Some(c) => c
        case None    => return // no gold source log yet — nothing is safe
      }
    // per bucket: committed part-* files plus any prior compact-* files;
    // a bucket qualifies when merging actually shrinks its file count —
    // or, under a rowFilter (the user-deletion scrub), whenever it has
    // ANY eligible file: a single file still needs its rows rewritten
    val buckets = fs.listStatus(dir).toSeq.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("hb="))
    val doomed: Seq[Path] = buckets.flatMap { b =>
      val files = fs.listStatus(b.getPath).toSeq.filter(_.isFile)
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          (n.startsWith("part-") && committed.contains(p.toUri.getPath)) ||
            n.startsWith("compact-")
        }
      if (files.size >= 2 || (rowFilter.isDefined && files.nonEmpty)) files
      else Nil
    }
    if (doomed.isEmpty) return
    val tmp = new Path(cfg.silverPath + "_compact_tmp")
    fs.delete(tmp, true)
    val doomedBase = spark.read.schema(Schemas.silverSchema)
      .option("basePath", cfg.silverPath)
      .parquet(doomed.map(_.toString): _*)
    rowFilter.map(_(doomedBase)).getOrElse(doomedBase)
      .repartition(col("hb"))
      .write.mode("overwrite").partitionBy("hb")
      .parquet(tmp.toString)
    // stage the plan: every rename-in (tmp part file → live bucket under a
    // compact- name gold ignores) and every delete of a merged source
    val moves = fs.listStatus(tmp).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("hb="))
      .flatMap { b =>
        fs.listStatus(b.getPath).toSeq.filter(_.isFile)
          .filter(_.getPath.getName.startsWith("part-"))
          .map { f =>
            val dst = new Path(new Path(dir, b.getPath.getName),
              "compact-" + f.getPath.getName.stripPrefix("part-"))
            (f.getPath, dst)
          }
      }
    val manifest = compactionManifestPath(cfg)
    val out = fs.create(manifest, true)
    try {
      moves.foreach { case (s, d) => out.write(s"MOVE\t$s\t$d\n".getBytes("UTF-8")) }
      doomed.foreach(p => out.write(s"DELETE\t$p\n".getBytes("UTF-8")))
    } finally out.close()
    replayCompactionManifest(fs, cfg)
    spark.catalog.refreshByPath(cfg.silverPath)
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
    if (!fs.exists(dir)) return
    val versions = fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_commit_version="))
      .flatMap(s => s.getPath.getName.stripPrefix("_commit_version=")
        .toLongOption.map(_ -> s.getPath))
      .sortBy(_._1)
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
    val commitsDir = new Path(ckptDir + "/commits")
    val lastCommitted: Long =
      if (!fs.exists(commitsDir)) -1L
      else fs.listStatus(commitsDir).toSeq
        .flatMap(_.getPath.getName.toLongOption).foldLeft(-1L)(math.max)
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

  /** Every data file under the version directory is in the committed set
    * (hidden/metadata files excluded).
    */
  private def fullyCommitted(fs: org.apache.hadoop.fs.FileSystem,
                             versionDir: Path, committed: Set[String]): Boolean = {
    val it = fs.listFiles(versionDir, true)
    var all = true
    while (all && it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith(".") && !name.startsWith("_"))
        all = committed.contains(f.getPath.toUri.getPath)
    }
    all
  }

  /** A file-source directory that is vacuumed/compacted out-of-band can
    * lose a file BETWEEN a reader's parent-directory listing and the
    * child listing/read — Hadoop's recursive listing then throws
    * FileNotFoundException and kills the stream, even though the vacuum
    * contract ([[vacuumGoldChanges]], [[compactSilverLive]],
    * [[compactServe]]) only ever deletes files whose rows every consumer
    * has already committed (or that live on in a compact-* rewrite). With
    * no transaction log to serialize readers against deletes (Delta's
    * answer), the correct plain-parquet semantics is Spark's
    * `ignoreMissingFiles`: a vanished file is SKIPPED, which under the
    * committed-cutoff invariant never hides unread data. Session-wide by
    * design — batch readers of vacuumed history get the same "history is
    * gone after vacuum" semantics Delta gives past its retention window.
    */
  private def tolerateVacuumedFiles(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")

  /** Stage-2 source: the silver table's insert feed (insert-only ⇒ new
    * files ARE the change feed — the Delta-CDF-insert analog).
    */
  def silverInsertStream(spark: SparkSession, cfg: Config): DataFrame = {
    val silverDir = new Path(cfg.silverPath)
    val fs = silverDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(silverDir) // allow starting before stage 1's first commit
    tolerateVacuumedFiles(spark)
    spark.readStream
      // the hb partition column is DECLARED (not inferred): a stream
      // started on the pre-first-commit empty dir would otherwise plan a
      // 6-column schema and fail schema assertion once hb= dirs appear
      .schema(org.apache.spark.sql.types.StructType(
        Schemas.silverSchema.fields :+
          org.apache.spark.sql.types.StructField("hb",
            org.apache.spark.sql.types.LongType)))
      .option("maxFilesPerTrigger", 50)
      // the compaction contract: gold folds ONLY part-* files, so
      // [[compactSilverLive]]'s compact-* rewrites of already-committed
      // files are invisible to this source (no double-fold, no re-read)
      .option("pathGlobFilter", "part-*")
      .parquet(cfg.silverPath)
  }

  /** Stage 2: silver insert feed → per-batch partial agg → fold into the
    * gold snapshot. Source and sink dispatch through `format`.
    */
  def startGold(spark: SparkSession, cfg: Config,
                format: graft.storage.TableFormat =
                  graft.storage.TableFormat.parquet): StreamingQuery = {
    val fs = new Path(cfg.silverPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Pre-create the checkpoint dir BEFORE the stream's async start: it is
    // [[compactSilverAuto]]'s witness that a gold consumer exists, and the
    // stream's own lazy creation would leave a window where a concurrent
    // compaction still picks the whole-directory swap. After this mkdirs
    // the switch is safe for any compaction that starts after startGold
    // returns; only a compaction already in flight at call time can race,
    // which the synchronous-with-silver-batches scheduling rules out.
    fs.mkdirs(new Path(cfg.checkpoint("gold")))
    format.streamInserts(spark, cfg).writeStream
      .queryName("graft_gold")
      .option("checkpointLocation", cfg.checkpoint("gold"))
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        format.upsertFold(spark, batch, batchId, cfg)
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
    // collect and the pending append / direct fold), and without the
    // persist each would re-read the batch files and re-run the partial
    // agg shuffle (tiny frame — one row per group). The batch id is NOT a
    // column: it names the pending directory instead, so the plan's
    // generated code is the same every batch.
    val partialAll = Aggregate
      .partial(batch, "group_id", "score", "event_timestamp")
      .withColumn("gb", goldBucket(cfg))
      .persist()
    try {
      if (cfg.goldFoldEvery <= 1) {
        // per-batch fold (the reference's MERGE cadence). A pending log
        // left by an earlier coalescing configuration folds first so a
        // cadence change can never strand deltas.
        if (fs.exists(new Path(cfg.goldPendingPath))) flushGold(spark, cfg)
        val touched = partialAll.select("gb").distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        foldBuckets(spark, fs, cfg, partialAll, touched, batchId)
        GoldState.writeBatchId(fs, cfg, batchId)
      } else {
        // LSM path: append the increment, fold only the due buckets.
        // Dynamic partition overwrite of the buckets under
        // `_pending_batch=<id>` makes the append idempotent under
        // micro-batch replay; one file per (batch, bucket) by the
        // repartition.
        partialAll.repartition(col("gb"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("gb")
          .parquet(s"${cfg.goldPendingPath}/_pending_batch=$batchId")
        GoldState.writeBatchId(fs, cfg, batchId)
        val due = duePendingBuckets(fs, cfg, batchId)
        if (due.nonEmpty) foldPending(spark, fs, cfg, due, batchId)
      }
    } finally partialAll.unpersist(false)
  }

  /** Fold every pending delta into the gold snapshot — the drain /
    * maintenance flush for `goldFoldEvery > 1` deployments (tests and
    * benches call it between draining gold and draining serve; the
    * user-erase calls it so no tombstoned partial can outlive the
    * scrub in the pending log). No-op when nothing is pending.
    * Single-maintainer contract: the gold stream must be idle.
    */
  def flushGold(spark: SparkSession, cfg: Config): Unit = {
    val fs = new Path(cfg.goldPendingPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(cfg.goldPendingPath))) return
    val upTo = GoldState.lastBatchId(fs, cfg)
    if (upTo < 0L) return
    val pend = pendingLeaves(fs, cfg, upTo)
    val due = pend.map(_._2).distinct.sorted
    if (due.nonEmpty) foldPending(spark, fs, cfg, due, upTo)
  }

  /** Unconsumed pending leaves `(batchId, gb, path)` with batchId ≤
    * `upTo` and batchId beyond the bucket's folded-through marker.
    */
  private def pendingLeaves(fs: org.apache.hadoop.fs.FileSystem,
                            cfg: Config, upTo: Long): Seq[(Long, Int, Path)] = {
    val base = new Path(cfg.goldPendingPath)
    if (!fs.exists(base)) return Nil
    val markers = scala.collection.mutable.Map.empty[Int, Long]
    def markerOf(b: Int): Long =
      markers.getOrElseUpdate(b, GoldState.bucketBatchId(fs, cfg, b))
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_pending_batch="))
      .flatMap { v =>
        v.getPath.getName.stripPrefix("_pending_batch=").toLongOption
          .filter(_ <= upTo).toSeq.flatMap { bid =>
            fs.listStatus(v.getPath).toSeq
              .filter(s => s.isDirectory && s.getPath.getName.startsWith("gb="))
              .flatMap(g => g.getPath.getName.stripPrefix("gb=").toIntOption
                .filter(gb => bid > markerOf(gb))
                .map(gb => (bid, gb, g.getPath)))
          }
      }
  }

  /** Buckets due a fold at `version`: holding ≥ goldFoldEvery pending
    * batches, or any pending batch older than goldFoldEvery batches
    * (the staleness bound for buckets touched rarely).
    */
  private def duePendingBuckets(fs: org.apache.hadoop.fs.FileSystem,
                                cfg: Config, version: Long): Seq[Int] =
    pendingLeaves(fs, cfg, version)
      .groupBy(_._2)
      .collect { case (gb, ls)
        if ls.size >= cfg.goldFoldEvery ||
          ls.map(_._1).min <= version - cfg.goldFoldEvery => gb }
      .toSeq.sorted

  /** Fold the due buckets' pending deltas into the snapshot at
    * `version`, then reclaim the consumed pending leaves. Crash
    * anywhere: the per-bucket markers gate re-consumption (a leaf at or
    * below its bucket's marker is never read again) and reclamation is
    * pure space cleanup, retried on the next fold.
    */
  private def foldPending(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem, cfg: Config,
                          due: Seq[Int], version: Long): Unit = {
    val leaves = pendingLeaves(fs, cfg, version).filter(l => due.contains(l._2))
    if (leaves.nonEmpty) {
      // merge each group's per-batch partials into one. EXACT: decimal
      // sums are associative, and the faithful batch-overwrite first/last
      // semantics (SURVEY §7.5-3) survive coalescing as
      // max_by(_, _pending_batch) — the last touching batch's min/max,
      // exactly what folding the batches one at a time would leave
      val merged = spark.read
        .option("basePath", cfg.goldPendingPath)
        .parquet(leaves.map(_._3.toString): _*)
        .groupBy(col("group_id"), col("gb")).agg(
          sum(col("batch_score")).as("batch_score"),
          sum(col("batch_events")).as("batch_events"),
          max_by(col("batch_first"), col("_pending_batch")).as("batch_first"),
          max_by(col("batch_last"), col("_pending_batch")).as("batch_last"))
      foldBuckets(spark, fs, cfg, merged, due, version)
    }
    // reclaim every leaf the markers now cover (incl. leaves a prior
    // crashed fold consumed but could not delete)
    val consumed = fs.listStatus(new Path(cfg.goldPendingPath)).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_pending_batch="))
    consumed.foreach { v =>
      v.getPath.getName.stripPrefix("_pending_batch=").toLongOption.foreach { bid =>
        fs.listStatus(v.getPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("gb="))
          .foreach { g =>
            g.getPath.getName.stripPrefix("gb=").toIntOption.foreach { gb =>
              if (bid <= GoldState.bucketBatchId(fs, cfg, gb))
                fs.delete(g.getPath, true)
            }
          }
        // only the write's `_SUCCESS` marker may be left beside the leaves
        if (!fs.listStatus(v.getPath).exists(_.isDirectory))
          fs.delete(v.getPath, true)
      }
    }
    spark.catalog.refreshByPath(cfg.goldPendingPath)
  }

  /** The fold itself — ONE full-outer join computes the new snapshot
    * rows AND both change-feed images (r16 measured the previous shape —
    * re-reading the staged fold and classifying changes through three
    * more joins — as a per-batch fixed cost that multiplied at high
    * group cardinality).
    *
    * `partials` holds ONE partial row per group (group_id, batch_score,
    * batch_events, batch_first, batch_last, gb): a single batch's
    * partial aggregate as is, or [[foldPending]]'s merge of several.
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
      (batchClockSeconds() * 1000L).as("updated_at"),
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

  /** Alternative gold path: per-group running aggregates held in the
    * state store via mapGroupsWithState — no snapshot rewrite per batch,
    * update-mode emission of exactly the touched groups. This is the
    * pure-streaming formulation of the reference's MERGE fold (state =
    * the gold row; the fold arithmetic is identical to [[Aggregate.fold]],
    * including the faithful batch-overwrite first/last semantics).
    *
    * Scale notes: state is one small row per group_id in RocksDB,
    * partitioned by the shuffle on group_id; a 100 TB keyspace shards
    * across executors with no global rewrite — the trade against
    * [[startGold]] is that serving reads need a changelog sink (update
    * stream) instead of a self-contained snapshot directory.
    */
  def statefulGold(events: org.apache.spark.sql.Dataset[graft.model.SilverRow])
      : org.apache.spark.sql.Dataset[graft.model.GoldRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import events.sparkSession.implicits._
    events.groupByKey(_.group_id)
      .mapGroupsWithState[graft.model.GoldRow, graft.model.GoldRow](
        GroupStateTimeout.NoTimeout()) {
        case (gid, rows, state: GroupState[graft.model.GoldRow]) =>
          var cum = 0.0
          var cnt = 0L
          var first = Long.MaxValue
          var last = Long.MinValue
          rows.foreach { r =>
            cum += r.score.toDouble
            cnt += 1
            if (r.event_timestamp < first) first = r.event_timestamp
            if (r.event_timestamp > last) last = r.event_timestamp
          }
          val prev = state.getOption
          val newCum = prev.map(_.cumulative_score.toDouble).getOrElse(0.0) + cum
          val newCnt = prev.map(_.event_count).getOrElse(0L) + cnt
          val row = graft.model.GoldRow(gid,
            newCum.toFloat, newCnt, (newCum / newCnt).toFloat,
            first, last, System.currentTimeMillis())
          state.update(row)
          row
      }
  }

  /** The same running-gold fold on Spark 4's transformWithState API — a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] with explicit
    * ValueState (RocksDB-only, composable with TTL/timers for state
    * hygiene at scale; mapGroupsWithState offers neither).
    */
  class GoldProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, graft.model.SilverRow, graft.model.GoldRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[graft.model.GoldRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[graft.model.GoldRow]("gold",
        org.apache.spark.sql.Encoders.product[graft.model.GoldRow],
        TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[graft.model.SilverRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[graft.model.GoldRow] = {
      var cum = 0.0
      var cnt = 0L
      var first = Long.MaxValue
      var last = Long.MinValue
      rows.foreach { r =>
        cum += r.score.toDouble
        cnt += 1
        if (r.event_timestamp < first) first = r.event_timestamp
        if (r.event_timestamp > last) last = r.event_timestamp
      }
      if (cnt == 0) Iterator.empty
      else {
        val prev = Option(state.get())
        val newCum = prev.map(_.cumulative_score.toDouble).getOrElse(0.0) + cum
        val newCnt = prev.map(_.event_count).getOrElse(0L) + cnt
        val row = graft.model.GoldRow(key, newCum.toFloat, newCnt,
          (newCum / newCnt).toFloat, first, last, System.currentTimeMillis())
        state.update(row)
        Iterator.single(row)
      }
    }
  }

  /** First-seen-wins dedup with an explicit processing-time TTL on the
    * seen-set — the transformWithState alternative to
    * dropDuplicatesWithinWatermark when the horizon should be operational
    * (state budget) rather than event-time. State is one boolean per id in
    * RocksDB, expired by TTL without any watermark coupling.
    */
  class SeenDedupProcessor(ttlMillis: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, graft.model.Event, graft.model.Event] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        if (ttlMillis > 0) new TTLConfig(java.time.Duration.ofMillis(ttlMillis))
        else TTLConfig.NONE)

    override def handleInputRows(id: String,
        rows: Iterator[graft.model.Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[graft.model.Event] = {
      if (seen.exists() || rows.isEmpty) Iterator.empty
      else {
        seen.update(true)
        Iterator.single(rows.next())
      }
    }
  }

  /** Dedup a typed event stream by id. `ttlMillis > 0` bounds the
    * seen-set with a processing-time TTL (the engine then schedules
    * batches continuously to advance TTL time — fine under a real
    * trigger, but synchronous processAllAvailable-style tests should use
    * `ttlMillis = 0`, unbounded state).
    */
  def ttlDedup(events: org.apache.spark.sql.Dataset[graft.model.Event],
               ttlMillis: Long): org.apache.spark.sql.Dataset[graft.model.Event] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    val mode = if (ttlMillis > 0)
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    else org.apache.spark.sql.streaming.TimeMode.None()
    events.groupByKey(_.id)
      .transformWithState(new SeenDedupProcessor(ttlMillis),
        mode, OutputMode.Append())
  }

  /** [[statefulGold]] on the transformWithState API. */
  def statefulGoldTws(events: org.apache.spark.sql.Dataset[graft.model.SilverRow])
      : org.apache.spark.sql.Dataset[graft.model.GoldRow] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.group_id)
      .transformWithState(new GoldProcessor, TimeMode.None(), OutputMode.Update())
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
  def startServe(spark: SparkSession, cfg: Config,
                 format: graft.storage.TableFormat =
                   graft.storage.TableFormat.parquet): StreamingQuery = {
    format.streamChangeFeed(spark, cfg)
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .withColumn("_id", col("group_id"))
      .drop("gb", "_change_type")
      .writeStream
      .queryName("graft_serve")
      .option("checkpointLocation", cfg.checkpoint("serve"))
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch id names the partition directory (no literal column:
        // the plan compiles once); overwrite replaces a replay's own dir
        batch.write.mode("overwrite")
          .parquet(s"${cfg.servePath}/_serve_batch=$batchId")
      }
      .start()
  }

  // ——————————— stage 4: analytics maintenance (retention view) ———————————

  private def retentionBase(cfg: Config): String = s"${cfg.baseDir}/retention"

  /** Newest retention snapshot `retention/v=<batchId>` with id < `below`. */
  private[streaming] def currentRetentionSnapshot(
      fs: org.apache.hadoop.fs.FileSystem,
      cfg: Config, below: Long = Long.MaxValue): Option[(Long, Path)] = {
    val base = new Path(retentionBase(cfg))
    if (!fs.exists(base)) return None
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption
        .map(_ -> s.getPath))
      .filter(_._1 < below)
      .sortBy(_._1).lastOption
  }

  /** Stage 4 — the reference's incremental-aggregate pattern
    * (`gold.py:7-46`) applied to the retention view: the silver insert
    * feed drives per-entity cohort deltas
    * ([[StreamingAnalytics.retentionDeltasByEntity]], O(active days)
    * state per group_id), and each micro-batch folds its delta counts
    * into a tiny versioned activity snapshot. The serving read is
    * [[retentionActivity]] + `Analytics.retentionFromActivity` — the
    * identical rollup the batch `retention_cohorts` query runs, so the
    * live view equals the batch backfill on in-order streams
    * (PipelineSpec pins it over the real silver chain).
    */
  def startRetention(spark: SparkSession, cfg: Config): StreamingQuery = {
    import spark.implicits._
    val acts = silverInsertStream(spark, cfg)
      .select(col("group_id").as("entity"),
        col("event_timestamp").as("ems"))
      .as[graft.streaming.StreamingAnalytics.Activity]
    graft.streaming.StreamingAnalytics.retentionDeltasByEntity(acts).toDF()
      .writeStream
      .queryName("graft_retention")
      .option("checkpointLocation", cfg.checkpoint("retention"))
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldRetention(spark, batch, batchId, cfg)
      }
      .start()
  }

  /** Replay-safe snapshot fold: version `v=<batchId>` is computed from
    * the newest snapshot STRICTLY OLDER than this batch plus the batch's
    * delta counts — a batch replayed after a crash recomputes its own
    * version rather than compounding onto it. One generation back is
    * retained for that guard; older versions are vacuumed. The snapshot
    * is (cohort_day, day_offset, n_active) — cohorts × offsets rows,
    * tiny by construction, so the rewrite is O(view), never O(events).
    */
  private[graft] def foldRetention(spark: SparkSession, batch: DataFrame,
                                   batchId: Long, cfg: Config): Unit = {
    val base = new Path(retentionBase(cfg))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delta = batch.groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    val prev = currentRetentionSnapshot(fs, cfg, below = batchId)
    val merged = prev match {
      case Some((_, p)) =>
        spark.read.parquet(p.toString).unionByName(delta)
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(sum(col("n_active")).as("n_active"))
      case None => delta
    }
    merged.coalesce(1).write.mode("overwrite")
      .parquet(s"${retentionBase(cfg)}/v=$batchId")
    vacuumSnapshots(fs, base)
  }

  /** How many snapshot generations a versioned view retains. More than
    * the single replay-guard generation on purpose (ADVICE r7): a
    * serving reader holds a LAZY frame over the newest `v=` dir, so a
    * one-generation window let a read that executes (or re-executes)
    * after two further micro-batches hit FileNotFoundException on the
    * vacuumed path. Each snapshot is O(view) — cohorts × offsets / live
    * grid cells — so the cost of the wider window is a few tiny files,
    * and readers get `retain − 1` micro-batches to materialize. Callers
    * that hold results across many batches should still copy promptly
    * (the specs localCheckpoint).
    */
  private[graft] val snapshotRetain = 4

  /** Keep the newest [[snapshotRetain]] `v=<id>` generations, delete the
    * rest. The newest version strictly older than any replayed batch id
    * survives inside the window, so the strictly-older-prev replay guard
    * in the folds is unaffected.
    */
  private def vacuumSnapshots(fs: org.apache.hadoop.fs.FileSystem,
                              base: Path): Unit = {
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption
        .map(_ -> s.getPath))
      .sortBy(-_._1)
      .drop(snapshotRetain)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** The maintained (cohort_day, day_offset, n_active) activity view —
    * feed it to `Analytics.retentionFromActivity` for the serving shape.
    * The frame is LAZY over the newest retained snapshot; it stays
    * readable for [[snapshotRetain]]−1 further micro-batches — execute
    * (or copy) within that window.
    */
  def retentionActivity(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = new Path(retentionBase(cfg))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentRetentionSnapshot(fs, cfg)
    require(cur.nonEmpty, s"retention view ${retentionBase(cfg)} has no data yet")
    spark.read.parquet(cur.get._2.toString)
  }

  // ———————————— stage 5: analytics maintenance (anomaly view) ————————————

  private def anomalyBase(cfg: Config): String = s"${cfg.baseDir}/anomaly"

  private def currentAnomalySnapshot(fs: org.apache.hadoop.fs.FileSystem,
      cfg: Config, below: Long = Long.MaxValue): Option[(Long, Path)] = {
    val base = new Path(anomalyBase(cfg))
    if (!fs.exists(base)) return None
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption
        .map(_ -> s.getPath))
      .filter(_._1 < below)
      .sortBy(_._1).lastOption
  }

  /** Stage 5 — the anomaly sibling of [[startRetention]]: an update-mode
    * streaming aggregation maintains the per-(group_id, day) running
    * count grid over the silver insert feed; each micro-batch emits new
    * TOTALS for its touched cells, and the fold REPLACES those cells in
    * the versioned snapshot (totals are authoritative, so replay is
    * naturally idempotent under the strictly-older-prev guard). The
    * serving read is `Analytics.anomalyOf(anomalyDailyCounts(...),
    * "group_id")` — the identical z-score rollup as the batch query.
    * State is one sum per live (group, day) cell — the grid, not the
    * events.
    */
  def startAnomaly(spark: SparkSession, cfg: Config): StreamingQuery = {
    silverInsertStream(spark, cfg)
      .groupBy(col("group_id"),
        floor(col("event_timestamp") / lit(86400000L)).cast("long").as("day"))
      .agg(count(lit(1)).as("c"))
      .writeStream
      .queryName("graft_anomaly")
      .option("checkpointLocation", cfg.checkpoint("anomaly"))
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldAnomaly(spark, batch, batchId, cfg)
      }
      .start()
  }

  private[graft] def foldAnomaly(spark: SparkSession, batch: DataFrame,
                                 batchId: Long, cfg: Config): Unit = {
    val base = new Path(anomalyBase(cfg))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delta = batch.select(col("group_id"), col("day"), col("c"))
    val prev = currentAnomalySnapshot(fs, cfg, below = batchId)
    val merged = prev match {
      case Some((_, p)) =>
        val cur = spark.read.parquet(p.toString)
        // replace-by-key: untouched cells carry over, touched cells take
        // the batch's new totals
        cur.join(delta.select(col("group_id"), col("day")).distinct(),
            Seq("group_id", "day"), "left_anti")
          .unionByName(delta)
      case None => delta
    }
    merged.coalesce(1).write.mode("overwrite")
      .parquet(s"${anomalyBase(cfg)}/v=$batchId")
    vacuumSnapshots(fs, base)
  }

  /** The maintained (group_id, day, c) count grid — feed it to
    * `Analytics.anomalyOf(_, "group_id")` for the z-score view. Lazy
    * over the newest retained snapshot; readable for
    * [[snapshotRetain]]−1 further micro-batches (see [[snapshotRetain]]).
    */
  def anomalyDailyCounts(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = new Path(anomalyBase(cfg))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentAnomalySnapshot(fs, cfg)
    require(cur.nonEmpty, s"anomaly view ${anomalyBase(cfg)} has no data yet")
    spark.read.parquet(cur.get._2.toString)
  }

  // ———————————— stage 6: analytics serving (dashboard read path) ————————————

  /** The dashboard read path over the MAINTAINED retention view (VERDICT
    * r7 #6): the same `Serve.page` + `_id` surface the batch
    * `serve_analytics` query applies, fed by the stream-maintained
    * snapshot — so the live pipeline serves the identical page the batch
    * backfill computes (PipelineSpec pins page-equality after N batches).
    * With [[Metrics.retentionFreshness]] alongside, this closes the
    * reference's gold→Mongo→dashboard loop (processing/tomongo.py:6-17 →
    * webapp/app/api/data/route.ts:9-17) over the analytics chain.
    *
    * The activity read is EAGER and strict (ADVICE r8): rows pin at call
    * time via localCheckpoint — the snapshot is O(cohorts × offsets),
    * tiny by construction — and the per-read `ignoreMissingFiles=false`
    * option overrides the session-wide lenient conf, so a race with the
    * snapshot vacuum fails loudly here instead of returning
    * silently-partial rows to the dashboard.
    */
  def serveRetention(spark: SparkSession, cfg: Config,
                     pageNo: Int, pageSize: Int): DataFrame =
    serveRetentionCols(graft.ops.Serve.page(servedRetentionFrame(spark, cfg),
      Seq(col("cohort_day"), col("day_offset")), pageNo, pageSize))

  /** The ONE retention frame both page forms serve: snapshot lookup,
    * eager + strict read (see the class of docstring above), rollup,
    * `_id`. Extracted so a future change to the read discipline cannot
    * silently diverge between the offset and keyset surfaces.
    */
  private def servedRetentionFrame(spark: SparkSession,
                                   cfg: Config): DataFrame = {
    val fs = new Path(retentionBase(cfg))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentRetentionSnapshot(fs, cfg)
    require(cur.nonEmpty, s"retention view ${retentionBase(cfg)} has no data yet")
    val act = spark.read.option("ignoreMissingFiles", "false")
      .parquet(cur.get._2.toString).localCheckpoint(true)
    graft.ops.Analytics.retentionFromActivity(act)
      .withColumn("_id", concat_ws(":", col("cohort_day"), col("day_offset")))
  }

  private def serveRetentionCols(page: DataFrame): DataFrame =
    page.select(col("_id"), col("cohort_day"), col("day_offset"),
      col("n_active"), col("cohort_size"), col("retention"))

  /** [[serveRetention]]'s deep-page form (VERDICT r9 #5): the SAME
    * served frame, but the page is sought by the last key of the
    * previous page — `(cohort_day, day_offset)` lexicographically after
    * `(afterCohort, afterOffset)` via [[graft.ops.Serve.keyset2]] — so
    * there is NO offset sort-and-discard anywhere in the plan and a
    * page deep into a 100× dashboard history costs O(page).
    * PipelineSpec pins the no-offset plan and page-chaining equality
    * with the offset form.
    */
  def serveRetentionKeyset(spark: SparkSession, cfg: Config,
                           afterCohort: Long, afterOffset: Long,
                           pageSize: Int): DataFrame =
    serveRetentionCols(graft.ops.Serve.keyset2(
      servedRetentionFrame(spark, cfg),
      col("cohort_day"), col("day_offset"),
      lit(afterCohort), lit(afterOffset), pageSize))

  /** [[serveRetention]]'s anomaly sibling: the maintained daily-count
    * grid through `Analytics.anomalyOf` and the same paginated `_id`
    * surface. Same eager + strict read discipline.
    */
  def serveAnomaly(spark: SparkSession, cfg: Config,
                   pageNo: Int, pageSize: Int): DataFrame = {
    val fs = new Path(anomalyBase(cfg))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentAnomalySnapshot(fs, cfg)
    require(cur.nonEmpty, s"anomaly view ${anomalyBase(cfg)} has no data yet")
    val daily = spark.read.option("ignoreMissingFiles", "false")
      .parquet(cur.get._2.toString).localCheckpoint(true)
    graft.ops.Serve.page(graft.ops.Analytics.anomalyOf(daily, "group_id")
        .withColumn("_id", concat_ws(":", col("group_id"), col("day"))),
      Seq(col("group_id"), col("day")), pageNo, pageSize)
  }

  /** Stage-3 source: the gold change feed as a streaming DataFrame
    * (`_change_type` / `_commit_version` carried — the CDF-read analog).
    */
  def goldChangeStream(spark: SparkSession, cfg: Config): DataFrame = {
    val changesDir = new Path(cfg.goldChangesPath)
    val fs = changesDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(changesDir) // file stream needs the dir to exist up front
    tolerateVacuumedFiles(spark)
    spark.readStream
      .schema(goldChangeSchema)
      .option("maxFilesPerTrigger", 100)
      .option("basePath", cfg.goldChangesPath)
      .parquet(cfg.goldChangesPath)
  }

  private[streaming] def serveSnapshotBase(cfg: Config): String =
    s"${cfg.baseDir}/serve_snapshot"

  /** Newest compacted snapshot version under `serve_snapshot/v=<n>`. */
  private def currentServeSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                                   cfg: Config): Option[(Long, Path)] = {
    val base = new Path(serveSnapshotBase(cfg))
    if (!fs.exists(base)) return None
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption
        .map(_ -> s.getPath))
      .sortBy(_._1).lastOption
  }

  /** Live `_serve_batch=<id>` partitions of the serve log. */
  private def serveBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
                             cfg: Config): Seq[(Long, Path)] = {
    val dir = new Path(cfg.servePath)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_serve_batch="))
      .flatMap(s => s.getPath.getName.stripPrefix("_serve_batch=").toLongOption
        .map(_ -> s.getPath))
      .sortBy(_._1)
  }

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
    tolerateVacuumedFiles(spark) // a scan outliving two compactions
    // skips the files reclaimed under it instead of failing
    val snap = currentServeSnapshot(fs, cfg).map(_._2)
    val folded = snap.map(foldedTails(fs, _)).getOrElse(Set.empty)
    val tail = serveBatchDirs(fs, cfg).map(_._2)
      .filterNot(p => folded.contains(p.getName))
    val parts = (snap.toSeq ++ tail).map(_.toString)
    require(parts.nonEmpty, s"serve log ${cfg.servePath} has no data yet")
    spark.read.schema(serveRowSchema).parquet(parts: _*)
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
    val commitsDir = new Path(cfg.checkpoint("serve") + "/commits")
    val lastCommitted: Long =
      if (!fs.exists(commitsDir)) -1L
      else fs.listStatus(commitsDir).toSeq
        .flatMap(_.getPath.getName.toLongOption).foldLeft(-1L)(math.max)
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
    fs.listStatus(new Path(serveSnapshotBase(cfg))).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption
        .map(_ -> s.getPath))
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
  def startAll(spark: SparkSession, raw: DataFrame, cfg: Config,
               format: graft.storage.TableFormat =
                 graft.storage.TableFormat.parquet): Seq[StreamingQuery] =
    Seq(startSilver(spark, raw, cfg, format), startGold(spark, cfg, format),
      startServe(spark, cfg, format))

  /** The full maintained surface: the reference's three stages plus the
    * analytics maintenance pair (stages 4–5). Stage 6 is the read path
    * ([[serveRetention]]/[[serveAnomaly]]) — not a stream. PipelineSpec
    * runs all five concurrently and pins every maintained view against
    * its batch oracle.
    */
  def startAllWithAnalytics(spark: SparkSession, raw: DataFrame, cfg: Config,
                            format: graft.storage.TableFormat =
                              graft.storage.TableFormat.parquet)
      : Seq[StreamingQuery] =
    startAll(spark, raw, cfg, format) ++
      Seq(startRetention(spark, cfg), startAnomaly(spark, cfg))

  /** The orchestration demo extended to the similarity-serving side
    * (VERDICT r14 next #6): the five maintained event stages PLUS the
    * vector lifecycle — the composed raw+rung ingest
    * ([[StreamingSimilarity.startEmbeddingIngest]]: raw embeddings
    * store and all three standing rung tables, one idempotent batch
    * body) and the query-side rung search stream serving each query
    * batch against the SAME standing tables the ingest appends into.
    * One deployment shape: an event pipeline and a vector search
    * surface sharing a session, every stage a concurrent
    * StreamingQuery with its own checkpoint; a query arriving after a
    * vector's ingest batch sees it, exact rescore included.
    */
  def startAllWithSearch(spark: SparkSession, raw: DataFrame, cfg: Config,
                         corpusDir: String, vecs: DataFrame,
                         queries: DataFrame, vecCheckpoint: String,
                         searchCheckpoint: String, nQueries: Int, k: Int,
                         format: graft.storage.TableFormat =
                           graft.storage.TableFormat.parquet)
                        (sink: DataFrame => Unit): Seq[StreamingQuery] =
    startAllWithAnalytics(spark, raw, cfg, format) ++
      searchStages(spark, corpusDir, vecs, queries, vecCheckpoint,
        searchCheckpoint, nQueries, k)(sink)

  /** The vector half of [[startAllWithSearch]] alone — composed ingest
    * + rung search stream — so a bench or deployment can pair it with
    * ANY event-side stage set (StreamBench's search soak rides it next
    * to the same three stages `full` mode runs, keeping the two modes'
    * event throughput comparable — review r15).
    */
  def searchStages(spark: SparkSession, corpusDir: String, vecs: DataFrame,
                   queries: DataFrame, vecCheckpoint: String,
                   searchCheckpoint: String, nQueries: Int, k: Int)
                  (sink: DataFrame => Unit): Seq[StreamingQuery] = Seq(
    StreamingSimilarity.startEmbeddingIngest(spark, corpusDir, vecs,
      vecCheckpoint, nQueries),
    StreamingSimilarity.startScanSearchStream(queries, searchCheckpoint)(
      b => graft.ext.Rung.binaryIndexedTopK(spark, corpusDir, b,
        nQueries, k, rescoreFactor = 4))(sink))

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
