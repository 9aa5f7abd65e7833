package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.ext.{Forget, Pq, Rung, Similarity}

/** Erase-economics decision artifact (r15 VERDICT next #4): the
  * deletion lifecycle's main tuning knob is `minTombstones` — how many
  * requests amortize into one corpus-proportional physical erase — and
  * r15 shipped exactly ONE measured point (132 s / 100,100 rows). This
  * tool measures the CURVE: for each requested tombstone count N it
  * clones the raw embeddings store into a scratch corpus, builds the
  * standing surfaces a deployment would carry (the three rungs + IVF +
  * PQ — the same set [[Forget.applyForgetIfNeeded]] rebuilds), registers
  * N deterministic tombstones, and times the apply, reporting:
  *
  *   - `erase_secs` — wall time of the quiesced apply;
  *   - `bytes_rewritten` — raw store + every rebuilt index dir after
  *     the apply (the write volume the erase actually paid);
  *   - `secs_per_tombstone` — the amortized unit price a deployment
  *     compares against its read-path cost (one broadcast anti-join per
  *     query, ~zero marginal bytes) to pick its threshold.
  *
  * The apply's cost is corpus-proportional (rewrite + retrain), so the
  * curve is expected ~flat in N — which is precisely the economics
  * argument: waiting for more tombstones divides a near-constant cost.
  * The measured table goes to BENCH_DELTA (wall-clock numbers are
  * host-dependent; the artifact is the RATIO structure, like the
  * `ann_compression_recall` bytes table).
  *
  * Usage: runMain graft.tools.ForgetEconomics <corpusDir> [n1,n2,...]
  * (defaults: 1,10,100,1000,10000 capped at the corpus's candidate
  * count / 2).
  */
object ForgetEconomics {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ForgetEconomics <corpusDir> [n1,n2,...]")
    val srcDir = args(0)
    val points = args.lift(1)
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(1L, 10L, 100L, 1000L, 10000L))
    val spark = graft.GraftSession.local()
    val hconf = spark.sparkContext.hadoopConfiguration

    def bytesOf(p: Path): Long = {
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }

    val candidates = Similarity.embeddings(spark, srcDir)
      .filter(col("vec_id") >= 10)
    val nCand = candidates.count()
    println(s"[forget-econ] corpus=$srcDir candidates=$nCand")

    // no silent caps (ADVICE r16): a requested point beyond half the
    // candidate set cannot run (the erase would dominate the corpus and
    // stop measuring the apply) — say so instead of dropping it quietly
    val (runnable, dropped) = points.partition(_ <= nCand / 2)
    dropped.foreach(n => println(s"[forget-econ] SKIPPED point n=$n: " +
      s"exceeds half the candidate set ($nCand candidates)"))
    val rows = runnable.map { n =>
      // fresh scratch corpus per point: each apply starts from the same
      // raw store + standing surfaces, so points are comparable
      val scratch = java.nio.file.Files
        .createTempDirectory(s"graft_fecon_$n").toString
      spark.read.parquet(s"$srcDir/embeddings.parquet")
        .write.parquet(s"$scratch/embeddings.parquet")
      Rung.ensureBinaryIndex(spark, scratch, 10)
      Rung.ensureMatryoshkaIndex(spark, scratch, 10, 16)
      Rung.ensureInt8Index(spark, scratch, 10)
      Similarity.ensureIvfIndex(spark, scratch, 10, 16)
      Pq.ensurePqIndex(spark, scratch, 10)
      // deterministic set: the first N candidate ids (any rule works —
      // the apply's cost is corpus-proportional, not set-dependent)
      Forget.forgetVectors(spark, scratch,
        candidates.select(col("vec_id")).orderBy(col("vec_id")).limit(n.toInt))
      val t0 = System.nanoTime()
      val erased = Forget.applyForgetIfNeeded(spark, scratch,
        minTombstones = n)
      val secs = (System.nanoTime() - t0) / 1e9
      require(erased == n, s"erased=$erased expected=$n")
      val raw = bytesOf(new Path(s"$scratch/embeddings.parquet"))
      val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
      val whFs = wh.getFileSystem(hconf)
      val key = graft.ext.IndexCatalog.indexKey(scratch)
      val idx =
        if (!whFs.exists(wh)) 0L
        else whFs.listStatus(wh).toSeq.map(_.getPath)
          .filter(_.getName.contains(key)).map(bytesOf).sum
      val r = (n, secs, erased, raw + idx, secs / n)
      println(f"[forget-econ] n=$n%6d erase=${secs}%7.2f s " +
        f"bytes=${raw + idx}%12d per-tombstone=${secs / n}%9.5f s")
      // reclaim the point's scratch: purge the standing tables (catalog
      // + warehouse data) and delete the cloned corpus — a 5-point
      // sweep over the ×100 corpus would otherwise strand ~5 corpus
      // copies plus index dirs in /tmp (ADVICE r16)
      Rung.purgeRungIndexes(spark, scratch, 10, 16)
      Similarity.purgeIvfIndex(spark, scratch, 10, 16)
      Pq.purgePqIndex(spark, scratch, 10)
      val scratchP = new Path(scratch)
      scratchP.getFileSystem(hconf).delete(scratchP, true)
      r
    }
    val json = rows.map { case (n, secs, erased, bytes, per) =>
      f"""{"min_tombstones":$n,"erase_secs":$secs%.2f,"rows_erased":$erased,"bytes_rewritten":$bytes,"secs_per_tombstone":$per%.6f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"forget_apply_sweep","corpus":"$srcDir","candidates":$nCand,"points":$json}""")
    spark.stop()
  }
}
