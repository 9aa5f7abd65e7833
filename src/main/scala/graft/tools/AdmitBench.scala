package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.TextDedup

/** Fixed-increment admission benchmark (r16 — the ×100 companion to
  * `dedup_incremental`). The registered query admits the corpus's 20%
  * holdout partition, which is corpus-PROPORTIONAL by construction —
  * so its wall grows with the corpus and tells a deployment nothing
  * about the cost of a real, fixed-size daily increment. This tool
  * measures that: admit the FIRST `batch` docs of the holdout
  * partition against the standing band/shingle index (built on first
  * use, amortized across reps by best-of-n), at whatever corpus size
  * `dir` holds. Run it at ×10 and ×100 — a flat wall across corpus
  * sizes is the standing-index admission claim, measured.
  *
  * Usage: runMain graft.tools.AdmitBench <corpusDir> [batch] [reps]
  */
object AdmitBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AdmitBench <corpusDir> [batch] [reps]")
    val dir = args(0)
    val batch = args.lift(1).map(_.toInt).getOrElse(1000)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local()
    val newDocs = TextDedup.documents(spark, dir)
      .filter(col("doc_id") % 10 >= 8)
      .orderBy(col("doc_id")).limit(batch)
      .localCheckpoint(true)
    val corpusDocs = TextDedup.documents(spark, dir).count()
    var best = Double.MaxValue
    var rows = 0L
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      rows = TextDedup.admitIndexed(spark, dir, newDocs, 0.5).count()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[admit] rep $r $sec%.2f s ($rows rows)")
      best = math.min(best, sec)
    }
    println(f"""{"metric":"admit_fixed_increment","corpus":"$dir","corpus_docs":$corpusDocs,"batch":$batch,"verdict_rows":$rows,"best_secs":$best%.2f,"n":$reps}""")
    spark.stop()
  }
}
