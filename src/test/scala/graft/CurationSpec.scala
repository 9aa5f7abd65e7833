package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Curation, TextDedup}
import graft.ops.Ingest

/** Unit tests for the corpus-curation operators (stratified sampling,
  * quota cap, decontamination). The oracle covers value parity vs DuckDB
  * on real testdata; these pin the algebraic invariants — two-phase cap ==
  * direct window, sampling is a pure row function, decontamination ==
  * brute-force shingle intersection.
  */
class CurationSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("quotaTokens block prefix form equals the direct per-source " +
    "window across block sizes; kept set is a budget-bounded prefix") {
    val direct = Ingest.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .filter(col("cum_tokens") <= 600L)
      .orderBy(col("source"), col("doc_id"))
      .collect().map(_.toSeq)
    Seq(1L, 7L, 100L, 100000L).foreach { bs =>
      val got = graft.ext.Curation.quotaTokens(spark, sf, 600L, bs)
        .collect().map(_.toSeq)
      assert(got.toSeq == direct.toSeq, s"blockSize=$bs")
    }
    // prefix property: within a source, kept doc_ids are a prefix of the
    // source's docs (cum is monotone, so nothing after a dropped doc)
    val keptBySource = direct.groupBy(_(1)).view.mapValues(
      _.map(_(0).asInstanceOf[Long]).toSet).toMap
    val allBySource = Ingest.table(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    keptBySource.foreach { case (src, kept) =>
      val all = allBySource(src.asInstanceOf[String])
      assert(all.takeWhile(kept.contains).toSet == kept)
    }
  }

  test("eval leak report matches a brute-force driver reference and " +
    "agrees with the training-side decontamination flags") {
    val docs = Ingest.table(spark, sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      val m = math.max(w.length - 4, 1)
      (0 until m).map(i => w.slice(i, i + 5).mkString(" ")).toSet
    }
    val ev = docs.filter(_._2 == "src0").map(d => d._1 -> grams(d._3))
    val tr = docs.filter(_._2 != "src0").map(d => d._1 -> grams(d._3))
    val expected = ev.map { case (eid, eg) =>
      val leaking = tr.filter { case (_, tg) => (eg & tg).nonEmpty }
      val sharedGrams = tr.map(_._2 & eg).foldLeft(Set.empty[String])(_ ++ _)
      (eid, leaking.length.toLong, sharedGrams.size.toLong)
    }.sortBy(_._1)
    val got = graft.ext.Curation.evalLeakReport(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
    // cross-face consistency: training docs are flagged contaminated
    // exactly when they leak into some eval doc
    val contaminated = graft.ext.Curation.decontaminate(spark, sf)
      .filter(col("contaminated")).count()
    val leakingTrain = tr.count { case (_, tg) =>
      ev.exists { case (_, eg) => (eg & tg).nonEmpty } }
    assert(contaminated == leakingTrain)
  }

  test("sqrt-temperature mixture: rarest language at rate 1, rates " +
    "decrease with mass by the closed form") {
    val rows = graft.ext.Curation.mixtureTemperature(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDouble(r.fieldIndex("sample_rate")),
        r.getString(r.fieldIndex("sample_threshold"))))
    assert(rows.nonEmpty)
    val minTokens = rows.map(_._2).min
    rows.foreach { case (_, n, rate, th) =>
      // sample_rate is round(sqrt(n_min/n), 6) — compare within the
      // rounding grain
      assert(math.abs(rate - math.sqrt(minTokens.toDouble / n)) < 1e-6)
      if (n == minTokens) { assert(rate == 1.0 && th == "zzzz") }
      else assert(th < "zzzz" && th.length == 4)
    }
    // monotone: more mass, lower rate
    val sorted = rows.sortBy(_._2)
    sorted.map(_._3).zip(sorted.tail.map(_._3)).foreach { case (a, b) =>
      assert(a >= b)
    }
  }

  test("filter agreement cube sums to the corpus and matches each " +
    "gate's own marginal") {
    val cube = graft.ext.Curation.filterAgreement(spark, sf).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)) ->
        r.getLong(3)).toMap
    val nDocs = Ingest.table(spark, sf, "documents").count()
    assert(cube.values.sum == nDocs)
    // marginals must equal each gate computed standalone
    val gopherKeep = graft.ext.TextAnalysis.gopherRules(spark, sf)
      .filter(col("keep")).count()
    assert(cube.collect { case ((g, _, _), n) if g => n }.sum == gopherKeep)
    val clfKeep = graft.ext.Classifier.scoreAll(spark, sf)
      .filter(col("pred")).count()
    assert(cube.collect { case ((_, c, _), n) if c => n }.sum == clfKeep)
    val lmKeep = graft.ext.TextAnalysis.lmBuckets(spark, sf)
      .filter(col("bucket") =!= "tail").count()
    assert(cube.collect { case ((_, _, l), n) if l => n }.sum == lmKeep)
  }

  test("quotaCap two-phase salted ranking equals the direct window") {
    val direct = Ingest.table(spark, sf, "documents")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .filter(col("rk") <= 10)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
    val capped = Curation.quotaCap(spark, sf, n = 10)
    assert(capped.count() == direct.count())
    assert(capped.exceptAll(direct).isEmpty)
    // every source is capped, none above n
    val per = capped.groupBy("source").count().collect()
    assert(per.nonEmpty && per.forall(_.getAs[Long]("count") <= 10))
  }

  test("quotaCap holds under a salt count that fragments every source") {
    // salts >> docs-per-source: phase 1 keeps everything, phase 2 must
    // still produce the exact global cap
    val a = Curation.quotaCap(spark, sf, n = 3, salts = 997)
    val b = Curation.quotaCap(spark, sf, n = 3, salts = 1)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("stratifiedSample is deterministic and respects per-stratum thresholds") {
    val rates = Seq("en" -> "4000", "zh" -> "2000")
    val s1 = Curation.stratifiedSample(spark, sf, rates, "8000").collect()
    val s2 = Curation.stratifiedSample(spark, sf, rates, "8000").collect()
    assert(s1.toSeq == s2.toSeq) // pure function of the rows
    assert(s1.nonEmpty)
    s1.foreach { r =>
      val th = r.getAs[String]("lang") match {
        case "en" => "4000"; case "zh" => "2000"; case _ => "8000"
      }
      assert(r.getAs[String]("sample_key") < th)
    }
    // en is down-weighted vs the default strata: its keep-rate over the
    // full table must be below the unconditioned strata's
    val total = Ingest.table(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val kept = s1.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    val enRate = kept.getOrElse("en", 0).toDouble / total("en")
    val frRate = kept.getOrElse("fr", 0).toDouble / total("fr")
    assert(enRate < frRate)
  }

  test("decontaminate matches brute-force shingle intersection") {
    val docs = Ingest.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        TextDedup.shingles(split(col("text"), " "), 5).as("sh"))
    val ev = docs.filter(col("source") === "src0")
      .agg(array_distinct(flatten(collect_list(col("sh")))).as("evg"))
    val brute = docs.filter(col("source") =!= "src0")
      .crossJoin(ev)
      .select(col("doc_id"),
        size(array_intersect(col("sh"), col("evg"))).cast("long").as("n_hit"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Curation.decontaminate(spark, sf).collect()
    assert(got.nonEmpty && got.length == brute.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_hit_grams") == brute(id), s"doc $id")
      assert(r.getAs[Boolean]("contaminated") == (brute(id) > 0))
    }
    // non-degenerate on the synthetic corpus: some flagged, most clean
    val flagged = got.count(_.getAs[Boolean]("contaminated"))
    assert(flagged > 0 && flagged < got.length)
  }

  test("semanticDecontaminate matches a driver-side exact max-cosine " +
    "recompute; flags are internally consistent") {
    val got = Curation.semanticDecontaminate(spark, sf, threshold = 0.35)
      .collect()
    // one row per non-eval embedded doc, flag ⟺ max over threshold,
    // and hits ⟺ flag (max ≥ t exactly when some rsim ≥ t)
    got.foreach { r =>
      val mx = r.getAs[Double]("max_eval_sim")
      val contaminated = r.getAs[Boolean]("contaminated")
      assert(contaminated == (mx >= 0.35))
      assert((r.getAs[Long]("n_eval_hits") > 0L) == contaminated)
    }
    // exact recompute in the driver over the same join
    val srcs = Ingest.table(spark, sf, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val embs = graft.ext.Similarity.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .filter { case (id, _) => srcs.contains(id) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ev = embs.filter { case (id, _) => srcs(id) == "src0" }
    val expected = embs.filter { case (id, _) => srcs(id) != "src0" }
      .map { case (id, e) =>
        val sims = ev.map { case (eid, ee) =>
          (eid, BigDecimal(cos(e, ee)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        val best = sims.maxBy { case (eid, s) => (s, -eid) }
        id -> (best._2, best._1)
      }.toMap
    assert(got.length == expected.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Double]("max_eval_sim") == expected(id)._1, s"doc $id")
      assert(r.getAs[Long]("nearest_eval") == expected(id)._2, s"doc $id")
    }
    // non-degenerate fixture: some flagged, most clean
    val flagged = got.count(_.getAs[Boolean]("contaminated"))
    assert(flagged > 0 && flagged < got.length)
    // an eval source with no docs = empty panel: every training doc
    // must still appear, unflagged with a null max — the decontaminate
    // missing-evidence convention, never an empty frame
    val none = Curation.semanticDecontaminate(spark, sf,
      evalSource = "no_such_source").collect()
    assert(none.length == srcs.size)
    none.foreach { r =>
      assert(!r.getAs[Boolean]("contaminated"))
      assert(r.getAs[Long]("n_eval_hits") == 0L)
      assert(r.isNullAt(r.fieldIndex("max_eval_sim")))
    }
  }

  test("mixtureEpochs conserves the budget and caps consistently") {
    val budget = 100000L
    val rows = Curation.mixtureEpochs(spark, sf, budget).collect()
    assert(rows.nonEmpty)
    // per source: served + unmet = uniform target; capped ⟺ at the
    // 4-epoch ceiling ⟺ a positive deficit (strict except the exact
    // boundary, absent from this fixture)
    rows.foreach { r =>
      val target = r.getAs[Double]("target_tokens")
      val eff = r.getAs[Double]("effective_tokens")
      val deficit = r.getAs[Double]("deficit_tokens")
      assert(math.abs(eff + deficit - target) < 1e-6, r)
      assert(r.getAs[Boolean]("capped") ==
        (r.getAs[Double]("epochs") >= 4.0), r)
      assert(r.getAs[Boolean]("capped") == (deficit > 0.0), r)
      assert(r.getAs[Double]("epochs") > 0.0 &&
        r.getAs[Double]("epochs") <= 4.0, r)
    }
    // the fixture exercises BOTH regimes (budget chosen for it)
    assert(rows.exists(_.getAs[Boolean]("capped")) &&
      rows.exists(r => !r.getAs[Boolean]("capped")))
    // whole-plan conservation: targets sum to the budget
    assert(math.abs(rows.map(_.getAs[Double]("target_tokens")).sum
      - budget.toDouble) < 1e-3)
  }

  test("splitAssign is disjoint, exhaustive, and reshard-stable") {
    val total = Ingest.table(spark, sf, "documents").count()
    val s = Curation.splitAssign(spark, sf)
    assert(s.count() == total) // exhaustive, one split per doc
    val bySplit = s.groupBy("split").count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    assert(bySplit.values.sum == total)
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    // train dominates (~90% by hex-range construction)
    assert(bySplit("train") > total / 2)
    // assignment is a pure row function: resharding cannot move a doc
    val reshard = Curation.splitAssign(spark, sf)
      .repartition(7).orderBy(col("doc_id"))
    assert(s.exceptAll(reshard).isEmpty && reshard.exceptAll(s).isEmpty)
  }

  test("pretrainManifest equals the composition of its constituent " +
    "queries: curate keep set, decontam drops, src0 exclusion, splits") {
    val dir = "/root/testdata/sf0.001"
    // the registered pipeline_curate query's keep set (doc_id, lang,
    // n_tokens), re-derived here through the SAME constituent operators
    // the manifest claims to compose
    val curated = SparkEntry.queries("pipeline_curate")(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val srcOf = Ingest.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val contaminated = Curation.decontaminate(spark, dir)
      .filter(col("contaminated"))
      .select(col("doc_id"))
    val expected = curated
      .join(srcOf, Seq("doc_id"))
      .filter(col("source") =!= "src0")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(Curation.splitOf(col("doc_id")).as("split"), col("lang"),
        col("n_tokens"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
      .collect().toSeq.map(_.toSeq)
    val got = Curation.pretrainManifest(spark, dir)
      .collect().toSeq.map(_.toSeq)
    assert(got.nonEmpty && got == expected)
  }

  test("splitLeakage rows are exactly the cross-split near-dup pairs") {
    val pairs = TextDedup.nearDupPairs(spark, sf, 0.5)
      .select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val splitOfId = Curation.splitAssign(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val leaks = Curation.splitLeakage(spark, sf, 0.5).collect()
    leaks.foreach { r =>
      val (a, b) = (r.getAs[Long]("d1"), r.getAs[Long]("d2"))
      assert(pairs((a, b)), s"($a,$b) not a verified near-dup pair")
      // the recomputed split matches the assignment table's
      assert(r.getAs[String]("split1") == splitOfId(a))
      assert(r.getAs[String]("split2") == splitOfId(b))
      assert(r.getAs[String]("split1") != r.getAs[String]("split2"))
    }
    // completeness: every cross-split pair is reported
    val expected = pairs.count { case (a, b) => splitOfId(a) != splitOfId(b) }
    assert(leaks.length == expected)
  }

  test("incrementalDedup: verdict per new doc, matches only into the corpus") {
    val inc = TextDedup.incrementalDedup(spark, sf, 0.5).collect()
    val newIds = Ingest.table(spark, sf, "documents")
      .filter(col("doc_id") % 10 >= 8).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(inc.length == newIds.size)
    inc.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(newIds(id), s"$id is not a new-batch doc")
      val n = r.getAs[Long]("n_matches")
      val keep = r.getAs[Boolean]("keep")
      if (keep) {
        assert(n == 0L && r.isNullAt(r.fieldIndex("best_match")))
      } else {
        assert(n > 0L)
        val m = r.getAs[Long]("best_match")
        assert(!newIds(m), s"best match $m must come from the corpus side")
        assert(r.getAs[Double]("best_jaccard") >= 0.5)
      }
    }
    // non-degenerate: the synthetic corpus has both admitted and rejected
    assert(inc.exists(_.getAs[Boolean]("keep")))
    assert(inc.exists(!_.getAs[Boolean]("keep")))
  }

  test("maxRunCount equals the brute-force distinct-filter mode count") {
    import spark.implicits._
    // random-ish arrays with heavy repeats, plus edge shapes: singleton,
    // all-equal, all-distinct
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(40)
      i.toLong -> (0 until n).map(_ => s"t${rnd.nextInt(6)}")
    } ++ Seq(200L -> Seq("x"), 201L -> Seq.fill(17)("y"),
      202L -> (0 until 23).map(j => s"u$j"))
    val df = rows.toDF("id", "arr")
      .withColumn("fast", graft.ext.TextAnalysis.maxRunCount(col("arr")))
      .withColumn("brute", array_max(transform(array_distinct(col("arr")),
        g => size(filter(col("arr"), x => x === g)))))
    assert(df.filter(col("fast") =!= col("brute")).isEmpty)
  }

  test("repetition flags a degenerate doc and keeps a diverse one") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val metrics = TextAnalysis.repetition(spark, sf).collect()
    assert(metrics.length ==
      Ingest.table(spark, sf, "documents").count())
    metrics.foreach { r =>
      val top = r.getAs[Double]("top_bigram_frac")
      val dup = r.getAs[Double]("dup_trigram_frac")
      assert(top > 0 && top <= 1.0 && dup >= 0 && dup < 1.0)
      assert(r.getAs[Boolean]("keep_repetition") == (top <= 0.06 && dup <= 0.02))
    }
    // hand-built extremes through the same column pipeline
    val probe = Seq(
      0L -> ("spam spam spam spam spam spam spam spam spam spam"),
      1L -> ("one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val w = split(col("text"), " ")
    val bg = transform(sequence(lit(1), greatest(size(w) - 1, lit(1))),
      i => concat_ws(" ", slice(w, i, lit(2))))
    val res = probe.select(col("doc_id"),
      (array_max(transform(array_distinct(bg),
        g => size(filter(bg, x => x === g)))).cast("double") / size(bg))
        .as("top"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(res(0L) == 1.0) // all bigrams identical
    assert(res(1L) < 0.2)  // all bigrams distinct
  }

  test("packGreedy block prefix sum equals the global running sum at any block size") {
    val global = Ingest.table(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(
        Window.orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)),
        lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        (col("tok_offset") / 256).cast("long").as("first_bin"),
        ((col("tok_offset") + col("n_tokens") - 1) / 256).cast("long")
          .as("last_bin"))
    for (bs <- Seq(1L, 7L, 100L, 1000000L)) {
      val packed = Curation.packGreedy(spark, sf, ctx = 256, blockSize = bs)
      assert(packed.exceptAll(global).isEmpty &&
        global.exceptAll(packed).isEmpty, s"blockSize=$bs")
    }
    // offsets tile the concatenated corpus exactly
    val rows = Curation.packGreedy(spark, sf).orderBy("doc_id").collect()
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("tok_offset") + a.getAs[Long]("n_tokens") ==
          b.getAs[Long]("tok_offset"))
      case _ =>
    }
  }

  test("chunkWindows covers every token with the stride convention") {
    import graft.ext.TextAnalysis
    val chunks = TextAnalysis.chunkWindows(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val lens = Ingest.table(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks.keySet == lens.keySet)
    chunks.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_.getAs[Long]("chunk_no"))
      assert(sorted.head.getAs[Long]("start_tok") == 1L)
      // starts advance by the stride; every chunk is non-empty and the
      // last one reaches the document end
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getAs[Long]("start_tok") -
          a.getAs[Long]("start_tok") == 48L)
        case _ =>
      }
      val last = sorted.last
      assert(last.getAs[Long]("start_tok") + last.getAs[Long]("n_chunk_tokens") - 1
        == lens(doc))
      sorted.foreach(r => assert(r.getAs[Long]("n_chunk_tokens") > 0))
    }
  }

  test("chunkWindows matches the reference chunk math on random lengths") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val rnd = new scala.util.Random(7)
    // random doc lengths incl. the boundary cases around window/stride
    val lens = Seq(1, 2, 47, 48, 49, 63, 64, 65, 95, 96, 97) ++
      Seq.fill(40)(1 + rnd.nextInt(300))
    val docs = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map(j => s"t$j").mkString(" ")) }
      .toDF("doc_id", "text")
    for ((window, stride) <- Seq((64, 48), (10, 10), (5, 3))) {
      val got = TextAnalysis.chunkWindowsOf(docs, window, stride)
        .select("doc_id", "chunk_no", "start_tok", "n_chunk_tokens")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = lens.zipWithIndex.flatMap { case (n, i) =>
        val nChunks = (n + stride - 1) / stride
        (0 until nChunks).map { c =>
          val start = c * stride + 1
          (i.toLong, c.toLong, start.toLong,
            math.min(window, n - start + 1).toLong)
        }
      }.toSet
      assert(got == want, s"window=$window stride=$stride")
    }
  }

  test("mixture weights close the loop: emitted thresholds rebalance the sample") {
    val targets = Seq("en" -> 0.125, "de" -> 0.25, "es" -> 0.25,
      "fr" -> 0.25, "zh" -> 0.125)
    val w = Curation.mixtureWeights(spark, sf, targets).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Double]("sample_rate"), r.getAs[String]("sample_threshold"))).toMap
    // over-represented langs are down-weighted, under-represented kept whole
    assert(w("en")._1 < 1.0 && w("en")._2 != "zzzz")
    assert(w("de")._1 == 1.0 && w("de")._2 == "zzzz")
    // feed the emitted thresholds straight into the sampler
    val rates = w.toSeq.map { case (l, (_, th)) => l -> th }
    val sampled = Curation.stratifiedSample(spark, sf, rates, "zzzz")
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val before = Ingest.table(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    // whole-kept languages survive intact; down-weighted language shrinks
    // by roughly its rate (Bernoulli on ~180 docs — generous tolerance)
    assert(sampled("de") == before("de"))
    val enRate = sampled("en").toDouble / before("en")
    assert(enRate < 0.6, s"en kept rate $enRate, expected ~${w("en")._1}")
  }

  test("custom WordShingles matches the HOF formulation at n=5") {
    import spark.implicits._
    val df = Seq("a b c d e f g", "a b", "x", "a a a a a a").toDF("text")
    val fast = df.select(TextDedup.shingles(split(col("text"), " "), 5).as("sh"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    val slow = df.select(TextDedup.shinglesViaHof(split(col("text"), " "), 5).as("sh"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(fast == slow)
  }

  test("segmentDedup keeps exactly one copy of every segment, first occurrence") {
    val got = TextDedup.segmentDedup(spark, sf, k = 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // recompute the expected keeper set brute-force on the driver
    val w = Ingest.table(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" "))
    val all = w.flatMap { case (id, toks) =>
      toks.grouped(5).zipWithIndex.map { case (seg, i) =>
        (id, i.toLong, seg.mkString(" "))
      }
    }
    val keeper = all.groupBy(_._3).map { case (_, occ) =>
      occ.minBy(o => (o._1, o._2))
    }.map(o => (o._1, o._2)).toSet
    val expKept = all.groupBy(_._1).view.mapValues(
      _.count(o => keeper.contains((o._1, o._2))).toLong).toMap
    val expSegs = all.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(got.keySet == expSegs.keySet)
    got.foreach { case (id, r) =>
      assert(r.getAs[Long]("n_segs") == expSegs(id), s"n_segs doc $id")
      assert(r.getAs[Long]("n_kept") == expKept(id), s"n_kept doc $id")
      assert(r.getAs[Long]("n_dropped") == expSegs(id) - expKept(id))
    }
    // something must actually dedup at sf0.001 (exact doc copies exist)
    assert(got.values.map(_.getAs[Long]("n_dropped")).sum > 0)
  }

  test("redactPii scrubs every injected pattern and counts each hit") {
    import spark.implicits._
    val df = Seq(
      (0, "mail me at bob@example.org or alice.smith@sub.domain.io now"),
      (1, "server 192.168.0.1 and 10.0.0.255 plus card 4111111111111111"),
      (2, "call +1-555-0199 or +44-555-0123 ip 1.2.3.4"),
      (3, "clean text with no pii at all")).toDF("id", "t")
    val out = Curation.redactPii(col("t"))
    val rows = df.select(col("id") +: out.head.as("red") +: out(1).as("ne") +:
      out(2).as("ni") +: out(3).as("nc") +: out(4).as("np") +: Nil: _*)
      .orderBy(col("id")).collect()
    assert(rows(0).getAs[String]("red") ==
      "mail me at <EMAIL> or <EMAIL> now")
    assert(rows(0).getAs[Long]("ne") == 2)
    assert(rows(1).getAs[String]("red") ==
      "server <IP> and <IP> plus card <CARD>")
    assert(rows(1).getAs[Long]("ni") == 2 && rows(1).getAs[Long]("nc") == 1)
    assert(rows(2).getAs[String]("red") == "call <PHONE> or <PHONE> ip <IP>")
    assert(rows(2).getAs[Long]("np") == 2 && rows(2).getAs[Long]("ni") == 1)
    assert(rows(3).getAs[String]("red") == "clean text with no pii at all")
    assert(rows(3).getAs[Long]("ne") == 0 && rows(3).getAs[Long]("ni") == 0 &&
      rows(3).getAs[Long]("nc") == 0 && rows(3).getAs[Long]("np") == 0)
  }

  test("unigramLm matches a driver-side brute-force model") {
    val docs = Ingest.table(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" "))
    val cnt = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong)
    val total = cnt.values.sum
    val got = graft.ext.TextAnalysis.unigramLm(spark, sf).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val toks = docs.toMap.apply(r.getAs[Long]("doc_id"))
      val sumCnt = toks.map(cnt).sum
      assert(r.getAs[Long]("n_tokens") == toks.length)
      assert(r.getAs[Long]("sum_cnt") == sumCnt)
      assert(r.getAs[Long]("min_cnt") == toks.map(cnt).min)
      assert(r.getAs[Long]("n_rare") == toks.count(t => cnt(t) * 1000L < total))
    }
  }

  test("dsirWeights ranks target-language docs above the corpus-typical") {
    val got = Curation.dsirWeights(spark, sf).collect()
    assert(got.nonEmpty)
    // weights are positive and finite; en docs average above non-en
    val (en, rest) = got.partition(_.getAs[String]("lang") == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    got.foreach { r =>
      val wt = r.getAs[Double]("weight")
      assert(wt > 0 && !wt.isInfinite, r.toString)
      assert(r.getAs[Boolean]("target_like") == (wt > 1.0))
    }
    val enAvg = en.map(_.getAs[Double]("weight")).sum / en.length
    val restAvg = rest.map(_.getAs[Double]("weight")).sum / rest.length
    assert(enAvg > restAvg,
      s"en avg $enAvg should exceed non-en avg $restAvg")
  }

  test("attrition funnel: monotone stages that reconcile with the " +
    "operators each stage reuses") {
    val rows = Curation.attritionFunnel(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "raw"), (1L, "exact_dedup"), (2L, "near_dedup"),
        (3L, "quality_gate"), (4L, "decontam")))
    val docs = rows.map(_.getAs[Long]("n_docs"))
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    docs.sliding(2).foreach { case Array(a, b) => assert(a >= b); case _ => }
    toks.sliding(2).foreach { case Array(a, b) => assert(a >= b); case _ => }
    // stage reconciliation against the registered operators
    assert(docs(0) == Ingest.table(spark, sf, "documents").count())
    assert(docs(1) == TextDedup.exactGroups(spark, sf).count())
    // pipeline_curate applies exactly the funnel's first three cuts
    assert(docs(3) ==
      SparkEntry.queries("pipeline_curate")(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Double]("kept_docs_frac") ==
        r.getAs[Long]("n_docs").toDouble / docs(0))
      assert(r.getAs[Double]("kept_tokens_frac") ==
        r.getAs[Long]("n_tokens").toDouble / toks(0))
    }
    // decontam stage can only remove docs relative to the gate stage
    // restricted to non-eval sources
    assert(docs(4) <= docs(3))
  }

  /** Driver-side reference for the priority-sampling draw: the same
    * md5("pri:"+doc_id) 32-bit draw, quantized key, and raw priority
    * the operator computes, but in plain JVM arithmetic — independent
    * of Spark's sort/limit machinery.
    */
  private def priorityRef(): Seq[(Long, Long, Long, Long, Double)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Ingest.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect().toIndexedSeq
      .map { r =>
        val id = r.getLong(0)
        // Spark's split keeps trailing empties (limit -1), unlike
        // Java's default split
        val w = r.getString(1).split(" ", -1).length.toLong
        val hex = md.digest(s"pri:$id".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        val v1 = java.lang.Long.parseLong(hex, 16) + 1L
        (id, w, v1, (v1 * 1048576L) / w, w.toDouble * 4294967296.0 / v1)
      }
  }

  test("priority sampling: the admitted set, ranks, tau, and estimator " +
    "weights all match a driver-side DLT reference") {
    val k = 20
    val ref = priorityRef().sortBy(t => (t._4, t._1))
    val tauRaw = ref(k)._5
    val got = Curation.samplePriority(spark, sf, k).collect()
    assert(got.length == k)
    assert(got.map(_.getLong(0)).distinct.length == k,
      "sample must be without replacement")
    got.zip(ref.take(k)).zipWithIndex.foreach {
      case ((row, (id, w, v1, key, p)), i) =>
        assert(row.getLong(0) == id, s"rank ${i + 1} doc")
        assert(row.getAs[Long]("n_tokens") == w)
        assert(row.getAs[Long]("draw") == v1)
        assert(row.getAs[Long]("pkey") == key)
        assert(row.getAs[Long]("rank") == i + 1L)
        // tolerance = the round-6 quantum; the bit-exact cross-engine
        // guarantee is the oracle's job, this pins the formula
        assert(math.abs(row.getAs[Double]("priority") - p) < 2e-6)
        assert(math.abs(row.getAs[Double]("est_weight") -
          math.max(w.toDouble, tauRaw)) < 2e-6)
    }
    // every admitted priority is >= tau (the k highest priorities ARE
    // the sample — DLT's defining property, modulo the documented
    // 20-bit key quantization, which the key comparison reflects)
    val tauKey = ref(k)._4
    assert(got.forall(_.getAs[Long]("pkey") <= tauKey))
  }

  test("priority sampling degenerates to the whole corpus with tau 0 " +
    "when k exceeds the corpus") {
    val n = Ingest.table(spark, sf, "documents").count().toInt
    val got = Curation.samplePriority(spark, sf, k = n + 50).collect()
    assert(got.length == n)
    got.foreach { r =>
      assert(r.getAs[Double]("tau") == 0.0)
      // no threshold: the estimator is the weight itself
      assert(r.getAs[Double]("est_weight") ==
        r.getAs[Long]("n_tokens").toDouble)
    }
  }
}
