package graft

import org.apache.spark.sql.functions._

import graft.ext.{Multimodal, Similarity, TextAnalysis, TextDedup}

/** Unit tests for the extension operators on hand-built inputs (the
  * oracle covers them on real testdata; these pin the algebraic
  * invariants).
  */
class ExtSpec extends SparkTestBase {
  import spark.implicits._

  test("bpe pair counts: in-word adjacent pairs + word-final </w>, " +
    "1-char words contribute only the terminal pair, multibyte intact") {
    val docs = Seq((1L, "ab ab a 日本")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.bpePairCountsOf(docs, 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // "ab" ×2 → pair "ab" ×2, terminal "b</w>" ×2; "a" → only "a</w>";
    // "日本" → pair "日本", terminal "本</w>"
    val expected = Seq("ab" -> 2L, "b</w>" -> 2L, "a</w>" -> 1L,
      "日本" -> 1L, "本</w>" -> 1L)
      .sortBy { case (p, c) => (-c, p) }
    assert(got == expected, s"got $got")
  }

  test("lm buckets: tertiles partition each language, sizes within one, " +
    "head scores dominate tail") {
    val got = TextAnalysis.lmBuckets(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3),
        r.getLong(4), r.getString(5)))
    val nDocs = graft.ops.Ingest.table(spark, "/root/testdata/sf0.001",
      "documents").count()
    assert(got.length.toLong == nDocs) // every doc bucketed exactly once
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_._5).view.mapValues(_.length).toMap
      assert(Set("head", "middle", "tail").subsetOf(sizes.keySet) ||
        rows.length < 3, lang)
      if (rows.length >= 3)
        assert(sizes.values.max - sizes.values.min <= 1, s"$lang $sizes")
      // ranks are a dense 1..n permutation within the language
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq, lang)
      val headMin = rows.filter(_._5 == "head").map(_._3).min
      val tailMax = rows.filter(_._5 == "tail").map(_._3).max
      assert(headMin >= tailMax, lang)
    }
  }

  test("shingles: distinct 3-gram word windows; short docs degrade to one") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextDedup.shingles(split(col("text"), " "), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0).toSeq)
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1) == Seq("a b"))
  }

  test("custom WordShingles matches the HOF formulation incl. dup windows") {
    val df = Seq("a b c d", "a b", "x", "a a a a a", "p q p q p q")
      .toDF("text")
    val fast = df.select(TextDedup.shingles(split(col("text"), " "), 3).as("sh"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    val slow = df.select(TextDedup.shinglesViaHof(split(col("text"), " "), 3).as("sh"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(fast == slow)
  }

  test("identical texts get identical minhash signatures and band hashes") {
    val docs = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      TextDedup.shingles(split(col("text"), " "), 3).as("shingles"))
    // reuse the signature construction through a temp dir-free path:
    val sigs = (0 until TextDedup.numHashes).foldLeft(
      sh.withColumn("h1", transform(col("shingles"), s => md5(s)))
        .withColumn("h2", transform(col("shingles"), s => md5(concat(lit("x:"), s))))
    ) { (df, j) =>
      val src = if (j < 4) col("h1") else col("h2")
      df.withColumn(s"sig$j", array_min(transform(src,
        h => substring(h, (j % 4) * 8 + 1, 8))))
    }
    val rows = sigs.orderBy("doc_id").collect()
    val sigCols = (0 until TextDedup.numHashes).map(j => s"sig$j")
    val s1 = sigCols.map(c => rows(0).getAs[String](c))
    val s2 = sigCols.map(c => rows(1).getAs[String](c))
    val s3 = sigCols.map(c => rows(2).getAs[String](c))
    assert(s1 == s2)
    assert(s1 != s3)
  }

  test("cosine similarity: self=1, orthogonal=0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b")).as("s"))
      .as[Double].collect()
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
  }

  test("custom DotDouble matches the HOF formulation bit-for-bit") {
    val e = Similarity.embeddings(spark, "/root/testdata/sf0.001")
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val pairs = a.crossJoin(
        e.select(col("vec_id").as("v2"), col("embedding").as("e2")))
      .filter(col("v1") < col("v2") && col("v2") - col("v1") <= 3)
    val diffs = pairs.select(
        Similarity.dot(col("e1"), col("e2")).as("k"),
        Similarity.dotViaHof(col("e1"), col("e2")).as("h"))
      .filter(col("k") =!= col("h")) // bitwise: no tolerance
      .count()
    assert(diffs == 0)
    // mixed float/double inputs (plane literals) agree too
    val plane = array(Similarity.planeVectors(1, 64).head.map(lit): _*)
    val d2 = e.select(Similarity.dot(col("embedding"), plane).as("k"),
        Similarity.dotViaHof(col("embedding"), plane).as("h"))
      .filter(col("k") =!= col("h")).count()
    assert(d2 == 0)
  }

  test("random projection: each column is the per-plane dot, row-complete") {
    val dir = "/root/testdata/sf0.001"
    val proj = Similarity.projectRandom(spark, dir, 4)
    assert(proj.columns.toSeq == Seq("vec_id", "p0", "p1", "p2", "p3"))
    assert(proj.count() == Similarity.embeddings(spark, dir).count())
    // parity vs the HOF formulation of the same plane dots
    val planes = Similarity.planeVectors(4, 64)
    val hof = Similarity.embeddings(spark, dir).select(
      col("vec_id") +: planes.zipWithIndex.map { case (r, j) =>
        round(Similarity.dotViaHof(col("embedding"),
          array(r.map(lit): _*)), 6).as(s"p$j")
      }: _*)
    assert(proj.except(hof).count() == 0 && hof.except(proj).count() == 0)
  }

  test("unk mask: tokens are vocab-or-unk, count preserved, n_unk exact") {
    val dir = "/root/testdata/sf0.001"
    val v = 16
    val vocab = TextAnalysis.vocabTopK(spark, dir, v)
      .select("token").as[String].collect().toSet
    val out = TextAnalysis.unkMask(spark, dir, v)
      .withColumn("toks", split(col("text_masked"), " "))
    // every emitted token is in-vocab or the sentinel
    val alien = out.select(explode(col("toks")).as("t"))
      .filter(!col("t").isin((vocab + "<unk>").toSeq: _*)).count()
    assert(alien == 0)
    // token count preserved and n_unk counts exactly the sentinels
    val bad = out
      .join(TextAnalysis.documents(spark, dir), Seq("doc_id"))
      .filter(size(col("toks")) =!= size(split(col("text"), " ")) ||
        col("n_unk") =!= size(filter(col("toks"), t => t === "<unk>")))
      .count()
    assert(bad == 0)
    assert(out.filter(col("n_unk") > 0).count() > 0)
  }

  test("LSH embedding near-dup: a verified subset of exact all-pairs") {
    val dir = "/root/testdata/sf0.001"
    val lsh = Similarity.lshNearDupPairs(spark, dir, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    val e = Similarity.embeddings(spark, dir)
    val brute = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
      .crossJoin(e.select(col("vec_id").as("v2"), col("embedding").as("e2")))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(Similarity.cosine(col("e1"), col("e2")), 6).as("cos"))
      .filter(col("cos") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH pair is a true near-dup with the exact same cosine;
    // recall < 1 is inherent to banding (geometry decides, not labels)
    assert(lsh.keySet.subsetOf(brute.keySet))
    assert(lsh.forall { case (k, c) => brute(k) == c })
    assert(lsh.size >= brute.size / 10) // sanity floor on recall
  }

  test("multimodal decode stub is deterministic and distributed") {
    val feats = Multimodal.extractFeatures(spark, "/root/testdata/sf0.001")
      .collect()
    assert(feats.length == 500)
    val byId = feats.map(f => f.media_id -> f).toMap
    // re-run yields identical checksums (determinism)
    val feats2 = Multimodal.extractFeatures(spark, "/root/testdata/sf0.001")
      .collect().map(f => f.media_id -> f.checksum).toMap
    assert(feats.forall(f => feats2(f.media_id) == f.checksum))
    // kinds partition by doc_id % 3 and frames follow the kind rule
    assert(byId(0L).kind == "image" && byId(0L).frames == 1)
    assert(byId(1L).kind == "audio")
    assert(byId(2L).kind == "video" &&
      byId(2L).frames == (byId(2L).n_bytes / 64 + 1).toInt)
  }

  test("resize stub: bounded strided decimation, composes with decode") {
    val dir = "/root/testdata/sf0.001"
    // oracle precondition: the corpus is ASCII (char pos == byte pos)
    assert(graft.ext.TextAnalysis.documents(spark, dir)
      .filter(octet_length(col("text")) =!= length(col("text"))).count() == 0)
    val r = Multimodal.resize(spark, dir, 100).collect()
    assert(r.nonEmpty && r.forall(m =>
      m.n_bytes <= 100 && m.payload.length == m.n_bytes))
    // a large-enough budget is the identity transform
    val big = Multimodal.resize(spark, dir, 1 << 20).collect()
      .map(m => m.media_id -> m.payload.toSeq).toMap
    val orig = Multimodal.mediaTable(spark, dir).collect()
    assert(orig.forall(m => big(m.media_id) == m.payload.toSeq))
    // binary out feeds the decoder directly — one narrow pass
    import spark.implicits._
    val feats = Multimodal.resize(spark, dir, 100)
      .mapPartitions(Multimodal.decodeStub).collect()
    assert(feats.length == orig.length)
  }

  test("phash stub equals a naive driver reference (incl. payloads " +
    "shorter than 64 bytes); identical payloads pair at hamming 0") {
    // seeded reference over raw byte payloads — empty buckets (short
    // payloads) must pack bit 0, the oracle's LEFT JOIN case
    val rnd = new scala.util.Random(59)
    val payloads = (0 until 60).map { i =>
      val n = if (i % 3 == 0) rnd.nextInt(50) + 1 else rnd.nextInt(300) + 64
      (i.toLong, Array.fill(n)(rnd.nextInt(256).toByte))
    }
    def naive(p: Array[Byte]): String = {
      val s = new Array[Long](64); val c = new Array[Long](64)
      var ts = 0L
      p.indices.foreach { i =>
        val v = (p(i) & 0xff).toLong; s(i % 64) += v; c(i % 64) += 1; ts += v
      }
      (0 until 16).map { ni =>
        val nv = (0 until 4).map { k =>
          val j = 4 * ni + k
          if (s(j) * p.length > ts * c(j)) 8 >> k else 0
        }.sum
        "0123456789abcdef".charAt(nv)
      }.mkString
    }
    val got = Multimodal.phashStub(payloads.iterator.map { case (id, p) =>
      Multimodal.MediaRow(id, "image", p, p.length.toLong)
    }).map(h => h.media_id -> h.phash).toMap
    payloads.foreach { case (id, p) =>
      assert(got(id) == naive(p), s"payload $id")
    }
    // corpus-level: deterministic, 16 lowercase hex per row; identical
    // payloads (same doc text) would pair at hamming 0 via the shared
    // simhash machinery — pinned by the pairs query being reflexive-free
    val dir = "/root/testdata/sf0.001"
    val hx = Multimodal.phash(spark, dir).collect()
    assert(hx.length == 500 &&
      hx.forall(_.getString(2).matches("[0-9a-f]{16}")))
    val pairs = Multimodal.phashPairs(spark, dir, 3).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1) &&
      r.getInt(2) <= 3))
  }

  test("simhash: equal texts hash equal; hamming of a doc with itself is 0") {
    import graft.ext.TextDedup
    val hx = TextDedup.simhash(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 2).collect()
    assert(hx.forall(_.getAs[String]("simhash").length == 16))
  }

  test("custom SimHash64 expression matches the HOF formulation bit-for-bit") {
    import graft.ext.TextDedup
    val dir = "/root/testdata/sf0.001"
    val fast = TextDedup.simhash(spark, dir).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val slow = TextDedup.simhashViaHof(spark, dir).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(fast.toSeq == slow.toSeq)
  }

  test("IVF: probing all cells reproduces brute force; recall rises with nProbe") {
    val dir = "/root/testdata/sf0.001"
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ids(Similarity.bruteForceTopK(spark, dir, nQueries = 10, k = 3))
    // nProbe = nCentroids ⇒ every cell searched ⇒ IVF must equal exact
    val allCells = ids(Similarity.ivfTopK(spark, dir, 10, 16, nProbe = 16, k = 3))
    assert(allCells == exact)
    def recall(s: Set[(Long, Long)]): Double =
      (s & exact).size.toDouble / exact.size
    val r2 = recall(ids(Similarity.ivfTopK(spark, dir, 10, 16, nProbe = 2, k = 3)))
    val r8 = recall(ids(Similarity.ivfTopK(spark, dir, 10, 16, nProbe = 8, k = 3)))
    assert(r8 >= r2) // nProbe is the recall knob
    assert(r2 > 0.2, s"recall@3 with nProbe=2 collapsed: $r2")
  }

  test("annMrr: rr is the reciprocal of the hit rank, 0 on a miss, and " +
    "a full probe scores a perfect 1.0 everywhere") {
    val dir = "/root/testdata/sf0.001"
    val partial = Similarity.annMrr(spark, dir, nQueries = 10,
      nCentroids = 16, nProbe = 2, k = 3).collect()
    assert(partial.length == 10)
    partial.foreach { r =>
      val hr = r.getAs[Long]("hit_rank")
      val rr = r.getAs[Double]("rr")
      if (hr == 0L) assert(rr == 0.0, r)
      else assert(rr == BigDecimal(1.0 / hr).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, r)
    }
    // searching every cell is exact: the true top-1 is always rank 1
    val full = Similarity.annMrr(spark, dir, nQueries = 10,
      nCentroids = 16, nProbe = 16, k = 3).collect()
    assert(full.length == 10 && full.forall(r =>
      r.getAs[Long]("hit_rank") == 1L && r.getAs[Double]("rr") == 1.0))
  }

  test("hard negatives: label-disjoint, rank-consistent, and equal to a " +
    "driver-side exact recompute") {
    val dir = "/root/testdata/sf0.001"
    val got = Similarity.hardNegatives(spark, dir, nAnchors = 10, k = 3)
      .collect()
    // every emitted pair crosses labels; sides respect the panel split
    got.foreach { r =>
      assert(r.getInt(r.fieldIndex("q_label")) != r.getInt(r.fieldIndex("c_label")))
      assert(r.getLong(r.fieldIndex("qid")) < 10L)
      assert(r.getLong(r.fieldIndex("cid")) >= 10L)
    }
    // ranks are 1..k per anchor with non-increasing sims
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getLong(rows.head.fieldIndex("rank")))
      assert(byRank.map(_.getLong(byRank.head.fieldIndex("rank"))).toSeq ==
        (1L to byRank.length.toLong))
      val sims = byRank.map(_.getDouble(byRank.head.fieldIndex("sim")))
      assert(sims.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    }
    // independent exact recompute in the driver
    val all = Similarity.embeddings(spark, dir).collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2))
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = all.filter(_._1 < 10).flatMap { case (qid, qe, ql) =>
      all.filter(c => c._1 >= 10 && c._3 != ql)
        .map { case (cid, ce, _) => (qid, cid, cos(qe, ce)) }
        .sortBy { case (_, cid, s) => (-s, cid) }.take(3)
        .zipWithIndex.map { case ((_, cid, _), i) => (qid, cid, i + 1L) }
    }.toSet
    assert(got.map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
      == expected)
  }

  test("gopher rules: keep is the AND of the seven flags, flags agree " +
    "with the integer ratios they summarize") {
    val rows = TextAnalysis.gopherRules(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flags = Seq("r_words", "r_meanlen", "r_symbol", "r_alpha",
        "r_bullet", "r_ellipsis", "r_stop").map(f => r.getBoolean(r.fieldIndex(f)))
      assert(r.getBoolean(r.fieldIndex("keep")) == flags.forall(identity))
      val nWords = r.getLong(r.fieldIndex("n_words"))
      // flag vs displayed ratio consistency (integer decision, rounded display)
      val sym = r.getDouble(r.fieldIndex("symbol_ratio"))
      if (sym > 0.100001) assert(!r.getBoolean(r.fieldIndex("r_symbol")))
      if (sym < 0.099999) assert(r.getBoolean(r.fieldIndex("r_symbol")))
      assert(r.getBoolean(r.fieldIndex("r_words")) ==
        (nWords >= 30 && nWords <= 90))
      // the pure a-z corpus: every word alphabetic, no symbols
      assert(r.getDouble(r.fieldIndex("alpha_frac")) == 1.0)
      assert(sym == 0.0)
    }
    // the gate must actually split the corpus (not all-pass/all-fail)
    val keeps = rows.count(_.getBoolean(rows.head.fieldIndex("keep")))
    assert(keeps > 0 && keeps < rows.length)
  }

  test("cluster-balanced sample: per-cell cap respected, small cells " +
    "kept whole, kept count is sum of min(cell_n, cap)") {
    val dir = "/root/testdata/sf0.001"
    val cap = 3
    val kept = Similarity.clusterBalancedSample(spark, dir, nQueries = 10,
      nCentroids = 16, cap = cap).collect()
    assert(kept.nonEmpty)
    val byCell = kept.groupBy(_.getLong(0))
    byCell.foreach { case (cell, rows) =>
      assert(rows.length <= cap, s"cell $cell exceeds cap")
      // ranks are 1..k dense within the cell
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to rows.length).toSeq)
      // cell_n is constant per cell and >= kept count
      val ns = rows.map(_.getLong(3)).distinct
      assert(ns.length == 1 && ns.head >= rows.length)
      // a cell smaller than the cap is kept WHOLE
      if (ns.head < cap) assert(rows.length == ns.head)
      else assert(rows.length == cap)
    }
    // total = sum of min(cell_n, cap) over populated cells
    val expected = byCell.values.map(r => math.min(r.head.getLong(3), cap)).sum
    assert(kept.length == expected)
    // deterministic across invocations
    val again = Similarity.clusterBalancedSample(spark, dir, nQueries = 10,
      nCentroids = 16, cap = cap).collect()
    assert(kept.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("embedding health report: one row, ordered quantiles, clean " +
    "table attested") {
    val r = Similarity.embStats(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(row.fieldIndex("n_dims")) == 1L)
    assert(row.getLong(row.fieldIndex("dim_min")) ==
      row.getLong(row.fieldIndex("dim_max")))
    assert(row.getLong(row.fieldIndex("n_zero")) == 0L)
    val (p10, p50, p90) = (row.getDouble(row.fieldIndex("p10_norm")),
      row.getDouble(row.fieldIndex("p50_norm")),
      row.getDouble(row.fieldIndex("p90_norm")))
    assert(p10 <= p50 && p50 <= p90)
  }

  test("banding recall: truth pairs meet the threshold, found flags " +
    "agree with the candidate function") {
    val dir = "/root/testdata/sf0.001"
    val rows = TextDedup.bandingRecall(spark, dir, nPanel = 50,
      threshold = 0.5).collect()
    val cands = TextDedup.candidatePairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      assert(d1 < d2)
      assert(r.getDouble(r.fieldIndex("jaccard")) >= 0.5)
      assert(r.getBoolean(r.fieldIndex("found")) == cands.contains((d1, d2)))
    }
    // every truth pair involves a panel doc
    rows.foreach(r => assert(r.getLong(0) < 50))
  }

  test("langid confusion sums to the corpus and matches the langId frame") {
    val dir = "/root/testdata/sf0.001"
    val cm = SparkEntry.queries("langid_confusion")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val docs = graft.ops.Ingest.table(spark, dir, "documents")
    assert(cm.values.sum == docs.count())
    val direct = graft.ext.TextAnalysis.langId(spark, dir)
      .groupBy("lang", "lang_guess").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cm == direct)
  }

  test("ann recall: probing every cell gives recall 1.0; recall stays " +
    "in [0,1] and counts its own hits") {
    val dir = "/root/testdata/sf0.001"
    val all = Similarity.annRecall(spark, dir, nQueries = 10,
      nCentroids = 16, nProbe = 16, k = 3).collect()
    assert(all.nonEmpty)
    // nProbe = nCentroids => the IVF search IS brute force => recall 1
    all.foreach { r =>
      assert(r.getDouble(r.fieldIndex("recall")) == 1.0, r.toString)
      assert(r.getLong(r.fieldIndex("n_hits")) ==
        r.getLong(r.fieldIndex("k_exact")))
    }
    val narrow = Similarity.annRecall(spark, dir, nQueries = 10,
      nCentroids = 16, nProbe = 2, k = 3).collect()
    narrow.foreach { r =>
      val rec = r.getDouble(r.fieldIndex("recall"))
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getLong(r.fieldIndex("n_hits")) <=
        r.getLong(r.fieldIndex("k_exact")))
    }
  }

  test("hybrid rerank: output is a cosine-ordered subset of the BM25 pool") {
    val dir = "/root/testdata/sf0.001"
    val terms = Seq("spark", "table", "stream")
    val out = Similarity.hybridRerank(spark, dir, terms, rf = 20, k = 5)
      .collect()
    assert(out.length == 5)
    val pool = graft.ext.TextAnalysis.relevanceTopK(spark, dir, terms, 20)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    out.foreach(r => assert(pool.contains(r.getLong(r.fieldIndex("doc_id")))))
    // ranks dense 1..5, sims non-increasing with rank
    assert(out.map(_.getLong(out.head.fieldIndex("rank"))).sorted.toSeq ==
      (1L to 5L))
    val sims = out.sortBy(_.getLong(out.head.fieldIndex("rank")))
      .map(_.getDouble(out.head.fieldIndex("sim")))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("IVF k-means training is deterministic across invocations") {
    val dir = "/root/testdata/sf0.001"
    val emb = Similarity.embeddings(spark, dir)
    val c1 = Similarity.trainIvfCentroids(emb, 10, 16, iters = 2, sampleMod = 3)
    val c2 = Similarity.trainIvfCentroids(emb, 10, 16, iters = 2, sampleMod = 3)
    assert(c1.length == 16)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // training moved at least one centroid off its seed
    val seeds = emb.filter(col("vec_id") >= 10 && col("vec_id") < 26)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(f =>
        math.floor(f.toDouble * 1e6 + 0.5) / 1e6).toSeq)
    assert(c1.map(_.toSeq).toSeq != seeds.toSeq)
  }

  test("int8 quantization: range, half-step error bound, zero-vector guard") {
    import org.apache.spark.sql.functions.col
    val emb = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector
      (3L, Array(3.0f))).toDF("vec_id", "embedding")
    val ints = emb.select(col("vec_id"),
      Similarity.quantizedInts(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(ints(1) == Seq(64L, -127L, 32L, 0L)) // 0.5*127=63.5 → 64 half-up
    assert(ints(2) == Seq(0L, 0L, 0L, 0L))
    assert(ints(3) == Seq(127L))
    val rows = Similarity.quantizeInt8Of(emb).collect()
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_err")
      // nearest-with-half-up ⇒ reconstruction error ≤ half a step
      assert(err <= scale / 254.0 + 1e-12, s"vec ${r.getLong(0)}: $err > ${scale / 254.0}")
    }
    assert(rows.forall(_.getAs[String]("q_md5").length == 32))
  }

  test("IVF training sample is bounded by sampleCap regardless of corpus size") {
    import spark.implicits._
    // corpus far larger than the cap: 10,000 candidate vectors
    val emb = (0L until 10010L)
      .map(i => (i, Seq.fill(4)((i % 7).toFloat), "x"))
      .toDF("vec_id", "embedding", "label")
    val cap = 32
    val sample = Similarity.ivfSample(emb, nQueries = 10, sampleMod = 3,
      sampleCap = cap)
    // ≤ cap by construction (the id upper bound), and > 0 (not degenerate)
    val n = sample.count()
    assert(n <= cap, s"sample has $n rows > cap $cap")
    assert(n >= cap - 1, s"sample has $n rows, expected ~$cap stride hits")
    // full pipeline stays bounded too: training with the cap still converges
    val cents = Similarity.trainIvfCentroids(emb, 10, 4, iters = 1,
      sampleMod = 3, sampleCap = cap)
    assert(cents.length == 4)
    // and the cap does not perturb the small-corpus result (bound is above
    // every vec_id there — the CORRECTNESS-gate invariant)
    val dir = "/root/testdata/sf0.001"
    val small = Similarity.embeddings(spark, dir)
    val loose = Similarity.trainIvfCentroids(small, 10, 16, iters = 2,
      sampleMod = 3, sampleCap = Int.MaxValue / 4)
    val capped = Similarity.trainIvfCentroids(small, 10, 16, iters = 2,
      sampleMod = 3)
    assert(loose.map(_.toSeq).toSeq == capped.map(_.toSeq).toSeq)
  }

  test("int8-rescore ANN: exact recall when the pool covers k, 4x-smaller stage-1 payload") {
    val dir = "/root/testdata/sf0.001"
    val exact = Similarity.bruteForceTopK(spark, dir, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val quant = Similarity.int8RescoreTopK(spark, dir, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the rescore stage re-ranks in full precision, so any overlap loss
    // comes only from stage-1 pool misses; on this corpus the 4k pool
    // recovers the exact answer
    assert(quant == exact)
    // rescore pool is genuinely bounded: with rescoreFactor=1 the output
    // is the stage-1 top-k rescored — still k rows per query
    val tight = Similarity.int8RescoreTopK(spark, dir, nQueries = 10, k = 5,
      rescoreFactor = 1)
    assert(tight.groupBy("qid").count().collect()
      .forall(_.getAs[Long]("count") == 5))
  }

  test("binary-rescore ANN: corpus-covering pool equals brute force " +
    "exactly; packed halves match a driver-side sign pack; tight pool " +
    "stays k rows per query") {
    val dir = "/root/testdata/sf0.001"
    // identity boundary: rescoreFactor·k >= |candidates| — the Hamming
    // stage then only orders the pool, and the exact rescore IS the
    // brute-force answer row-for-row (ranks and round6 sims included)
    val nCand = Similarity.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") >= 10).count()
    val rf = (nCand / 5 + 1).toInt
    val full = Similarity.binaryRescoreTopK(spark, dir, nQueries = 10,
      k = 5, rescoreFactor = rf).collect().toSeq.map(_.toSeq)
    val exact = Similarity.bruteForceTopK(spark, dir, nQueries = 10, k = 5)
      .collect().toSeq.map(_.toSeq)
    assert(full.nonEmpty && full == exact)
    // the sign pack itself: engine fold == driver-side MSB-first pack
    import org.apache.spark.sql.functions._
    val emb = Similarity.embeddings(spark, dir).limit(20)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def pack(v: Seq[Float], lo: Int, hi: Int): Long =
      (lo to hi).foldLeft(0L)((acc, i) =>
        acc * 2 + (if (v(i - 1) > 0f) 1L else 0L))
    val sigs = Similarity.embeddings(spark, dir).limit(20)
      .select(col("vec_id"),
        expr("aggregate(sequence(1, 32), 0L, (acc, i) -> acc * 2 + " +
          "IF(embedding[i - 1] > 0F, 1L, 0L))").as("h1"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    emb.foreach { case (id, v) =>
      assert(sigs(id) == pack(v, 1, 32), s"vec $id") }
    // bounded pool: rescoreFactor=1 still emits k rows per query
    val tight = Similarity.binaryRescoreTopK(spark, dir, nQueries = 10,
      k = 5, rescoreFactor = 1)
    assert(tight.groupBy("qid").count().collect()
      .forall(_.getAs[Long]("count") == 5))
  }

  test("matryoshka ANN: corpus-covering pool equals brute force " +
    "exactly; the stage-1 order is the prefix cosine (driver-checked)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val nCand = Similarity.embeddings(spark, dir)
      .filter(col("vec_id") >= 10).count()
    val rf = (nCand / 5 + 1).toInt
    val full = Similarity.matryoshkaRescoreTopK(spark, dir, nQueries = 10,
      k = 5, rescoreFactor = rf).collect().toSeq.map(_.toSeq)
    val exact = Similarity.bruteForceTopK(spark, dir, nQueries = 10, k = 5)
      .collect().toSeq.map(_.toSeq)
    assert(full.nonEmpty && full == exact)
    // tight pool: the k survivors are exactly the top-k BY PREFIX
    // cosine, rescored — cross-checked against a driver-side prefix
    // ranking of the raw vectors
    val emb = Similarity.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def pcos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        (0 until 16).map(i => x(i).toDouble * y(i).toDouble).sum
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val tight = Similarity.matryoshkaRescoreTopK(spark, dir, nQueries = 10,
      k = 5, rescoreFactor = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    (0L until 10L).foreach { qid =>
      val want = emb.keys.filter(_ >= 10L).toSeq
        .map(cid => (cid, pcos(emb(qid), emb(cid))))
        .sortBy { case (cid, s) => (-s, cid) }.take(5).map(_._1).toSet
      assert(tight(qid) == want, s"query $qid prefix pool")
    }
  }

  test("nProbe sweep: recall is monotone in nProbe, hits 1.0 at all " +
    "cells, and the cost axis totals every probed posting list") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.annNprobeSweep(spark, dir, nQueries = 10,
      nCentroids = 16, k = 3).collect()
    assert(rows.map(_.getAs[Long]("n_probe")).toSeq ==
      Seq(1L, 2L, 4L, 8L, 16L))
    val recalls = rows.map(_.getAs[Double]("recall")).toSeq
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nProbe: $recalls")
    assert(recalls.last == 1.0,
      "probing every cell reaches every true neighbor")
    val scans = rows.map(_.getAs[Long]("scanned")).toSeq
    assert(scans.zip(scans.tail).forall { case (a, b) => a <= b })
    // at nProbe = nCentroids every query scans the whole corpus
    val nCand = Similarity.embeddings(spark, dir)
      .filter(col("vec_id") >= 10).count()
    assert(scans.last == nCand * 10,
      s"full probe must cost nQueries × candidates, got ${scans.last}")
    assert(rows.last.getAs[Double]("scan_frac") == 1.0)
  }

  test("compression-rung decision table: float32 baseline at recall 1.0," +
    " every rung bounded, hits consistent with the rung's own output") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.compressionRecall(spark, dir, nQueries = 10,
      k = 3).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_hits"), r.getAs[Long]("n_true"),
          r.getAs[Double]("recall"))).toMap
    assert(rows.keySet ==
      Set("float32", "int8", "matryoshka16", "binary", "binary_int8"))
    val nTrue = rows("float32")._2
    assert(rows("float32")._1 == nTrue && rows("float32")._3 == 1.0)
    rows.values.foreach { case (h, t, r) =>
      assert(t == nTrue && h <= t && r >= 0.0 && r <= 1.0) }
    // cross-check one rung's hit count against its own standalone output
    val binTopK = Similarity.binaryRescoreTopK(spark, dir, nQueries = 10,
      k = 3).select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.bruteForceTopK(spark, dir, nQueries = 10, k = 3)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows("binary")._1 == (binTopK & truth).size.toLong)
    // the cascade row's hits reconcile with the cascade's own standalone
    // output at the table's parameters (NOT a >=-binary claim: the int8
    // re-rank CAN evict a true hit the bare binary pool kept, so
    // cross-checking against the rung's own output is the invariant,
    // dominance is a dataset coincidence — review r14)
    val casTopK = graft.ext.Rung.cascadeTopK(spark, dir, nQueries = 10,
      k = 3, rescoreInt8 = 4, rescoreBinary = 2)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows("binary_int8")._1 == (casTopK & truth).size.toLong)
  }

  test("nProbe sweep with a truncated grid: true neighbors whose cell " +
    "ranks past max(probes) fall out of the left join (null prk) and " +
    "count as unreachable, never as rows") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val small = Similarity.annNprobeSweep(spark, dir, nQueries = 10,
      nCentroids = 16, k = 3, probes = Seq(1, 2)).collect()
    val full = Similarity.annNprobeSweep(spark, dir, nQueries = 10,
      nCentroids = 16, k = 3).collect()
      .map(r => r.getAs[Long]("n_probe") ->
        (r.getAs[Long]("n_reachable"), r.getAs[Long]("scanned"))).toMap
    assert(small.map(_.getAs[Long]("n_probe")).toSeq == Seq(1L, 2L))
    small.foreach { r =>
      // truncating the rank table must not change the sweep points it
      // still covers — the null-prk path only removes, never distorts
      assert((r.getAs[Long]("n_reachable"), r.getAs[Long]("scanned")) ==
        full(r.getAs[Long]("n_probe")), r.toString)
      assert(r.getAs[Double]("recall") < 1.0 ||
        r.getAs[Long]("n_reachable") == r.getAs[Long]("n_true"))
    }
  }

  test("indexed bitext mining at nProbe = nCentroids equals the " +
    "brute-force margin form; a partial probe stays label-correct") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    Similarity.purgeIvfIndex(spark, dir, nQueries = 0, nCentroids = 16)
    try {
      // all cells probed in BOTH directions → complete candidate sets
      // and exact margin denominators → the brute-force answer
      val full = Similarity.mineBitextIndexed(spark, dir, labelX = 0,
        labelY = 1, kNN = 4, nCentroids = 16, nProbe = 16)
        .collect().toSeq.map(_.toSeq)
      val want = Similarity.mineBitext(spark, dir).collect()
        .toSeq.map(_.toSeq)
      assert(full.nonEmpty && full == want)
      val labels = Similarity.embeddings(spark, dir)
        .select(col("vec_id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val partial = Similarity.mineBitextIndexed(spark, dir, labelX = 0,
        labelY = 1, kNN = 4, nCentroids = 16, nProbe = 2).collect()
      assert(partial.nonEmpty)
      partial.foreach { r =>
        assert(labels(r.getAs[Long]("xid")) == 0 &&
          labels(r.getAs[Long]("yid")) == 1, r.toString)
        // margins are legitimately negative when an anchor's probed
        // neighborhood is anti-correlated — only NaN would be a bug
        assert(!r.getAs[Double]("margin").isNaN, r.toString)
      }
    } finally Similarity.purgeIvfIndex(spark, dir, nQueries = 0,
      nCentroids = 16)
  }

  test("bitext margin mining: one best match per anchor; the margin " +
    "de-ranks hub candidates a raw-cosine miner would over-pair") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.mineBitext(spark, dir).collect()
    val nX = Similarity.embeddings(spark, dir)
      .filter(col("label") === 0).count()
    assert(rows.length == nX, "one row per side-X anchor")
    assert(rows.map(_.getAs[Long]("xid")).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getAs[Double]("margin") > 0.0 &&
        !r.getAs[Double]("margin").isNaN, r.toString) }
    // margin ≠ raw cosine as a ranking: the mined pair's raw sim need
    // not be the anchor's max sim (density normalization re-ranks); on
    // real data at least the SETS can differ — assert the margin values
    // are genuinely normalized (not equal to sim)
    assert(rows.exists(r =>
      r.getAs[Double]("margin") != r.getAs[Double]("sim")))
  }

  test("semantic dedup: drops have a smaller-id cell neighbor above threshold") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val res = Similarity.semanticDedup(spark, dir, threshold = 0.4,
      nCentroids = 16)
    val rows = res.collect()
    assert(rows.length ==
      Similarity.embeddings(spark, dir).count())
    val dropped = rows.filter(!_.getAs[Boolean]("kept"))
    assert(dropped.nonEmpty && dropped.length < rows.length / 2)
    // every dropped vector shares a cell with a smaller-id kept-or-dropped
    // vector at cosine >= threshold (brute-force cross-check)
    val cellOf = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val emb = Similarity.embeddings(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    dropped.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      val witness = cellOf.exists { case (u, c) =>
        u < v && c == cellOf(v) && cos(emb(u), emb(v)) >= 0.4 }
      assert(witness, s"vec $v dropped without a same-cell witness")
    }
  }

  test("containment dominates jaccard and catches length-skewed dups") {
    import graft.ext.TextDedup
    val dir = "/root/testdata/sf0.001"
    // for any pair, max-containment >= jaccard (|∩|/min(|a|,|b|) >= |∩|/|a∪b|)
    val j = TextDedup.nearDupPairs(spark, dir, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val c = TextDedup.containmentPairs(spark, dir, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(c.keySet == j.keySet) // same candidate set at threshold 0
    c.foreach { case (k, cont) =>
      assert(cont >= j(k) - 1e-12, s"pair $k: containment $cont < jaccard ${j(k)}")
    }
    // the verified sets at the registered thresholds are non-degenerate
    assert(TextDedup.containmentPairs(spark, dir, 0.7).count() > 0)
  }

  test("custom MinHashChunks expression matches the HOF formulation") {
    import graft.ext.TextDedup
    val dir = "/root/testdata/sf0.001"
    val sigCols = (0 until TextDedup.numHashes).map(j => s"sig$j")
    def sigRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"),
          sigCols.map(c => r.getAs[String](c))))
    assert(sigRows(TextDedup.signatures(spark, dir)).toSeq ==
      sigRows(TextDedup.signaturesViaHof(spark, dir)).toSeq)
  }

  test("knn graph: edges stay within cells, ranks are dense and " +
    "sim-ordered, and match a brute-force within-cell reference") {
    val dir = "/root/testdata/sf0.001"
    val m = 3
    val edges = Similarity.knnGraph(spark, dir, m).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(edges.nonEmpty)
    // same default (nCentroids, iters) as semanticDedup -> identical
    // deterministic assignment; use its cell column as the reference
    val cell = Similarity.semanticDedup(spark, dir, 0.4, 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    edges.foreach { case (v, n, _, _) =>
      assert(v != n)
      assert(cell(v) == cell(n), s"edge $v->$n crosses cells")
    }
    val emb = Similarity.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val byVec = edges.groupBy(_._1)
    byVec.foreach { case (v, es) =>
      val sorted = es.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to es.length).toSeq)
      assert(es.length <= m)
      // sims non-increasing with rank
      sorted.map(_._4).sliding(2).foreach {
        case Array(a, b) => assert(a >= b - 1e-9)
        case _ =>
      }
      // brute-force within-cell reference (cells are far below the
      // rank cap at this sf, so the cap never bites)
      val cands = cell.keys.filter(c => c != v && cell(c) == cell(v))
      val expect = cands.map(c => (c, cos(emb(v), emb(c))))
        .toSeq.sortBy { case (c, s) => (-s, c) }.take(m)
      assert(sorted.map(_._2).toSeq == expect.map(_._1),
        s"vec $v neighbor set")
      sorted.map(_._4).zip(expect.map(_._2)).foreach { case (got, exp) =>
        assert(math.abs(got - exp) < 2e-6)
      }
    }
    // every vector in a multi-member cell has edges
    val multi = cell.groupBy(_._2).filter(_._2.size > 1).flatMap(_._2.keys)
    assert(multi.toSet == byVec.keySet)
  }

  test("collocations: counts reconcile with a driver reference and the " +
    "lift cut is the true top-k") {
    val dir = "/root/testdata/sf0.001"
    val got = TextAnalysis.collocations(spark, dir, minCount = 5, k = 50)
      .collect()
    assert(got.nonEmpty && got.length <= 50)
    val texts = TextAnalysis.documents(spark, dir)
      .select("text").collect().map(_.getString(0))
    val words = texts.map(_.split(" ", -1).toSeq)
    val uni = words.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    val nTotal = words.map(_.size).sum.toLong
    val bg = words.filter(_.length >= 2)
      .flatMap(w => w.zip(w.tail))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 5L)
    val ref = bg.map { case ((a, b), nab) =>
      (a, b, nab, uni(a), uni(b),
        (nab.toDouble / uni(a)) * (nTotal.toDouble / uni(b)))
    }.toSeq.sortBy { case (a, b, _, _, _, l) => (-l, a, b) }
      .take(50)
    // the SELECTION is the true raw-lift top-k (order compared as sets:
    // the output re-sorts by the ROUNDED lift, which can legally swap
    // raw-lift ties)
    assert(got.length == ref.length)
    val refByPair = ref.map(t => (t._1, t._2) -> t).toMap
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet ==
      refByPair.keySet)
    got.foreach { row =>
      val (_, _, nab, na, nb, lift) =
        refByPair((row.getString(0), row.getString(1)))
      assert(row.getLong(2) == nab && row.getLong(3) == na &&
        row.getLong(4) == nb)
      assert(math.abs(row.getDouble(5) - lift) < 2e-6)
    }
    // lift is non-increasing down the output
    val lifts = got.map(_.getDouble(5))
    lifts.sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ =>
    }
  }

  test("bigram lm: conditionals sum to one per left word and doc " +
    "scores match a driver reference") {
    val dir = "/root/testdata/sf0.001"
    val docs = TextAnalysis.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val trans = docs.flatMap { case (d, w) =>
      if (w.length >= 2) w.zip(w.tail).map(p => (d, p)) else Seq.empty
    }
    val big = trans.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val lefts = big.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toMap
    // a true conditional model: per left word the follower masses
    // exhaust the denominator
    lefts.foreach { case (a, na) =>
      assert(big.collect { case ((l, _), c) if l == a => c }.sum == na)
    }
    val got = TextAnalysis.bigramLm(spark, dir).collect()
    val byDoc = trans.groupBy(_._1)
    assert(got.map(_.getLong(0)).toSet == byDoc.keySet)
    got.foreach { r =>
      val ps = byDoc(r.getLong(0)).map { case (_, p) =>
        BigDecimal(big(p).toDouble / lefts(p._1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      assert(r.getAs[Long]("n_trans") == ps.length.toLong)
      assert(math.abs(r.getAs[Double]("mean_p") -
        ps.sum.toDouble / ps.length) < 2e-6)
      assert(math.abs(r.getAs[Double]("min_p") - ps.min.toDouble) < 2e-6)
    }
  }

  test("approx lm buckets: every language's sketch-cutoff bucket sizes " +
    "sit inside the rank-eps window; langs match the exact form") {
    val dir = "/root/testdata/sf0.001"
    val approx = TextAnalysis.lmBucketsApprox(spark, dir).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"lang ${r.getString(0)} bucket sizes outside the eps window")
    }
    val exactLangs = TextAnalysis.lmBuckets(spark, dir)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(approx.map(_.getString(0)).toSet == exactLangs)
  }

  test("threshold sweeps: counts fall monotonically with the threshold " +
    "and reconcile with the pair frames") {
    val dir = "/root/testdata/sf0.001"
    val sweep = TextDedup.thresholdSweep(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(sweep.nonEmpty)
    assert(sweep.map(_._1).toSeq == sweep.map(_._1).sorted.toSeq)
    sweep.sliding(2).foreach {
      case Array((_, p1, d1), (_, p2, d2)) =>
        assert(p1 >= p2 && d1 >= d2)
      case _ =>
    }
    // each row reconciles with an independent nearDupPairs call at
    // that exact threshold
    sweep.foreach { case (t, nPairs, nDocs) =>
      val pairs = TextDedup.nearDupPairs(spark, dir, t)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(nPairs == pairs.length.toLong, s"threshold $t")
      assert(nDocs ==
        pairs.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    }
    val sem = Similarity.semanticThresholdSweep(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(sem.nonEmpty)
    sem.sliding(2).foreach {
      case Array((_, p1, v1), (_, p2, v2)) =>
        assert(p1 >= p2 && v1 >= v2)
      case _ =>
    }
    // the 0.4 row agrees with semanticDedup's pair universe: every
    // dropped vector is among the touched vectors
    val at04 = sem.find(_._1 == 0.4)
    assert(at04.isDefined)
    val dropped = Similarity.semanticDedup(spark, dir, 0.4, 16)
      .filter(!col("kept")).count()
    assert(at04.get._3 >= dropped)
  }

  test("source scorecard reconciles with the per-doc quality and gopher " +
    "frames") {
    val dir = "/root/testdata/sf0.001"
    val got = TextAnalysis.sourceScorecard(spark, dir).collect()
    val src = TextAnalysis.documents(spark, dir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val q = TextAnalysis.quality(spark, dir)
      .select("doc_id", "n_tokens", "quality_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keep = TextAnalysis.gopherRules(spark, dir)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val bySrc = q.groupBy(t => src(t._1))
    assert(got.map(_.getString(0)).toSeq == bySrc.keys.toSeq.sorted)
    val totalTokens = q.map(_._2).sum
    got.foreach { row =>
      val docs = bySrc(row.getString(0))
      assert(row.getAs[Long]("n_docs") == docs.length.toLong)
      assert(row.getAs[Long]("n_tokens") == docs.map(_._2).sum)
      assert(row.getAs[Long]("n_gopher_keep") ==
        docs.count(t => keep(t._1)).toLong)
      assert(math.abs(row.getAs[Double]("token_share") -
        docs.map(_._2).sum.toDouble / totalTokens) < 2e-6)
      assert(math.abs(row.getAs[Double]("mean_quality") -
        docs.map(t => BigDecimal(t._3)).sum.toDouble / docs.length) < 2e-6)
      val rate = row.getAs[Double]("gopher_keep_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    assert(math.abs(got.map(_.getAs[Double]("token_share")).sum - 1.0)
      < 1e-4)
  }

  test("source overlap matrix reconciles with the verified near-dup " +
    "pairs and their endpoint sources") {
    val dir = "/root/testdata/sf0.001"
    val th = 0.5
    val src = TextDedup.documents(spark, dir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = TextDedup.nearDupPairs(spark, dir, th)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCell = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }
    val got = TextDedup.sourceOverlapMatrix(spark, dir, th).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet ==
      byCell.keySet)
    got.foreach { row =>
      val cell = byCell((row.getString(0), row.getString(1)))
      assert(row.getAs[Long]("n_pairs") == cell.length.toLong)
      assert(row.getAs[Long]("n_docs") ==
        cell.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    }
  }

  test("class separation: full label matrix, constant row mass, and " +
    "cells match a driver centroid recompute") {
    val dir = "/root/testdata/sf0.001"
    val got = Similarity.classSeparation(spark, dir).collect()
    val emb = Similarity.embeddings(spark, dir)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1).map(_.toDouble)))
    val labels = emb.map(_._1).distinct.sorted
    assert(got.length == labels.length * labels.length)
    // n_vecs in every (label, *) cell is that label's member count
    val sizes = emb.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == sizes(r.getLong(0)))
      assert(r.getAs[Boolean]("is_self") == (r.getLong(0) == r.getLong(1)))
      assert(r.getAs[Double]("mean_sim") <= 1.0 + 1e-9)
    }
    // driver reference: micro-int centroids, mean cosine per cell
    val cents = emb.groupBy(_._1).view.mapValues { vs =>
      val dims = vs.head._2.length
      (0 until dims).map { i =>
        val s = vs.map(v => math.floor(v._2(i) * 1e6 + 0.5)).sum
        math.floor(s / vs.size + 0.5) / 1e6
      }
    }.toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    got.foreach { r =>
      val members = emb.filter(_._1 == r.getLong(0)).map(_._2)
      val c = cents(r.getLong(1))
      val ref = members.map(m =>
        BigDecimal(cos(m, c)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / members.size
      assert(math.abs(r.getAs[Double]("mean_sim") - ref) < 2e-6,
        s"cell (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("semantic clusters: equal to a driver union-find over the same " +
    "within-cell verified edges, consistent with semanticDedup drops") {
    val dir = "/root/testdata/sf0.001"
    val th = 0.4
    val dedup = Similarity.semanticDedup(spark, dir, th, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val cell = dedup.map(t => t._1 -> t._2).toMap
    val emb = Similarity.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    // driver union-find over within-cell pairs at the threshold
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byCell = cell.keys.toSeq.groupBy(cell)
    byCell.values.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.length)
        if (cos(emb(s(i)), emb(s(j))) >= th) union(s(i), s(j))
    }
    val comps = cell.keys.toSeq.map(v => find(v) -> v)
      .groupBy(_._1).view.mapValues(_.map(_._2)).filter(_._2.size > 1)
    val expect = comps.map { case (lbl, vs) =>
      (lbl, vs.size.toLong, vs.max)
    }.toSeq.sortBy(_._1)
    val got = Similarity.semanticClusters(spark, dir, th, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // dedup's drops are non-label cluster members (a non-minimal member
    // can legally survive dedup when it is the smaller side of every
    // edge it touches — a chain component — so ⊆, not ==), and a
    // component's canonical label always survives
    val clustered = comps.values.flatten.toSet
    val labels = comps.keySet
    val dropped = dedup.filter(!_._3).map(_._1).toSet
    assert(dropped.subsetOf(clustered -- labels))
    assert(labels.forall(!dropped.contains(_)))
  }

  test("keywords: per-doc top-k ratio-TF-IDF matches a driver reference") {
    val dir = "/root/testdata/sf0.001"
    val k = 5
    val got = TextAnalysis.keywords(spark, dir, k).collect()
    val docs = TextAnalysis.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val tf = docs.flatMap { case (d, ws) =>
      ws.groupBy(identity).map { case (w, o) => (d, w) -> o.size.toLong }
    }
    val df_ = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = docs.size.toLong
    val refTop = tf.groupBy(_._1._1).map { case (d, m) =>
      d -> m.map { case ((_, w), t) =>
        (w, t, df_(w), t.toDouble * (n.toDouble / df_(w)))
      }.toSeq.sortBy { case (w, _, _, s) => (-s, w) }.take(k)
    }
    val byDoc = got.groupBy(_.getLong(0))
    assert(byDoc.keySet == refTop.keySet)
    byDoc.foreach { case (d, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to rows.length).toSeq)
      sorted.zip(refTop(d)).foreach { case (row, (w, t, dfc, s)) =>
        assert(row.getString(1) == w, s"doc $d")
        assert(row.getAs[Long]("tf") == t && row.getAs[Long]("df") == dfc)
        assert(math.abs(row.getAs[Double]("tfidf") - s) < 2e-6)
      }
    }
  }

  test("zipf profile: octaves tile the rank head, masses reconcile with " +
    "the vocabulary, coverage is monotone") {
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.zipfProfile(spark, dir).collect()
    assert(rows.nonEmpty)
    // octaves contiguous from 0; rank ranges tile [1, maxRank] with
    // rank_lo = 2^octave
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("octave") == i.toLong)
      assert(r.getAs[Long]("rank_lo") == (1L << i))
      assert(r.getAs[Long]("rank_hi") ==
        r.getAs[Long]("rank_lo") + r.getAs[Long]("n_tokens") - 1)
      assert(r.getAs[Long]("max_freq") >= r.getAs[Long]("min_freq"))
    }
    // the octave masses sum to the head's total frequency, and the
    // head token of octave 0 is the corpus's most frequent token
    val vocab = TextAnalysis.vocabTopK(spark, dir, 4096).collect()
    assert(rows.map(_.getAs[Long]("mass")).sum ==
      vocab.map(_.getAs[Long]("freq")).sum)
    assert(rows.head.getAs[String]("head_token") ==
      vocab.head.getAs[String]("token"))
    // coverage is nondecreasing and ends <= 1; mass_ratio is null only
    // on the last octave and equals the successive-mass quotient
    val cov = rows.map(_.getAs[Double]("coverage"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    assert(cov.last <= 1.0)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val expect = a.getAs[Long]("mass").toDouble /
          b.getAs[Long]("mass").toDouble
        assert(math.abs(a.getAs[Double]("mass_ratio") - expect) < 2e-6)
      case _ =>
    }
    assert(rows.last.isNullAt(rows.last.fieldIndex("mass_ratio")))
  }

  test("heaps profile: quartile totals reconcile with the corpus, " +
    "every type is new exactly once") {
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.heapsProfile(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 4)
    assert(rows.map(_.getAs[Long]("quarter")).forall(q => q >= 0 && q < 4))
    val toks = TextAnalysis.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
    val totalOcc = toks.count()
    val totalTypes = toks.distinct().count()
    assert(rows.last.getAs[Long]("cum_tokens") == totalOcc)
    assert(rows.last.getAs[Long]("cum_types") == totalTypes)
    assert(rows.map(_.getAs[Long]("n_new_types")).sum == totalTypes)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == totalOcc)
    // cumulative columns are running sums of the per-quartile columns
    var (ct, cy) = (0L, 0L)
    rows.foreach { r =>
      ct += r.getAs[Long]("n_tokens"); cy += r.getAs[Long]("n_new_types")
      assert(r.getAs[Long]("cum_tokens") == ct)
      assert(r.getAs[Long]("cum_types") == cy)
    }
  }
}
