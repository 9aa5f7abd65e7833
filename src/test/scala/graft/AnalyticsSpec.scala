package graft

import org.apache.spark.sql.functions._

import graft.ops.Analytics

/** The `ops.Analytics` building blocks the batch analytics queries share:
  * per-group winsorizing against a naive driver reference, the frozen
  * bounds' re-freeze rule, and the blocked running count against the
  * single-reducer window form it replaces.
  */
class AnalyticsSpec extends SparkTestBase {
  import spark.implicits._

  test("winsorize clips to the group's own order-statistic bounds and " +
    "matches a naive driver reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = Seq.tabulate(300)(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
        math.floor(rnd.nextDouble() * 1e6) / 1e6 * 100))
    val df = rows.toDF("event_id", "event_type", "value")
    val got = Analytics.winsorize(df, "event_type", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    def boundsOf(vs: Seq[Double], q: Double): Double = {
      val sorted = vs.map(v => BigDecimal(v).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble).sorted
      sorted(math.ceil(q * sorted.length).toInt - 1)
    }
    rows.groupBy(_._2).foreach { case (ty, grp) =>
      val vs = grp.map(_._3)
      val (lo, hi) = (boundsOf(vs, 0.05), boundsOf(vs, 0.95))
      got.filter(_._2 == ty).foreach { case (_, _, v, w, clipped) =>
        assert(w >= lo && w <= hi)
        assert(clipped == (v < lo || v > hi))
        if (!clipped) assert(w == v)
        else assert(w == lo || w == hi)
      }
    }
    // unclipped mass dominates at 5/95
    assert(got.count(!_._5) > got.length * 8 / 10)
  }

  test("blockedCumCount equals the single-reducer window formulation, " +
    "grouped and global") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // skewed grid: group "a" owns most of the distinct values, plus ties
    // in counts and a null value row — every branch the blocking touches
    val rows = Seq.tabulate(500)(i =>
      (if (i % 5 == 0) "b" else "a",
        math.floor(rnd.nextDouble() * 1e4) / 1e4,
        (i % 3 + 1).toLong)) :+ (("a", Double.NaN, 2L))
    val grid = rows.toDF("g", "v", "c")
      .select(col("g"), when(isnan(col("v")), lit(null)).otherwise(col("v")).as("v"), col("c"))
      .groupBy("g", "v").agg(sum("c").as("c"))
    val windowed = grid.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("v"))))
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(3)))
      .toSet
    val blocked = Analytics.blockedCumCount(grid, Seq("g"), "v", "c")
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(3)))
      .toSet
    assert(blocked == windowed)
    // global (empty groupCols) — the embStats shape
    val gGrid = grid.filter(col("v").isNotNull).groupBy("v")
      .agg(sum("c").as("c"))
    val gWindowed = gGrid.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("v"))))
      .collect().map(r => (r.getDouble(0), r.getLong(2))).toSet
    val gBlocked = Analytics.blockedCumCount(gGrid, Seq.empty, "v", "c")
      .collect().map(r => (r.getDouble(0), r.getLong(2))).toSet
    assert(gBlocked == gWindowed)
    // a group whose grid is ALL null (percentile_approx yields a null
    // splitter array) must still be EMITTED, matching the window form —
    // ADVICE r11: the raw size(filter(null,...)) block id was null and
    // the offsets equi-join silently dropped the whole group
    val withNullGroup = grid.unionByName(
      Seq(("z", 3L), ("z", 4L)).toDF("g", "c")
        .select(col("g"), lit(null).cast("double").as("v"), col("c"))
        .groupBy("g", "v").agg(sum("c").as("c")))
    val nWindowed = withNullGroup.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("v"))))
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(3)))
      .toSet
    val nBlocked = Analytics.blockedCumCount(withNullGroup, Seq("g"), "v", "c")
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(3)))
      .toSet
    assert(nBlocked.exists(_._1 == "z"),
      "all-null group dropped by the blocked formulation")
    assert(nBlocked == nWindowed)
  }

  test("property (seeded): blockedCumCount equals the window form over " +
    "random grid shapes — varied nBlocks, group counts, duplicate-heavy " +
    "values, all-null and singleton groups") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    (1 to 8).foreach { iter =>
      val nGroups = 1 + rnd.nextInt(4)
      val nBlocks = 2 + rnd.nextInt(100)
      val valuePool = 1 + rnd.nextInt(30) // small pool → heavy ties
      val rows = (0 until 200).map { _ =>
        val g = s"g${rnd.nextInt(nGroups)}"
        val v: java.lang.Double =
          if (rnd.nextInt(10) == 0) null
          else rnd.nextInt(valuePool).toDouble / 7.0
        (g, v, (1 + rnd.nextInt(3)).toLong)
      } ++ Seq(("only_null", null: java.lang.Double, 5L),
        ("single", 1.25: java.lang.Double, 1L))
      val grid = rows.toDF("g", "v", "c").groupBy("g", "v")
        .agg(sum("c").as("c"))
      val windowed = grid.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("v"))))
        .collect()
        .map(r => (r.getString(0), Option(r.get(1)), r.getLong(3))).toSet
      val blocked = Analytics.blockedCumCount(grid, Seq("g"), "v", "c",
        nBlocks)
        .collect()
        .map(r => (r.getString(0), Option(r.get(1)), r.getLong(3))).toSet
      assert(blocked == windowed, s"iter $iter (nBlocks=$nBlocks)")
    }
  }

  test("bounds re-freeze rule: calm on the freezing history, fires on a " +
    "shifted distribution and on an uncovered group, and the refreshed " +
    "bounds read calm again") {
    val sf = "/root/testdata/sf0.001"
    val events = graft.ops.Ingest.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    val bounds = Analytics.winsorizeBounds(events, "event_type")
      .localCheckpoint(true)
    // frozen on this exact history: realized clip == the quantile mass
    assert(!Analytics.shouldRefreezeBounds(events, "event_type", bounds),
      "rule fired on the distribution the bounds were frozen on")
    // a wholesale upward shift puts ~everything above hi_v
    val shifted = events.withColumn("value", col("value") + lit(1e6))
    assert(Analytics.shouldRefreezeBounds(shifted, "event_type", bounds),
      "shifted distribution must fire the drift half")
    // a group the bounds never saw fires the coverage half even when the
    // covered groups are calm
    val withNew = events.unionByName(
      Seq((888888L, "brand_new_type", 1.0))
        .toDF("event_id", "event_type", "value"))
    assert(Analytics.shouldRefreezeBounds(withNew, "event_type", bounds),
      "uncovered group must fire the coverage half")
    // the re-freeze on the shifted history reads calm under the
    // refreshed bounds
    val fresh = Analytics.winsorizeBounds(shifted, "event_type")
    assert(!Analytics.shouldRefreezeBounds(shifted, "event_type", fresh),
      "post-refreeze bounds must read calm on the new history")
  }

  test("trained-state deletion semantics (winsor bounds, r15 VERDICT " +
    "next #8): frozen bounds retain a scrubbed user's statistical " +
    "influence until the refreeze cycle — and the post-scrub refreeze " +
    "equals bounds frozen on a history the user never entered") {
    // user B's extreme tail sets the frozen hi bound; the deletion
    // scrub removes B's rows (row CONTENT gone from any clip apply
    // immediately), but the FROZEN state still carries B's quantiles —
    // the same honesty note as IVF's frozen centroids
    val aRows = (1 to 100).map(i => (i.toLong, "t", i.toDouble))
    // B carries 90% of the mass, so the frozen p05/p95 land deep inside
    // B's range — after the scrub the realized clip on A-only history
    // deviates far past the rule's tolerance
    val bRows = (1 to 900).map(i => (1000L + i, "t", 1e6 + i))
    val full = (aRows ++ bRows).toDF("event_id", "event_type", "value")
    val scrubbed = aRows.toDF("event_id", "event_type", "value")
    // the standing freeze over a directory-backed events table: built on
    // the full history, then the scrub rewrites the table without B
    val dir = java.nio.file.Files.createTempDirectory("graft_winsor_scrub")
      .toString
    def writeEvents(df: org.apache.spark.sql.DataFrame): Unit =
      df.withColumn("ts", lit(0L).cast("timestamp"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    writeEvents(full)
    Analytics.purgeBoundsIndex(spark, dir)
    try {
      Analytics.ensureBoundsIndex(spark, dir)
      val frozen = Analytics.frozenBounds(spark, dir).localCheckpoint(true)
      writeEvents(scrubbed)
      // the maintenance drift rule IS the refreeze cycle: the scrubbed
      // history's realized clip collapses under B-inflated bounds, so
      // the rule fires and the retrain lands on the next tick
      assert(Analytics.shouldRefreezeBounds(scrubbed, "event_type",
        frozen), "post-scrub history must fire the drift rule")
      assert(Analytics.refreezeBoundsIndexIfNeeded(spark, dir))
      // the retrain excludes the scrubbed rows: bit-identical to bounds
      // frozen on a history the user never entered
      val cf = Analytics.winsorizeBounds(scrubbed, "event_type")
        .orderBy(col("event_type")).collect().toSeq
      assert(Analytics.frozenBounds(spark, dir)
        .select(col("event_type"), col("lo_v"), col("hi_v"))
        .orderBy(col("event_type")).collect().toSeq == cf,
        "post-scrub refreeze must equal the never-admitted freeze")
    } finally Analytics.purgeBoundsIndex(spark, dir)
  }

  test("a tied/constant group reads calm under a freeze carrying its " +
    "realized clip rate — the theoretical quantile mass alone would " +
    "re-freeze such a group forever (r12 review)") {
    // constant distribution: bounds collapse to [v, v], nothing clips —
    // the theoretical 10% mass NEVER realizes
    val ev = Seq.tabulate(50)(i => (i.toLong, "t", 1.0))
      .toDF("event_id", "event_type", "value")
    val plain = Analytics.winsorizeBounds(ev, "event_type")
      .localCheckpoint(true)
    assert(Analytics.shouldRefreezeBounds(ev, "event_type", plain),
      "plain bounds anchored to the theoretical mass must fire (the " +
        "documented fallback behavior)")
    // the standing-table form stores the freeze-time REALIZED rate: calm
    val withExp = plain.join(
      Analytics.clipDrift(ev, "event_type", plain)
        .select(col("event_type"), col("clip_frac").as("expected_frac")),
      Seq("event_type"))
    assert(!Analytics.shouldRefreezeBounds(ev, "event_type", withExp),
      "stored-expected bounds must read calm on the freezing history")
    // and empty history decides calm instead of NPE-crashing the tick
    assert(!Analytics.shouldRefreezeBounds(
      ev.filter(col("event_id") < 0), "event_type", withExp))
  }
}
