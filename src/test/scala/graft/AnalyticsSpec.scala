package graft

import org.apache.spark.sql.functions._

import graft.ops.Analytics

/** The `ops.Analytics` building blocks the batch analytics queries share:
  * per-group winsorizing against a naive driver reference, and the
  * blocked running count against the single-reducer window form it
  * replaces.
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
}
