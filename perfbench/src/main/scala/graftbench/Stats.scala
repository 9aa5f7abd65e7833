package graftbench

/** The benchmark's summary statistics. Kept free of Spark so the
  * self-tests pin them directly.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least
    * `p` percent of the samples are at or below it. NaN when empty.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.max(1, rank) - 1)
    }
  }

  /** Median; the mean of the two middle samples when the count is even. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Whether `n` samples support percentile `p`: at least ten samples lie
    * beyond it, so one outlier cannot set it.
    */
  def supports(n: Int, p: Double): Boolean =
    n - math.ceil(p / 100.0 * n) >= 10

  /** The highest of `ps` that `n` samples support (50 when none does). */
  def highestSupported(n: Int, ps: Seq[Double] = Seq(99, 90, 50)): Double =
    ps.sorted.reverse.find(supports(n, _)).getOrElse(50.0)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Total length of the union of half-open intervals `[s, e)`, clipped to
    * `[lo, hi)`. Overlapping Spark jobs count once: this is the time at
    * least one job of a query was running.
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One row a serve micro-batch wrote: its group and the creation time
  * (epoch ms) of the newest event that contributed to it.
  */
final case class ServedRow(serveBatch: Long, groupId: String,
                           lastEventMs: Long)

object Latency {

  /** Event-to-serve latency of each served row: the commit time of the
    * row's serve batch minus the creation time of its newest event. Rows
    * whose batch has no recorded commit, or whose commit or newest event
    * falls outside `[from, to]`, are left out.
    */
  def eventToServe(rows: Seq[ServedRow], commitMs: Map[Long, Long],
                   from: Long, to: Long): Seq[Double] =
    rows.flatMap { r =>
      commitMs.get(r.serveBatch)
        .filter(c => c <= to && r.lastEventMs >= from)
        .map(c => (c - r.lastEventMs).toDouble)
    }
}

object Visibility {

  /** Per sent event: how long until the serving view first showed it, i.e.
    * the commit time of the first serve batch whose row for the event's
    * group has a newest-event time at or after the event's, minus the
    * event's time (its creation time). `events` holds (group, event time
    * ms). Events no committed batch covers are left out.
    */
  def latencies(rows: Seq[ServedRow], commitMs: Map[Long, Long],
                events: Seq[(String, Long)]): Seq[Double] = {
    val byGroup = rows.filter(r => commitMs.contains(r.serveBatch))
      .groupBy(_.groupId).map { case (g, rs) =>
        val sorted = rs.map(r => (commitMs(r.serveBatch), r.lastEventMs)).sortBy(_._1)
        val commits = sorted.map(_._1).toArray
        val reach = sorted.map(_._2).scanLeft(Long.MinValue)(math.max).tail.toArray
        g -> (commits, reach)
      }
    events.flatMap { case (g, ts) =>
      byGroup.get(g).flatMap { case (commits, reach) =>
        val i = java.util.Arrays.binarySearch(reach, ts)
        // first index whose running maximum reaches ts
        var j = if (i >= 0) i else -i - 1
        while (j > 0 && reach(j - 1) >= ts) j -= 1
        if (j < commits.length) Some((commits(j) - ts).toDouble) else None
      }
    }
  }
}
