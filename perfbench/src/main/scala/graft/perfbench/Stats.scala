package graft.perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** setup_s: the median of the later half of a run's set-up times, in
    * the order they ran. The earlier ones are slower while the JIT
    * compiles the set-up path (two to three times for the first), and
    * how fast it gets there varies from run to run.
    */
  def setupSeconds(times: Seq[Double]): Double = median(times.drop(times.size / 2))

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geometric mean of $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** op_p50_ms: the geometric mean over the workload's fixed op kinds of
    * each kind's median latency, so every kind weighs the same and a
    * k-fold change to one of n kinds moves it by k^(1/n). A kind without
    * samples is an error: the kinds come from the workload's cycle, and
    * every measured cycle runs each of them.
    */
  def kindGeomean(kinds: Seq[String], ms: Seq[(String, Double)]): Double = {
    val byKind = ms.groupMap(_._1)(_._2)
    geomean(kinds.map(k => median(byKind.getOrElse(k,
      throw new IllegalStateException(s"no samples of op kind $k")))))
  }

  /** The tail a run can support: the highest percentile that still has
    * at least `beyond` samples above it. Over n sorted samples that is
    * the (beyond + 1)-th slowest one, at percentile 100·(n − beyond)/n.
    * Returns (value, percentile), or None when n ≤ beyond (no
    * percentile has that many samples beyond it).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some((s(n - beyond - 1), 100.0 * (n - beyond) / n))
    }
  }

  /** Throughput of a closed loop's measured window: the ops that started
    * in [bounds.head, bounds.last) over the window's wall seconds. The
    * bounds are the starts of the window's whole cycles and its end, so
    * every stall inside the window (compaction, maintenance, collection
    * pauses, untimed steps between ops) counts against the rate.
    */
  def windowRate(starts: Seq[Long], bounds: Seq[Long]): Double = {
    require(bounds.size >= 2, "a window needs at least one whole cycle")
    val (from, until) = (bounds.head, bounds.last)
    starts.count(s => s >= from && s < until) / ((until - from) / 1e9)
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part of its interval
    * that its children cover (children may overlap one another and may
    * stick out of the parent; only the covered part of the parent counts).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
