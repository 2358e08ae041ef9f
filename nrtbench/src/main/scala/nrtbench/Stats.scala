package nrtbench

/** Pure helpers behind the reported numbers; unit-tested in StatsSpec. */
object Stats {

  /** Nearest-rank quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still has at least `beyond` samples
    * strictly above its rank, as (percentile in [0, 100], value). With
    * n samples that is the nearest-rank quantile at rank n - beyond, so
    * it needs n > beyond; a tail read from fewer samples would be one
    * sample's noise.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val rank = s.size - beyond
      Some((100.0 * rank / s.size, s(rank - 1)))
    }

  /** Length of the union of closed intervals. */
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

  /** A span's self time: its duration minus the part of it that child
    * intervals cover. Children are clipped to the span and may overlap
    * each other (parallel loads), so overlap is counted once.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }

  /** Storage amplification: bytes the table keeps on disk (data files
    * live or awaiting vacuum, change feed, metadata) over the bytes of
    * its live rows written once as plain Parquet.
    */
  def storageAmp(onDiskBytes: Map[String, Long], plainBytes: Long): Double = {
    require(plainBytes > 0, "plain rewrite wrote no bytes")
    onDiskBytes.values.sum.toDouble / plainBytes
  }

  /** Bytes under `dir`, split by top-level entry class: `_graft` (table
    * metadata), `_changes` (change feed) and everything else (`data`).
    */
  def dirBytes(dir: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    Option(dir.listFiles()).toSeq.flatten
      .groupBy(f => if (f.getName == "_graft" || f.getName == "_changes") f.getName else "data")
      .map { case (k, fs) => k -> fs.map(walk).sum }
  }

  /** Open-loop lateness: how long after its due time each item was
    * actually issued (never negative: an item issued early was waited
    * for).
    */
  def lateness(dueNs: Seq[Long], issuedNs: Seq[Long]): Seq[Long] = {
    require(dueNs.size == issuedNs.size, "due and issued differ in length")
    dueNs.zip(issuedNs).map { case (d, i) => math.max(0L, i - d) }
  }

  /** Open-loop latency of each item, timed from when it was DUE (not
    * when it was issued), so a generator stall is charged to the items
    * it delayed. `visibleNs(i)` is None for an item never seen.
    */
  def latencyFromDue(dueNs: Seq[Long], visibleNs: Seq[Option[Long]]): Seq[Option[Long]] =
    dueNs.zip(visibleNs).map { case (d, v) => v.map(_ - d) }

  /** Mean of the last quarter of `xs` over the mean of its first
    * quarter: > 1 when a per-call cost grows as calls accumulate.
    */
  def lateOverEarly(xs: Seq[Double]): Option[Double] = {
    val q = xs.size / 4
    if (q == 0) None
    else {
      val early = xs.take(q).sum / q
      val late = xs.takeRight(q).sum / q
      if (early > 0) Some(late / early) else None
    }
  }
}
