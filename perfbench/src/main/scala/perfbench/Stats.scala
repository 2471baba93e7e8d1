package perfbench

/** Pure helpers the benchmark's metrics are computed with. */
object Stats {

  /** Percentiles a tail may be reported at, highest first. */
  val TailGrid: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank position (0-based) of percentile `p` in `n` sorted samples. */
  def rank(p: Double, n: Int): Int = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)

  /** The highest percentile of [[TailGrid]] that leaves at least ten samples
    * above it; the median when no tail percentile does.
    */
  def tailPercentile(n: Int): Double =
    TailGrid.find(p => n - 1 - rank(p, n) >= 10).getOrElse(50.0)

  /** Nearest-rank percentile of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The latency join: one latency in seconds per sink row.
    *
    * `rows` are the `(_epoch, event_id)` pairs read back from one sink
    * table, `writeEnd` maps each of that table's epochs to the monotonic
    * time its sink write ended, and `created` gives an event's creation
    * time on the same clock. Only events `counted` contributes.
    */
  def rowLatencies(
      rows: Iterator[(Long, Long)],
      writeEnd: Long => Option[Long],
      created: Long => Long,
      counted: Long => Boolean): Seq[Double] =
    rows.collect { case (epoch, id) if counted(id) =>
      val end = writeEnd(epoch).getOrElse(
        throw new IllegalStateException(s"row of event $id in epoch $epoch has no recorded sink write"))
      (end - created(id)) / 1e9
    }.toSeq
}
