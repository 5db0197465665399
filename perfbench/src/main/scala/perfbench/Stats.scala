package perfbench

/** One timed call: a registered query or a Search path, then the checksum.
  * Times are System.nanoTime() readings; `startMs`/`endMs` are wall-clock
  * milliseconds, the clock Spark stamps listener events with. */
final case class OpRecord(pass: Int, name: String, module: String,
    startMs: Long, endMs: Long, t0: Long, t1: Long, t2: Long, t3: Long,
    ok: Boolean) {
  def constructMs: Double = (t1 - t0) / 1e6
  def planMs: Double = (t2 - t1) / 1e6
  def execMs: Double = (t3 - t2) / 1e6
  /** Op wall; construct + plan + exec account for all of it. */
  def wallMs: Double = (t3 - t0) / 1e6
}

object Stats {
  /** Ops that must lie beyond the reported tail percentile. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has `TailBeyond` samples above it:
    * (value, percentile). Needs more than `TailBeyond` samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    require(n > TailBeyond, s"tail needs more than $TailBeyond samples, got $n")
    (xs.sorted.apply(n - 1 - TailBeyond), 100.0 * (n - TailBeyond) / n)
  }

  /** Latency of an op for the percentiles: a failed op misses every
    * latency limit, so it sorts above every op that succeeded. */
  def latencyMs(op: OpRecord): Double =
    if (op.ok) op.wallMs else Double.PositiveInfinity

  /** What a timed phase is charged for its ops. A failed op is charged at
    * least the slowest successful op of the run, so a query that breaks
    * fast can never make `wall_s` look better. */
  def chargedWallMs(clockMs: Double, ops: Seq[OpRecord], slowestOkMs: Double): Double =
    clockMs + ops.filterNot(_.ok).map(o => math.max(0.0, slowestOkMs - o.wallMs)).sum

  def failedRatio(ops: Seq[OpRecord]): Double =
    if (ops.isEmpty) 0.0 else ops.count(!_.ok).toDouble / ops.length
}
