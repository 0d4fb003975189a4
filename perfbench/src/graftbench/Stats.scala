package graftbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Linear-interpolated percentile `p` (0–100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.length - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Tail percentiles a run may report, highest first. */
  val TailCandidates: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest candidate percentile with at least `beyond` samples
    * above it: a p90 over 40 samples rests on four points, so it is not
    * reported; with 40 samples the answer is p75.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    TailCandidates.find(p => n * (100 - p) / 100.0 >= beyond)
}

/** Open-loop arrival schedule: event `i` is due at `start + i / rate`.
  * The generator waits until each due time, never for the program, so a
  * slow consumer shows as latency rather than as a lower offered load.
  * `late` is how far behind its due time each emission actually ran —
  * large values mean the generator, not the program, set the pace and
  * the run is not a valid open-loop measurement.
  */
final class Schedule(rate: Double, startNanos: Long) {
  def dueNanos(i: Int): Long = startNanos + (i * 1e9 / rate).toLong

  private var worst = 0L

  /** Record that event `i` was emitted at `atNanos`; returns its lateness. */
  def emitted(i: Int, atNanos: Long): Long = {
    val late = math.max(0L, atNanos - dueNanos(i))
    if (late > worst) worst = late
    late
  }

  def lateMaxSeconds: Double = worst / 1e9

  /** Sleep until event `i` is due (returns at once when already late). */
  def awaitDue(i: Int): Unit = {
    var wait = dueNanos(i) - System.nanoTime()
    while (wait > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(wait)
      wait = dueNanos(i) - System.nanoTime()
    }
  }
}
