package perfbench

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timeS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by every thread of this JVM. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU seconds used by the calling thread. */
  def threadCpuS: Double = threads.getCurrentThreadCpuTime / 1e9

  /** Wall and process-CPU seconds of `f`. */
  def measure[A](f: => A): (Double, Double) = {
    val c0 = processCpuS
    val (_, wall) = timeS(f)
    (wall, processCpuS - c0)
  }
}
