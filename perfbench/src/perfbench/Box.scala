package perfbench

/** Load on the machine, apart from the engine's own work: steal and
  * iowait shares from /proc/stat, and the wall time of a fixed CPU loop
  * on every core. The loop does identical work each time, so a slower
  * reading means other load was queued on the cores. */
object Box {

  final case class CpuTicks(steal: Long, iowait: Long, total: Long)

  /** Aggregate `cpu` line of /proc/stat; zeros where it is unreadable. */
  def ticks(): CpuTicks =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      CpuTicks(if (f.length > 7) f(7) else 0L, f(4), f.take(8).sum)
    } catch { case _: Exception => CpuTicks(0, 0, 0) }

  /** (steal %, iowait %) of all CPU time between two readings. */
  def shares(a: CpuTicks, b: CpuTicks): (Double, Double) = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) (0.0, 0.0)
    else (100.0 * (b.steal - a.steal) / total,
      100.0 * (b.iowait - a.iowait) / total)
  }

  val Threads: Int = Runtime.getRuntime.availableProcessors()

  /** Seconds for `Threads` threads to each run the same fixed loop. */
  def calibrate(iterations: Long = 100000000L): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val threads = (0 until Threads).map { t =>
      new Thread(() => {
        var x = t + 1L
        var i = 0L
        while (i < iterations) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        sink.addAndGet(x)
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
