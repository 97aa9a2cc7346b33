package perfbench

/** Environment stamp: how busy the host was around a run, so drift caused
  * by a loaded box can be told apart from a change in the engine.
  *
  * The calibration loops are fixed work (xorshift64 steps) whose wall time
  * on an idle core is a machine constant. The multi-thread loop runs the
  * same work on every core at once; its inflation over the single-thread
  * time measures how much parallel CPU the host actually grants.
  */
object Env {
  private val Steps = 80000000L

  private def xorshift(n: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  @volatile private var sink = 0L

  /** Milliseconds for [[Steps]] steps on one thread, after a JIT warm-up. */
  def calibMs(): Double = {
    sink ^= xorshift(Steps / 8)
    val t0 = System.nanoTime()
    sink ^= xorshift(Steps)
    (System.nanoTime() - t0) / 1e6
  }

  /** Milliseconds for [[Steps]] steps on each of `threads` threads at once. */
  def calibMtMs(threads: Int): Double = {
    sink ^= xorshift(Steps / 8)
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => { val v = xorshift(Steps); synchronized(sink ^= v) })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** (load1, load5, load15) from /proc/loadavg, or -1s when unreadable. */
  def loadAvg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq finally src.close()
    } catch { case _: Exception => Seq(-1.0, -1.0, -1.0) }

  /** Peak resident set of this JVM (VmHWM) in MB, or -1 when unreadable.
    * In local mode the executors run inside this process.
    */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }

  def stamp(cores: Int): Map[String, Any] = Map(
    "load" -> loadAvg(),
    "calib_ms" -> calibMs(),
    "calib_mt_ms" -> calibMtMs(cores))
}
