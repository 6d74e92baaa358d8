package storebench

/** A fixed amount of single-threaded CPU and cache work, independent of the
  * program under test. Timed beside every operation, it measures how fast
  * the machine is running at that moment. */
object Calibration {
  /** The reference speed: the fixed work takes this long on a quiet 4-core
    * x86-64 machine. A time t measured while the work took c ms is reported
    * as t * ReferenceMs / c. */
  val ReferenceMs = 5.0

  private val buf = new Array[Long](1 << 17) // 1 MiB
  @volatile private var sink = 0L

  /** Milliseconds the fixed work takes now. */
  def ms(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    val mask = buf.length - 1
    while (i < 2000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = (x & mask).toInt
      acc += buf(j); buf(j) = x
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e6
  }
}
