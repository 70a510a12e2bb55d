package graftbench

/** A fixed, allocation-free piece of single-threaded CPU work, timed after
  * every timed operation. Its median over a run says how fast the host ran
  * during that run: on a shared host the same code runs up to 2x slower
  * when neighbours are busy, and the canary slows with it.
  */
object Canary {
  /** The canary's median on an unloaded 4-core host of the kind the
    * benchmark was tuned on; gated metrics are scaled to it.
    */
  val ReferenceMs = 8.0

  private val buf = new Array[Long](1 << 15)
  @volatile private var sink = 0L

  /** ms for the fixed work: the fastest of three passes, which drops a
    * pass that a GC or a JIT compile in this JVM happened to interrupt.
    */
  def sample(): Double = Seq.fill(3)(pass()).min

  private def pass(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 3000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = (x & 0x7fff).toInt
      buf(j) += x
      i += 1
    }
    sink += buf(0)
    (System.nanoTime() - t0) / 1e6
  }
}
