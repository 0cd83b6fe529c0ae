package graft.bench

/** Host-speed probe: fixed single-threaded integer work that no program
  * change touches. The host's speed drifts by tens of percent over minutes
  * (co-tenants share its cores' caches, memory and frequency budget, with
  * no CPU steal to show for it), so a run times this probe between its
  * set-ups and passes and reports its timings at the reference speed. */
object HostProbe {
  /** The probe's time on the reference host (the 4-vCPU Xeon the bounds
    * were calibrated on, at its usual speed). */
  val ReferenceS = 0.014

  private val table = new Array[Int](1 << 14)

  /** Seconds of one round: 2^23 steps of an LCG that also reads and
    * writes a 64 KB table. */
  private def round(): Double = {
    val t0 = System.nanoTime()
    var x = 12345
    var i = 0
    while (i < (1 << 23)) {
      x = x * 1103515245 + 12345
      val j = (x >>> 18) & (table.length - 1)
      table(j) += x
      i += 1
    }
    if (table(x & (table.length - 1)) == 42) table(0) += 1
    (System.nanoTime() - t0) / 1e9
  }

  /** The fastest of seven rounds, in seconds: the minimum drops rounds
    * slowed by the JVM's own background threads (JIT, GC, Spark). */
  def probe(): Double = (0 until 7).map(_ => round()).min
}
