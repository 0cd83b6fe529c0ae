package graft.tools

import java.util.concurrent.atomic.AtomicLong

/** Host-ceiling microbenches (no Spark), the ceilings a job ladder on the
  * same host is judged against (BENCH/BASELINE.md):
  * `runMain graft.tools.HostBench <cpu|alloc|shuffle> [totalOps] [reps]`.
  * Fixed TOTAL work split across 4, 8, 16 and 32 threads, interleaved reps,
  * min per level (co-tenant interference is bimodal; min is the steady
  * state); efficiency(N→4N) = t_N / (4·t_4N), the job ladder's formula.
  *  - `cpu`: register-only integer mixing, zero allocation; any loss is
  *    the hypervisor's vCPU budget, a floor under every ladder.
  *  - `alloc`: the string/row churn of a scan-transform (StringBuilder →
  *    String → substring → survivor ring → boxed Long), the annotate job's.
  *  - `shuffle`: a shuffle's memory pattern, the linkage pipeline's: encode
  *    (key, payload) records into per-partition chunked byte buffers, then
  *    decode them into an open-addressing hash aggregate; 4 partitions per
  *    thread, so buffers scale with threads as partitions do with cores.
  */
object HostBench {

  private val sink = new AtomicLong(0)
  private final val ChunkSize = 1 << 16
  private final val RecBytes = 16 // 8B key + 8B payload

  /** Per-thread work (ops, thread index), default total ops, warm-up share. */
  private final case class Kernel(work: (Long, Int) => Long, defaultOps: Long, warmupDiv: Int,
                                  rate: Double => String)

  private val kernels = Map(
    "cpu" -> Kernel((ops, k) => cpuWork(ops, k + 1), 60000000000L, 8, r => f"${r / 1e9}%6.2f Gops/s"),
    "alloc" -> Kernel(allocWork, 400000000L, 4, r => f"${r / 1e6}%7.1f Mops/s"),
    "shuffle" -> Kernel((ops, k) => shuffleWork(ops, k + 1, 4), 800000000L, 4, r => f"${r / 1e6}%7.1f Mops/s"))

  private def cpuWork(opsPerThread: Long, seed: Int): Long = {
    var h = seed.toLong * 0x9e3779b97f4a7c15L + 1
    var acc = 0L
    var i = 0L
    while (i < opsPerThread) {
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      acc += h
      i += 1
    }
    acc
  }

  private def allocWork(opsPerThread: Long, seed: Int): Long = {
    var h = seed.toLong * 0x9e3779b9L + 1
    var i = 0L
    var acc = 0L
    val ring = new Array[String](1024)
    while (i < opsPerThread) {
      val sb = new java.lang.StringBuilder(48)
      sb.append("tok").append(i % 9973).append(' ')
        .append("mention").append(h & 0xffff)
      val s = sb.toString
      val sub = s.substring(1, s.length - 1)
      ring((i & 1023).toInt) = sub
      acc += sub.hashCode + java.lang.Long.valueOf(h).hashCode()
      h = h * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    acc + ring(0).length
  }

  private def shuffleWork(opsPerThread: Long, seed: Int, partitions: Int): Long = {
    // map side: hash-partitioned chunked write buffers
    val chunks = Array.fill(partitions)(new java.util.ArrayList[Array[Byte]]())
    val cur = new Array[Array[Byte]](partitions)
    val pos = new Array[Int](partitions)
    var h = seed.toLong * 0x9e3779b97f4a7c15L + 1
    var i = 0L
    while (i < opsPerThread) {
      val key = h ^ (h >>> 31)
      val p = ((key % partitions).toInt + partitions) % partitions
      var buf = cur(p)
      if (buf == null || pos(p) + RecBytes > ChunkSize) {
        buf = new Array[Byte](ChunkSize)
        chunks(p).add(buf)
        cur(p) = buf
        pos(p) = 0
      }
      var o = pos(p)
      var k = key
      var b = 0
      while (b < 8) { buf(o + b) = (k & 0xff).toByte; k >>>= 8; b += 1 }
      var v = h
      b = 0
      while (b < 8) { buf(o + 8 + b) = (v & 0xff).toByte; v >>>= 8; b += 1 }
      pos(p) = o + RecBytes
      h = h * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    // read side: decode + open-addressing hash aggregate (power-of-2 table)
    var acc = 0L
    val cap = Integer.highestOneBit(math.max(1024, (opsPerThread / 64).toInt)) << 1
    val keys = new Array[Long](cap)
    val vals = new Array[Long](cap)
    val mask = cap - 1
    var p = 0
    while (p < partitions) {
      val list = chunks(p)
      var ci = 0
      while (ci < list.size()) {
        val buf = list.get(ci)
        val limit = if (ci == list.size() - 1 && cur(p) == buf) pos(p) else ChunkSize / RecBytes * RecBytes
        var o = 0
        while (o + RecBytes <= limit) {
          var k = 0L
          var b = 7
          while (b >= 0) { k = (k << 8) | (buf(o + b) & 0xffL); b -= 1 }
          var v = 0L
          b = 7
          while (b >= 0) { v = (v << 8) | (buf(o + 8 + b) & 0xffL); b -= 1 }
          var slot = (k ^ (k >>> 33)).toInt & mask
          var probed = 0
          while (keys(slot) != 0 && keys(slot) != k && probed < 32) {
            slot = (slot + 1) & mask; probed += 1
          }
          keys(slot) = k
          vals(slot) += v
          acc += vals(slot)
          o += RecBytes
        }
        ci += 1
      }
      p += 1
    }
    acc
  }

  private def run(kernel: Kernel, threads: Int, totalOps: Long): Double = {
    val per = totalOps / threads
    val ts = (0 until threads).map(k => new Thread(() => { sink.addAndGet(kernel.work(per, k)) }))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    val kernel = kernels.getOrElse(name,
      sys.error(s"usage: HostBench <${kernels.keys.mkString("|")}> [totalOps] [reps]"))
    val totalOps = args.lift(1).map(_.toLong).getOrElse(kernel.defaultOps)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val levels = Seq(4, 8, 16, 32)
    run(kernel, 32, totalOps / kernel.warmupDiv) // JIT + heap warm-up, untimed
    val samples = for (r <- 1 to reps; k <- levels) yield {
      val t = run(kernel, k, totalOps)
      println(f"[$name-sample] rep$r threads=$k%2d: $t%6.2f s")
      k -> t
    }
    val best = levels.map(k => k -> samples.filter(_._1 == k).map(_._2).min).toMap
    levels.foreach { k =>
      println(f"[$name] threads=$k%2d  min=${best(k)}%6.2f s  (${kernel.rate(totalOps / best(k))})")
    }
    def eff(lo: Int, hi: Int) = best(lo) / (4.0 * best(hi))
    println(f"[$name] efficiency 4->16 = ${eff(4, 16)}%.3f   8->32 = ${eff(8, 32)}%.3f")
  }
}
