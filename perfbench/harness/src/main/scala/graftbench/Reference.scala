package graftbench

import java.util.concurrent.{Executors, TimeUnit}

/** A fixed JVM kernel that does not touch the engine: a sort, boxed hash
  * map inserts and lookups, and BigDecimal sums over values from a fixed
  * LCG. Timed before every warm pass on as many threads as Spark has task
  * slots, it measures how fast the host runs plain JVM code at that
  * moment; the end-to-end suite time is reported in units of it.
  */
object Reference {

  private def kernel(salt: Long): Long = {
    var x = 0x9E3779B97F4A7C15L ^ salt
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 17 }
    val arr = Array.fill(1 << 19)(next())
    java.util.Arrays.sort(arr)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < 200000) { m.put(arr(i * 2) % 50000, arr(i)); i += 1 }
    var h = 0L
    i = 0
    while (i < 200000) { val v = m.get(arr(i) % 50000); if (v != null) h += v; i += 1 }
    var d = java.math.BigDecimal.ZERO
    i = 0
    while (i < 100000) {
      d = d.add(java.math.BigDecimal.valueOf(arr(i) % 1000000, 4).multiply(java.math.BigDecimal.valueOf(i % 97, 2)))
      i += 1
    }
    h ^ d.unscaledValue().longValue() ^ arr(arr.length / 2)
  }

  @volatile private var sink = 0L

  /** Wall ms of `threads` kernel runs in parallel, one per thread. */
  def timeParallelMs(threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val fs = (0 until threads).map(i => pool.submit(() => kernel(i.toLong)))
      fs.foreach(f => sink ^= f.get())
      (System.nanoTime() - t0) / 1e6
    } finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }
}
