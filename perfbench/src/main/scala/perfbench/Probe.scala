package perfbench

import org.apache.spark.SparkContext

/** A fixed reference kernel run as Spark tasks, two per core, so it
  * runs on the job's own task threads and cores. Its work is the same
  * on every run, so its task CPU reads how much CPU time the host
  * charges for a fixed amount of work at that moment. */
object Probe {

  /** One task's work: sort a pseudo-random array, then insert its keys
    * into an open-addressing table twice its size (branches and random
    * memory access, little garbage). */
  def work(salt: Long): Long = {
    val n = 1 << 20
    val xs = new Array[Long](n)
    var i = 0
    while (i < n) { xs(i) = graft.url.Hashing.mix(i.toLong, salt); i += 1 }
    java.util.Arrays.sort(xs)
    val table = new Array[Long](2 * n)
    val mask = 2 * n - 1
    var distinct = 0L
    i = 0
    while (i < n) {
      val k = (xs(i) >>> 12) | 1L
      var slot = (graft.url.Hashing.mix(k) & mask).toInt
      while (table(slot) != 0L && table(slot) != k) slot = (slot + 1) & mask
      if (table(slot) == 0L) { table(slot) = k; distinct += 1 }
      i += 1
    }
    xs(n / 2) ^ distinct
  }

  /** Runs the kernel under `span`; returns its task CPU seconds. */
  def run(sc: SparkContext, listener: LayerListener, span: String): Double = {
    val cores = sc.defaultParallelism
    sc.setLocalProperty(LayerListener.SpanKey, span)
    try sc.parallelize(0 until cores * 2, cores * 2).map(i => work(i.toLong))
      .reduce(_ ^ _)
    finally sc.setLocalProperty(LayerListener.SpanKey, null)
    listener.drain(sc)
    listener.acc(span).cpuNs.get / 1e9
  }
}
