package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed per span. Every Spark job a span submits carries
  * the span name as a local property; the listener maps the job's
  * stages to that span and adds each finished task's metrics to it.
  * Driver-side work inside a span shows in its wall time only. */
final class LayerListener extends SparkListener {
  final class Acc {
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val jobsEnded = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()

  def acc(span: String): Acc = accs.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(LayerListener.SpanKey)))
      .getOrElse("")
    jobSpan.put(e.jobId, span)
    e.stageIds.foreach(id => stageSpan.put(id, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobsEnded.put(e.jobId, true)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val span = stageSpan.get(e.stageId)
    if (m != null && span != null && span.nonEmpty) {
      val a = acc(span)
      a.cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Blocks until the listener bus has delivered every event posted so
    * far: runs a one-task job under a sentinel span and waits for its
    * end event (the bus delivers in order). */
  def drain(sc: SparkContext): Unit = {
    val sentinel = s"drain-${System.nanoTime()}"
    sc.setLocalProperty(LayerListener.SpanKey, sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(LayerListener.SpanKey, null)
    val deadline = System.nanoTime() + 30000000000L
    def seen = jobSpan.entrySet().stream()
      .anyMatch(en => en.getValue == sentinel &&
        jobsEnded.containsKey(en.getKey))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object LayerListener {
  val SpanKey = "perfbench.span"
}

/** Spans of one traced pipeline pass. `span` times a layer call that
  * forces its own output; `aux` runs bookkeeping (counts for ratios)
  * whose jobs are attributed to no span and whose time is not
  * recorded. Values land in `metrics` under the layer's name. */
final class Tracer(sc: SparkContext, listener: LayerListener, pass: Int) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val spans = mutable.ArrayBuffer.empty[String]

  def span[T](name: String)(body: => T): T = {
    val key = s"$pass:$name"
    sc.setLocalProperty(LayerListener.SpanKey, key)
    val t0 = System.nanoTime()
    try body
    finally {
      metrics(name) = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(LayerListener.SpanKey, null)
      spans += name
    }
  }

  def aux[T](body: => T): T = {
    sc.setLocalProperty(LayerListener.SpanKey, null)
    body
  }

  def count(name: String, v: Double): Unit = metrics(name) = v

  def spanSeconds: Double = spans.map(metrics).sum

  /** Adds `.cpu_s`, `.gc_s`, `.shuffle_bytes`, `.spill_bytes` to every
    * span, once the listener has caught up. */
  def finish(): Unit = {
    listener.drain(sc)
    spans.foreach { name =>
      val a = listener.acc(s"$pass:$name")
      metrics(s"$name.cpu_s") = a.cpuNs.get / 1e9
      metrics(s"$name.gc_s") = a.gcMs.get / 1e3
      metrics(s"$name.shuffle_bytes") = a.shuffleBytes.get.toDouble
      metrics(s"$name.spill_bytes") = a.spillBytes.get.toDouble
    }
  }
}
