package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.IndexFixtures._

/** Docs accounting of the four persisted ops indexes, one table-driven
  * case each: `docs` after append, compact and deleteIds of a known id
  * set; deleting every id leaves no delta (and no delta dir) with
  * `docs = 0`, and the emptied index still probes and appends. Compact
  * and deleteIds count their rows in the write itself: no emptiness job
  * and no read-back count runs. */
class IndexDocsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Stage names of every job `body` runs ("<action> at <File>:<line>"
    * for the action's own stage). */
  private def stageNames(body: => Any): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => names.add(s.name))
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    names.toArray(Array.empty[String]).toSeq
  }

  /** An emptiness probe or a count action issued by the index itself. */
  private val extraJob = """^(isEmpty|count) at \w+Index\.scala:""".r

  for (s <- stores)
    test(s"${s.name}: docs after append, compact and deleteIds; an emptied index takes probes and appends") {
      val dir = tmpDir("docs")
      assert(s.create(dir).docs === corpus.size)
      val m1 = s.append(dir, batch1, "r1")
      assert(m1.docs === corpus.size + batch1.size && m1.deltas.size === 2)
      assert(s.append(dir, batch1, "r1") === m1, "a replayed runId is a no-op")
      assert(s.probe(dir).nonEmpty)

      val compactJobs = stageNames {
        val mc = s.compact(dir)
        assert(mc.docs === m1.docs && mc.deltas.size === 1)
        assert(mc.committedRunIds === Set("r1"))
      }
      val deleted = Seq(1L, 101L, 102L)
      val deleteJobs = stageNames {
        val md = s.deleteIds(dir, deleted)
        assert(md.docs === m1.docs - deleted.size && md.deltas.size === 1)
      }
      assert(s.meta(dir).docs === m1.docs - deleted.size)
      assert((compactJobs ++ deleteJobs).filter(extraJob.findFirstIn(_)
        .isDefined).isEmpty, s"emptiness or read-back jobs: " +
        (compactJobs ++ deleteJobs).mkString(", "))

      val me = s.deleteIds(dir, corpus ++ batch1)
      assert(me.docs === 0L && me.deltas.isEmpty)
      assert(s.meta(dir) === me)
      assert(s.rows(dir).filterNot(_ == "stops").isEmpty)
      s.roots.foreach(r =>
        assert(!Files.exists(Paths.get(dir, r)), s"emptied index keeps $r/"))
      assert(s.probe(dir).isEmpty)
      assert(s.deleteIds(dir, corpus) === me)

      val ma = s.append(dir, batch2, "r2")
      assert(ma.docs === batch2.size && ma.deltas.size === 1)
      assert(ma.committedRunIds === Set("r1", "r2"))
      assert(s.probe(dir).nonEmpty, "the refilled index pairs again")
    }
}
