package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.CrawlJob
import graft.model._

/** The Spark jobs one `runResumable` call runs, pinned per seen-set
  * path: a Bloom first run into an empty table (exact join only), a
  * Bloom resumed run (filter rebuild, aligned probe, confirm join) and a
  * cuckoo resumed run (sketch build from the committed table, aligned
  * probe, confirm join); and the jobs of one `TableIO.compact`. A
  * change that adds or drops a job in the resumable crawl or the table
  * compaction fails here and must restate the count. */
class ResumableJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Jobs started while `body` runs. */
  private def jobCount(body: => Any): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  // a config no other crawl spec uses, so no frame another spec left
  // cached can stand in for a job here
  private val cfg = CrawlConfig(sites = Seq("portal_saude_mg", "mds_saldo"),
    years = YearSelector.Single(2023),
    months = MonthSelector.Multiple(Seq(1, 2, 3)),
    nowYear = 2024, nowMonth = 6, maxPages = 2)

  test("runResumable: Spark jobs of a first run and of Bloom and cuckoo resumed runs") {
    val dir = Files.createTempDirectory("graft-jobs").toString
    def jobsOf(c: CrawlConfig, runId: String): Int = {
      var result: CrawlJob.CrawlResult = null
      val n = jobCount { result = CrawlJob.runResumable(spark, c, dir, runId)._1 }
      result.unpersist()
      n
    }
    def exists(rel: String) = Files.exists(Paths.get(dir, rel))
    val first = jobsOf(cfg, "run-1")
    assert(graft.table.TableIO.readSeen(spark, dir).count() > 0,
      "the first run must commit seen keys for the resumed runs to probe")
    val bloom = jobsOf(cfg, "run-2")
    assert(exists("_bloom/run-2/part-00000.bloom"), "no Bloom sketch written")
    val cuckoo = jobsOf(cfg.copy(seenSketch = "cuckoo"), "run-3")
    assert(exists("_cuckoo/meta.json"), "no cuckoo sketch written")
    val counts = Seq("bloom, empty table" -> first,
      "bloom, resumed" -> bloom, "cuckoo, resumed" -> cuckoo)
    assert(counts === Seq("bloom, empty table" -> 10,
      "bloom, resumed" -> 14, "cuckoo, resumed" -> 15))
  }

  test("TableIO.compact: Spark jobs of compacting a two-commit table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-jobs-compact").toString
    def image(month: Int, i: Int) = ImageRecord(s"img-$month-$i",
      Array.fill[Byte](i)(1), 1, 1, "png", "cap", i.toLong, "site", 2024,
      month, s"http://h/$month/$i", month * 100L + i, 0L, 1)
    for (m <- 1 to 2)
      graft.table.TableIO.commit(spark, dir,
        (1 to 20).map(image(m, _)).toDS(),
        (1 to 20).map(m * 100L + _).toDS(), s"c-$m", Nil)
    assert(jobCount { graft.table.TableIO.compact(spark, dir) } === 5)
  }
}
