package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.CrawlJob
import graft.model._

/** The Spark jobs one `runResumable` call runs, pinned per seen-set
  * path: a Bloom first run into an empty table (exact join only), a
  * Bloom resumed run (filter rebuild, aligned probe, confirm join), a
  * cuckoo resumed run (sketch build from the committed table, aligned
  * probe, confirm join) and a Bloom resumed run under an `All` month
  * selector (early-stop count over a pinned frontier); the jobs of
  * `CrawlJob.run` and a count of its log, with an empty and a non-empty
  * seen set; and the jobs of one `TableIO.compact`, of one
  * `TableIO.invalidatePeriods` and of building a `TableIO.readImages`
  * frame. A change that adds or drops a job in the crawl or the table
  * maintenance fails here and must restate the count. */
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

  /** Jobs of one `runResumable` call into `dir`; releases its result. */
  private def resumableJobs(c: CrawlConfig, dir: String, runId: String): Int = {
    var result: CrawlJob.CrawlResult = null
    val n = jobCount { result = CrawlJob.runResumable(spark, c, dir, runId)._1 }
    result.unpersist()
    n
  }

  test("runResumable: Spark jobs of a first run and of Bloom and cuckoo resumed runs") {
    val dir = Files.createTempDirectory("graft-jobs").toString
    def exists(rel: String) = Files.exists(Paths.get(dir, rel))
    val first = resumableJobs(cfg, dir, "run-1")
    assert(graft.table.TableIO.readSeen(spark, dir).count() > 0,
      "the first run must commit seen keys for the resumed runs to probe")
    val bloom = resumableJobs(cfg, dir, "run-2")
    assert(exists("_bloom/run-2/part-00000.bloom"), "no Bloom sketch written")
    val cuckoo = resumableJobs(cfg.copy(seenSketch = "cuckoo"), dir, "run-3")
    assert(exists("_cuckoo/meta.json"), "no cuckoo sketch written")
    val counts = Seq("bloom, empty table" -> first,
      "bloom, resumed" -> bloom, "cuckoo, resumed" -> cuckoo)
    assert(counts === Seq("bloom, empty table" -> 10,
      "bloom, resumed" -> 14, "cuckoo, resumed" -> 15))
  }

  test("runResumable: Spark jobs of a Bloom resumed run under an All month selector") {
    val dir = Files.createTempDirectory("graft-jobs-all").toString
    val allCfg = cfg.copy(months = MonthSelector.All)
    resumableJobs(allCfg, dir, "run-1")
    assert(graft.table.TableIO.readSeen(spark, dir).count() > 0,
      "the first run must commit seen keys for the resumed run to probe")
    val resumed = resumableJobs(allCfg, dir, "run-2")
    assert(resumed === 18)
  }

  test("CrawlJob.run: Spark jobs with an empty and a non-empty seen set; an empty one plans no join") {
    import spark.implicits._
    val runCfg = cfg.copy(maxPages = 3)
    def jobsOf(seen: Set[Long]): Int = {
      var result: CrawlJob.CrawlResult = null
      val n = jobCount {
        result = CrawlJob.run(spark, runCfg, seen)
        result.log.count()
      }
      result.unpersist()
      n
    }
    def joinsOf(seen: Set[Long]): Int = {
      val r = CrawlJob.run(spark, runCfg, seen, cacheLog = false)
      try r.log.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
      finally r.unpersist()
    }
    val seen = {
      val r = CrawlJob.run(spark, runCfg)
      try r.log.filter(_.status == CrawlStatus.Success).map(_.urlHash)
        .collect().toSet
      finally r.unpersist()
    }
    assert(seen.nonEmpty)
    val counts = Seq("empty seen" -> jobsOf(Set.empty),
      "non-empty seen" -> jobsOf(seen))
    assert(joinsOf(Set.empty) === 0,
      "an empty seen set must fold flagSeen's join away")
    assert(joinsOf(seen) === 1)
    // a non-empty set costs one job more: the broadcast of its local
    // relation into the exact join
    assert(counts === Seq("empty seen" -> 7, "non-empty seen" -> 8))
  }

  /** A table of two commits, 20 image rows and their seen keys each,
    * one month per commit. */
  private def twoCommitTable(prefix: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(prefix).toString
    def image(month: Int, i: Int) = ImageRecord(s"img-$month-$i",
      Array.fill[Byte](i)(1), 1, 1, "png", "cap", i.toLong, "site", 2024,
      month, s"http://h/$month/$i", month * 100L + i, 0L, 1)
    for (m <- 1 to 2)
      graft.table.TableIO.commit(spark, dir,
        (1 to 20).map(image(m, _)).toDS(),
        (1 to 20).map(m * 100L + _).toDS(), s"c-$m", Nil)
    dir
  }

  test("TableIO.compact: Spark jobs of compacting a two-commit table") {
    val dir = twoCommitTable("graft-jobs-compact")
    assert(jobCount { graft.table.TableIO.compact(spark, dir) } === 3)
  }

  test("TableIO.readImages: building the frame of a two-commit table runs no job") {
    val dir = twoCommitTable("graft-jobs-read")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobCount { df = graft.table.TableIO.readImages(spark, dir) } === 0)
    assert(df.columns.toSeq === Seq("image_id", "bytes", "w", "h", "fmt",
      "caption", "phash", "url", "urlHash", "vtimeMs", "attempts", "site",
      "year", "month"))
    assert(df.count() === 40)
  }

  test("TableIO.invalidatePeriods: Spark jobs of dropping one month, then the other") {
    val dir = twoCommitTable("graft-jobs-invalidate")
    val first = jobCount {
      graft.table.TableIO.invalidatePeriods(spark, dir, Set(("site", 2024, 1)))
    }
    assert(graft.table.TableIO.readSeen(spark, dir).collect().toSet ===
      (1 to 20).map(200L + _).toSet)
    // the second drop evicts every key: no seen dir is referenced or left
    val second = jobCount {
      graft.table.TableIO.invalidatePeriods(spark, dir, Set(("site", 2024, 2)))
    }
    val snap = graft.table.TableIO.currentSnapshot(dir).get
    assert(snap.seenDirs.isEmpty && snap.totalRows === 0L)
    assert(!Files.exists(Paths.get(dir, f"seen/v${snap.version}%05d")))
    assert(Seq(first, second) === Seq(2, 2))
  }
}
