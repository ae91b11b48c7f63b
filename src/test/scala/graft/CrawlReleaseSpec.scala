package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.CrawlJob
import graft.model._

/** A crawl result releases every frame the crawl pinned: a long-lived
  * driver running many crawls must not accumulate cached blocks. */
class CrawlReleaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("CrawlJob.run under All selectors: unpersist leaves the CacheManager empty") {
    // an All selector makes the early-stop pass live, so the result's
    // frontier is a pruned view of the pinned frontier, not the pin
    val cfgAll = CrawlConfig(sites = Seq("portal_saude_mg"),
      years = YearSelector.Single(2024), months = MonthSelector.All,
      nowYear = 2024, nowMonth = 6, maxPages = 2)
    spark.catalog.clearCache()
    val r = CrawlJob.run(spark, cfgAll)
    assert(r.log.count() > 0)
    r.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "CrawlResult.unpersist left a cached frame pinned in the driver")
  }
}
