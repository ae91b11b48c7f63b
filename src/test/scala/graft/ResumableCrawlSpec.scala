package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.CrawlJob
import graft.model._

/** The production resume path (Bloom prefilter + exact seen join +
  * snapshot commit) must be semantically identical to the broadcast-set
  * reference path. */
class ResumableCrawlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cfg = CrawlConfig(sites = Seq("portal_saude_mg", "mds_saldo"),
    years = YearSelector.Single(2024),
    months = MonthSelector.Multiple(Seq(1, 2, 3)),
    nowYear = 2024, nowMonth = 6, maxPages = 3)

  test("runResumable twice: second run all-skipped, no new rows, log parity") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val (r1, snap1) = CrawlJob.runResumable(spark, cfg, dir, "run-1")
    assert(snap1.version === 1)
    assert(snap1.totalRows === r1.images.count())

    val (r2, snap2) = CrawlJob.runResumable(spark, cfg, dir, "run-2")
    assert(snap2.version === 2)
    assert(snap2.totalRows === snap1.totalRows, "resume added rows")
    // every previously-successful URL skipped; others re-attempted
    val seen1 = CrawlJob.seenFrom(r1.log).collect().toSet
    val log2 = r2.log.collect()
    assert(log2.filter(e => seen1.contains(e.urlHash))
      .forall(_.status == CrawlStatus.Skipped))
    assert(log2.filterNot(e => seen1.contains(e.urlHash))
      .forall(_.status != CrawlStatus.Skipped))

    // bloom filters of prior runs are garbage-collected: after run-2
    // the _bloom dir holds run-2's filter set only (one file per
    // partition + nothing from run-1)
    val bloomRoot = new java.io.File(s"$dir/_bloom")
    assert(bloomRoot.listFiles().map(_.getName).toSeq === Seq("run-2"))
    assert(bloomRoot.listFiles()(0).listFiles()
      .forall(_.getName.endsWith(".bloom")))

    // the commit's Success-only seen delta is EQUIVALENT to the old
    // full-shuffle formulation seenFrom(log).except(committedSeen) —
    // exactness of the skip flags makes the `except` redundant. Checked
    // on both runs of this two-run crawl.
    for ((r, priorSeen) <- Seq((r1, Set.empty[Long]), (r2, seen1))) {
      val viaExcept = CrawlJob.seenFrom(r.log).collect().toSet -- priorSeen
      assert(CrawlJob.newSeenFrom(r.log).collect().toSet === viaExcept)
    }
    // committed deltas are pairwise disjoint (the readSeen no-dedup
    // invariant): run-2 contributed nothing already in run-1's delta
    assert((CrawlJob.newSeenFrom(r2.log).collect().toSet & seen1).isEmpty)
    val seenTable = graft.table.TableIO.readSeen(spark, dir).collect()
    assert(seenTable.length === seenTable.distinct.length,
      "committed seen dirs must union to a duplicate-free set")

    // parity with the broadcast-set reference path
    val ref = CrawlJob.run(spark, cfg, seen1)
    def canon(l: Seq[CrawlLogEntry]) =
      l.sortBy(e => (e.site, e.host, e.vtimeMs, e.year, e.month, e.seq))
        .map(e => (e.site, e.year, e.month, e.seq, e.url, e.urlHash,
          e.vtimeMs, e.attempts, e.status))
    assert(canon(log2.toSeq) === canon(ref.log.collect().toSeq))
  }

  test("invalidatePeriods re-opens a revised month: only it refetches, table converges") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-invalidate").toString
    val (r1, _) = CrawlJob.runResumable(spark, cfg, dir, "run-1")
    val fullImages = r1.images.collect()
      .map(i => (i.image_id, i.site, i.phash)).toSet
    val monthTwoHashes = r1.log.collect()
      .filter(e => e.month == 2 && e.status == CrawlStatus.Success)
      .map(_.urlHash).toSet
    assert(monthTwoHashes.nonEmpty, "month 2 must have successes")

    // the portal republished month 2 -> re-open BOTH sites' month 2
    val reopened = cfg.sites.map(s => (s, 2024, 2)).toSet
    val snap = graft.table.TableIO
      .invalidatePeriods(spark, dir, reopened).get
    assert(snap.lineage.runId.startsWith("invalidate-"))
    // seen set no longer contains month-2 hashes; table dropped month 2
    val seenAfter = graft.table.TableIO.readSeen(spark, dir).collect().toSet
    assert((seenAfter & monthTwoHashes).isEmpty)
    assert(graft.table.TableIO.readImages(spark, dir)
      .filter(col("month") === 2).count() === 0)

    // next resumable run refetches EXACTLY month 2
    val (r2, _) = CrawlJob.runResumable(spark, cfg, dir, "run-2")
    val log2 = r2.log.collect()
    assert(log2.filter(_.month == 2)
      .forall(_.status != CrawlStatus.Skipped), "month 2 must refetch")
    assert(log2.filter(e => e.month != 2 &&
        CrawlJob.seenFrom(r1.log).collect().toSet.contains(e.urlHash))
      .forall(_.status == CrawlStatus.Skipped),
      "other committed months must stay skipped")
    // final table equals the original uninterrupted crawl
    val gotImages = graft.table.TableIO.readImages(spark, dir)
      .select("image_id", "site", "phash").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(gotImages === fullImages)
    // replay idempotence index survived the invalidation commit
    assert(graft.table.TableIO.committedRunIds(dir)
      .contains("run-1"))
  }

  test("cuckoo seen sketch: delta-inserted across runs, bloom parity, evicted in place on invalidate") {
    import graft.seen.CuckooSeen
    val cfg12 = cfg.copy(months = MonthSelector.Multiple(Seq(1, 2)),
      seenSketch = "cuckoo")
    val cfg123 = cfg.copy(seenSketch = "cuckoo")
    val dir = Files.createTempDirectory("graft-resume-ck").toString

    // run 1: empty seen set — exact path, no sketch yet
    val (r1, snap1) = CrawlJob.runResumable(spark, cfg12, dir, "ck-1")
    assert(CuckooSeen.readMeta(s"$dir/_cuckoo").isEmpty)

    // run 2 (adds month 3): sketch built covering run 1's delta;
    // committed URLs skip, month 3 fetches
    val (r2, snap2) = CrawlJob.runResumable(spark, cfg123, dir, "ck-2")
    val meta2 = CuckooSeen.readMeta(s"$dir/_cuckoo")
    assert(meta2.isDefined, "sketch must persist in table storage")
    assert(meta2.get.covered === snap1.seenDirs)
    val seen1 = CrawlJob.seenFrom(r1.log).collect().toSet
    val log2 = r2.log.collect()
    assert(log2.filter(e => seen1.contains(e.urlHash))
      .forall(_.status == CrawlStatus.Skipped))
    assert(log2.filter(_.month == 3).nonEmpty)
    assert(log2.filter(_.month == 3).forall(_.status != CrawlStatus.Skipped))

    // marker file: any REBUILD goes through dropDir and would delete
    // it — its survival proves the following runs maintained the
    // sketch incrementally (delta inserts / in-place eviction)
    val marker = java.nio.file.Paths.get(s"$dir/_cuckoo", "marker.keep")
    java.nio.file.Files.writeString(marker, "incremental-witness")

    // run 3: skips exactly the committed URLs (error URLs re-attempt,
    // as in the bloom-path test); its start INSERTS run 2's delta
    val (r3, snap3) = CrawlJob.runResumable(spark, cfg123, dir, "ck-3")
    val seen12 = seen1 ++ CrawlJob.seenFrom(r2.log).collect().toSet
    val log3 = r3.log.collect()
    assert(log3.filter(e => seen12.contains(e.urlHash))
      .forall(_.status == CrawlStatus.Skipped))
    assert(log3.filterNot(e => seen12.contains(e.urlHash))
      .forall(_.status != CrawlStatus.Skipped))
    assert(snap3.totalRows === snap2.totalRows)
    assert(java.nio.file.Files.exists(marker), "run 3 rebuilt the sketch")
    assert(CuckooSeen.readMeta(s"$dir/_cuckoo").get.covered
      === snap2.seenDirs)

    // parity: the bloom-backed path over the same run sequence lands
    // the identical final log (sketch choice must not change semantics)
    val dirB = Files.createTempDirectory("graft-resume-bl").toString
    CrawlJob.runResumable(spark, cfg12.copy(seenSketch = "bloom"),
      dirB, "bl-1")
    CrawlJob.runResumable(spark, cfg123.copy(seenSketch = "bloom"),
      dirB, "bl-2")
    val (rb3, _) = CrawlJob.runResumable(spark,
      cfg123.copy(seenSketch = "bloom"), dirB, "bl-3")
    def canon(l: Seq[CrawlLogEntry]) =
      l.sortBy(e => (e.site, e.host, e.year, e.month, e.seq))
        .map(e => (e.site, e.year, e.month, e.seq, e.url, e.urlHash,
          e.status))
    assert(canon(r3.log.collect().toSeq) === canon(rb3.log.collect().toSeq))

    // invalidate month 2: the sketch is evicted IN PLACE (no rebuild —
    // the O(dropped) delete a bloom filter cannot do), coverage hands
    // to the rewritten seen dir, and the next run refetches month 2
    val monthTwo = r1.log.collect()
      .filter(e => e.month == 2 && e.status == CrawlStatus.Success)
      .map(_.urlHash).toSet
    assert(monthTwo.nonEmpty)
    val snapI = graft.table.TableIO.invalidatePeriods(spark, dir,
      cfg.sites.map(s => (s, 2024, 2)).toSet).get
    assert(java.nio.file.Files.exists(marker),
      "invalidate rebuilt the sketch instead of evicting in place")
    assert(CuckooSeen.readMeta(s"$dir/_cuckoo").get.covered
      === snapI.seenDirs)

    val (r4, snap4) = CrawlJob.runResumable(spark, cfg123, dir, "ck-4")
    val log4 = r4.log.collect()
    assert(log4.filter(_.month == 2)
      .forall(_.status != CrawlStatus.Skipped), "month 2 must refetch")
    assert(log4.filter(e => e.month != 2 && seen1.contains(e.urlHash))
      .forall(_.status == CrawlStatus.Skipped))
    assert(java.nio.file.Files.exists(marker), "run 4 rebuilt the sketch")
    // table converges back to the full three-month crawl
    assert(snap4.totalRows === snap3.totalRows)
  }

  test("rollback evicts the cuckoo sketch in place; rolled-back months refetch on the next run") {
    import graft.seen.CuckooSeen
    val cfg12 = cfg.copy(months = MonthSelector.Multiple(Seq(1, 2)),
      seenSketch = "cuckoo")
    val cfg123 = cfg.copy(seenSketch = "cuckoo")
    val dir = Files.createTempDirectory("graft-rollback-ck").toString

    // v1: months 1-2; v2: +month 3 (sketch built covering v1's delta);
    // run 3's START delta-inserts v2's dir, so coverage reaches the
    // full committed set before the rollback
    val (r1, snap1) = CrawlJob.runResumable(spark, cfg12, dir, "rk-1")
    val (r2, snap2) = CrawlJob.runResumable(spark, cfg123, dir, "rk-2")
    CrawlJob.runResumable(spark, cfg123, dir, "rk-3")
    assert(CuckooSeen.readMeta(s"$dir/_cuckoo").get.covered
      === snap2.seenDirs)

    // marker: any rebuild goes through dropDir and would delete it
    val marker = java.nio.file.Paths.get(s"$dir/_cuckoo", "marker.keep")
    java.nio.file.Files.writeString(marker, "incremental-witness")

    // roll back to v1: exactly v2's covered delta is DELETED in place
    // (no rebuild), coverage hands back to v1's dir
    val snapR = graft.table.TableIO.rollback(spark, dir, 1).get
    assert(java.nio.file.Files.exists(marker),
      "rollback rebuilt the sketch instead of evicting in place")
    assert(CuckooSeen.readMeta(s"$dir/_cuckoo").get.covered
      === snap1.seenDirs)
    assert(snapR.seenDirs === snap1.seenDirs)

    // next run: month 3 refetches (its hashes left sketch AND seen
    // set), months 1-2 skip; still no rebuild
    val (r4, snap4) = CrawlJob.runResumable(spark, cfg123, dir, "rk-4")
    val log4 = r4.log.collect()
    val seen1 = CrawlJob.seenFrom(r1.log).collect().toSet
    assert(log4.filter(_.month == 3).nonEmpty)
    assert(log4.filter(_.month == 3)
      .forall(_.status != CrawlStatus.Skipped), "month 3 must refetch")
    assert(log4.filter(e => e.month != 3 && seen1.contains(e.urlHash))
      .forall(_.status == CrawlStatus.Skipped))
    assert(java.nio.file.Files.exists(marker), "run 4 rebuilt the sketch")
    // table converges back to the full three-month crawl
    assert(snap4.totalRows === snap2.totalRows)
    val fullImages = CrawlJob.run(spark, cfg123).images
      .select("image_id", "site", "phash").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(graft.table.TableIO.readImages(spark, dir)
      .select("image_id", "site", "phash").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      === fullImages)
  }

  test("a cuckoo sketch one commit behind is caught up in place by compact and by invalidatePeriods") {
    import graft.seen.CuckooSeen
    import graft.table.TableIO
    def cuckoo(months: Int*) = cfg.copy(seenSketch = "cuckoo",
      months = MonthSelector.Multiple(months))
    val template = Files.createTempDirectory("graft-lag-ck").toString
    // each run commits new URLs; a run start inserts the deltas before
    // it, so after run 3 the sketch lacks run 3's own delta
    val (r1, _) = CrawlJob.runResumable(spark, cuckoo(1), template, "lag-1")
    val (r2, _) = CrawlJob.runResumable(spark, cuckoo(1, 2), template, "lag-2")
    val (r3, snap3) =
      CrawlJob.runResumable(spark, cuckoo(1, 2, 3), template, "lag-3")
    Seq(r1, r3).foreach(_.unpersist())
    assert(snap3.seenDirs.size === 3, "every run must commit new URLs")
    assert(CuckooSeen.readMeta(CuckooSeen.sketchDir(template)).get.covered
      === snap3.seenDirs.init)
    // marker file: any rebuild or drop deletes it
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      CuckooSeen.sketchDir(template), "marker.keep"), "incremental-witness")
    val monthTwo = r2.log.collect()
      .filter(e => e.month == 2 && e.status == CrawlStatus.Success)
      .map(_.urlHash).toSet
    r2.unpersist()
    assert(monthTwo.nonEmpty)
    val committed = TableIO.readSeen(spark, template).collect().toSet

    def check(op: String, maintain: String => TableIO.Snapshot,
        reopened: Set[Long]): Unit = {
      val dir = Files.createTempDirectory(s"graft-lag-$op").toString
      IndexFixtures.copyTree(template, dir)
      val snap = maintain(dir)
      val marker =
        java.nio.file.Paths.get(CuckooSeen.sketchDir(dir), "marker.keep")
      assert(Files.exists(marker), s"$op dropped the lagging sketch")
      assert(CuckooSeen.readMeta(CuckooSeen.sketchDir(dir)).get.covered
        === snap.seenDirs)
      // the next run skips exactly the committed keys, refetches the
      // re-opened ones, and keeps the sketch
      val (r, _) = CrawlJob.runResumable(spark, cuckoo(1, 2, 3), dir,
        s"lag-$op")
      val log = r.log.collect()
      r.unpersist()
      assert(log.filter(_.status == CrawlStatus.Skipped).map(_.urlHash)
        .toSet === committed -- reopened, s"after $op")
      assert(log.filter(e => reopened(e.urlHash))
        .forall(_.status != CrawlStatus.Skipped))
      assert(Files.exists(marker), s"the run after $op rebuilt the sketch")
    }
    check("compact", TableIO.compact(spark, _).get, Set.empty)
    check("invalidate", TableIO.invalidatePeriods(spark, _,
      cfg.sites.map(s => (s, 2024, 2)).toSet).get, monthTwo)
  }

  test("an unknown seenSketch is refused before any work; the CacheManager stays empty") {
    val dir = Files.createTempDirectory("graft-resume-sketch").toString
    spark.catalog.clearCache()
    val e = intercept[IllegalArgumentException] {
      CrawlJob.runResumable(spark, cfg.copy(seenSketch = "Cuckoo"), dir,
        "run-1")
    }
    assert(e.getMessage.contains("'Cuckoo'"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "a refused run left cached frames pinned in the driver")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data")),
      "a refused run wrote data")
  }

  test("strict per-host mode flows through the resumable (flagged) path") {
    val dir = Files.createTempDirectory("graft-resume-strict").toString
    val strictCfg = cfg.copy(strictPerHost = true)
    val (r, _) = CrawlJob.runResumable(spark, strictCfg, dir, "run-s")
    val ref = CrawlJob.run(spark, strictCfg)
    def canon(l: Seq[CrawlLogEntry]) =
      l.sortBy(e => (e.host, e.vtimeMs, e.year, e.month, e.seq))
        .map(e => (e.site, e.year, e.month, e.seq, e.url, e.urlHash,
          e.vtimeMs, e.attempts, e.status))
    assert(canon(r.log.collect().toSeq) === canon(ref.log.collect().toSeq))
  }

  test("reserved runId is refused before any work; the CacheManager stays empty") {
    val dir = Files.createTempDirectory("graft-resume-reserved").toString
    spark.catalog.clearCache()
    val e = intercept[IllegalArgumentException] {
      CrawlJob.runResumable(spark, cfg, dir, "compact-v00001")
    }
    assert(e.getMessage.contains("reserved maintenance prefix"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "a refused run left cached frames pinned in the driver")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data")),
      "a refused run wrote data")
  }

  test("a throw in the commit step releases every frame the run cached") {
    val dir = Files.createTempDirectory("graft-resume-fail").toString
    // a plain file where the snapshot directory belongs: the data and
    // seen writes succeed, the snapshot write throws
    Files.writeString(java.nio.file.Paths.get(dir, "snapshots"), "")
    spark.catalog.clearCache()
    intercept[java.nio.file.FileAlreadyExistsException] {
      CrawlJob.runResumable(spark, cfg, dir, "run-1")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed run left cached frames pinned in the driver")
  }
}
