package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.CrawlJob
import graft.model._
import graft.table.TableIO

class TableIOSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cfgA = CrawlConfig(sites = Seq("portal_saude_mg"),
    years = YearSelector.Single(2024), months = MonthSelector.Multiple(Seq(1, 2, 3)),
    nowYear = 2024, nowMonth = 6, maxPages = 3)
  private val cfgFull = cfgA.copy(months = MonthSelector.Multiple(Seq(1, 2, 3, 4, 5, 6)))

  private def tmpDir(): String =
    Files.createTempDirectory("graft-table").toString

  test("commit + read round-trip with partition manifest and lineage") {
    import spark.implicits._
    val dir = tmpDir()
    val r = CrawlJob.run(spark, cfgA)
    val snap = TableIO.commit(spark, dir, r.images, CrawlJob.seenFrom(r.log),
      runId = "run-A", periods = r.prunedSeeds.map(p => s"${p.site}/${p.year}/${p.month}"))
    assert(snap.version === 1)
    assert(snap.lineage.runId === "run-A")
    assert(snap.partitions.nonEmpty)
    assert(snap.totalRows === r.images.count())
    val back = TableIO.readImages(spark, dir)
    assert(back.count() === r.images.count())
    // partition columns survive the layout
    assert(back.select("site", "year", "month").distinct().count() ===
      snap.partitions.size)
    val seen = TableIO.readSeen(spark, dir).collect().toSet
    assert(seen === CrawlJob.seenFrom(r.log).collect().toSet)
  }

  test("incremental commit: resume crawl appends only new periods") {
    val dir = tmpDir()
    val rA = CrawlJob.run(spark, cfgA)
    TableIO.commit(spark, dir, rA.images, CrawlJob.seenFrom(rA.log), "run-A",
      rA.prunedSeeds.map(_.toString))
    val seenA = TableIO.readSeen(spark, dir).collect().toSet
    // resume with the committed seen set over the superset config;
    // the delta is Success-only (disjoint from run-A's — the readSeen
    // no-dedup invariant)
    val rB = CrawlJob.run(spark, cfgFull, seenA)
    val snap2 = TableIO.commit(spark, dir, rB.images,
      CrawlJob.newSeenFrom(rB.log), "run-B", rB.prunedSeeds.map(_.toString))
    assert(snap2.version === 2)
    assert(snap2.lineage.parentVersion === 1)
    // final table equals one uninterrupted full crawl's images
    val full = CrawlJob.run(spark, cfgFull)
    val gotIds = TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val wantIds = full.images.collect().map(i => (i.image_id, i.phash)).toSet
    assert(gotIds === wantIds)
  }

  test("time travel: readImagesAt/readSeenAt reproduce each version, survive compaction and invalidation, fail after expire") {
    val dir = tmpDir()
    val rA = CrawlJob.run(spark, cfgA)
    TableIO.commit(spark, dir, rA.images, CrawlJob.seenFrom(rA.log),
      "tt-1", Nil)
    val v1Images = TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val v1Seen = TableIO.readSeen(spark, dir).collect().toSet

    val seenA = TableIO.readSeen(spark, dir).collect().toSet
    val rB = CrawlJob.run(spark, cfgFull, seenA)
    TableIO.commit(spark, dir, rB.images, CrawlJob.newSeenFrom(rB.log),
      "tt-2", Nil)
    val v2Images = TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    def imagesAt(v: Int) = TableIO.readImagesAt(spark, dir, v)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(imagesAt(1) === v1Images)
    assert(imagesAt(2) === v2Images)
    assert(TableIO.readSeenAt(spark, dir, 1).collect().toSet === v1Seen)

    // compaction (v3) and invalidation (v4) rewrite REFERENCES — the
    // superseded dirs stay on disk, so older versions remain readable
    TableIO.compact(spark, dir)
    TableIO.invalidatePeriods(spark, dir,
      Set(("portal_saude_mg", 2024, 2)))
    assert(imagesAt(1) === v1Images, "v1 unreadable after maintenance")
    assert(imagesAt(2) === v2Images, "v2 unreadable after maintenance")
    // the invalidation snapshot itself excludes the dropped month
    val v4 = TableIO.currentVersion(dir).get
    assert(TableIO.readImagesAt(spark, dir, v4)
      .filter(org.apache.spark.sql.functions.col("month") === 2)
      .count() === 0)

    // expire reclaims superseded dirs and snapshot jsons: time travel
    // to reclaimed versions now fails with the expire hint
    TableIO.expire(dir)
    // NoSuchFileException (an IOException) so expired-chain fallbacks
    // that catch IOException keep working
    val e = intercept[java.nio.file.NoSuchFileException] { imagesAt(1) }
    assert(e.getMessage.contains("expire"))
    assert(imagesAt(v4).nonEmpty, "current version must survive expire")
  }

  test("compaction: N commits -> 1 data dir, identical contents, runIds index intact") {
    import spark.implicits._
    val dir = tmpDir()
    // 10 commits, one month each (some may be empty months — the
    // chain still grows one snapshot per commit)
    val runIds = (1 to 10).map(i => f"run-$i%02d")
    runIds.zipWithIndex.foreach { case (rid, i) =>
      val cfg = cfgA.copy(months = MonthSelector.Single(i % 6 + 1))
      val seenSoFar = TableIO.readSeen(spark, dir).collect().toSet
      val r = CrawlJob.run(spark, cfg, seenSoFar)
      TableIO.commit(spark, dir, r.images,
        CrawlJob.seenFrom(r.log).filter(h => !seenSoFar.contains(h)),
        rid, Nil)
    }
    val before = TableIO.currentSnapshot(dir).get
    assert(before.version === 10)
    assert(before.dataDirs.size > 1, "chain should have accumulated dirs")
    val imgBefore = TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val seenBefore = TableIO.readSeen(spark, dir).collect().toSet
    assert(TableIO.committedRunIds(dir) === runIds.toSet)

    val snap = TableIO.compact(spark, dir).get
    assert(snap.version === 11)
    assert(snap.dataDirs.size === 1 && snap.seenDirs.size === 1,
      "compaction must leave exactly one dir each")
    // contents identical through the compacted snapshot
    val imgAfter = TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(imgAfter === imgBefore)
    assert(TableIO.readSeen(spark, dir).collect().toSet === seenBefore)
    assert(snap.totalRows === before.totalRows)
    // cumulative partition meta covers the whole table now
    assert(snap.partitions.map(_.rows).sum === imgAfter.size)
    // runIds index: every original run still answers the idempotence
    // check, via ONE snapshot read — prove it by EXPIRING the chain
    // (deletes old snapshot files + superseded/orphaned dirs)
    assert(runIds.toSet.subsetOf(TableIO.committedRunIds(dir)))
    // plant an orphaned uncommitted dir (crashed writer debris)
    val orphan = java.nio.file.Paths.get(dir, "data", "v00099")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.tmp"), "debris")
    TableIO.expire(dir)
    assert(!Files.exists(orphan), "expire must remove orphaned dirs")
    (1 to 10).foreach { v =>
      assert(!Files.exists(java.nio.file.Paths.get(dir, "snapshots",
        f"v$v%05d.json")), s"old snapshot v$v should be expired")
    }
    // only the compacted dirs survive on disk
    val dataDirs = Files.list(java.nio.file.Paths.get(dir, "data"))
    val left = try {
      val b = Seq.newBuilder[String]
      dataDirs.forEach(p => b += p.getFileName.toString)
      b.result()
    } finally dataDirs.close()
    assert(left === Seq("v00011"), s"unexpected data dirs: $left")
    assert(runIds.toSet.subsetOf(TableIO.committedRunIds(dir)),
      "runIds must come from the latest snapshot's index alone")
    // contents still intact after expiry
    assert(TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === imgBefore)
    assert(TableIO.readSeen(spark, dir).collect().toSet === seenBefore)
    // and a post-compaction commit keeps appending normally
    val r = CrawlJob.run(spark, cfgA.copy(months = MonthSelector.Single(6)),
      TableIO.readSeen(spark, dir).collect().toSet)
    val snap2 = TableIO.commit(spark, dir, r.images,
      spark.emptyDataset[Long], "run-post", Nil)
    assert(snap2.version === 12)
    // the cumulative index lives in the runids.json sidecar now —
    // snapshots stay delta-sized no matter how long the chain gets
    assert(snap2.runIds.isEmpty)
    assert(TableIO.committedRunIds(dir).contains("run-post"))
    assert(runIds.toSet.subsetOf(TableIO.committedRunIds(dir)))
  }

  test("invalidatePeriods is metadata-only: untouched partitions' files are byte-identical, dropped refs pruned") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir()
    // multi-commit table: months 1-3 in commit 1, months 4-6 in commit 2
    val r1 = CrawlJob.run(spark, cfgA)
    TableIO.commit(spark, dir, r1.images, CrawlJob.newSeenFrom(r1.log),
      "run-1", Nil)
    val seen1 = TableIO.readSeen(spark, dir).collect().toSet
    val r2 = CrawlJob.run(spark,
      cfgA.copy(months = MonthSelector.Multiple(Seq(4, 5, 6))), seen1)
    TableIO.commit(spark, dir, r2.images, CrawlJob.newSeenFrom(r2.log),
      "run-2", Nil)

    // fingerprint every parquet file NOT in the to-be-dropped period
    def files(): Map[String, Array[Byte]] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p))
        .toMap
      finally s.close()
    }
    val before = files()
    val dropped = ("portal_saude_mg", 2024, 2)
    val untouchedBefore = before.filterNot(_._1.contains("month=2"))
    assert(untouchedBefore.nonEmpty)

    val snap = TableIO.invalidatePeriods(spark, dir, Set(dropped)).get
    assert(snap.cumulative)
    // METADATA-ONLY: no new data dir was written, every untouched file
    // is still the same bytes at the same path, and the dropped
    // period's files are still on disk (reclaimed by expire, like any
    // superseded dir) — just unreferenced
    val after = files()
    assert(!after.keys.exists(_.contains("data/v00004")),
      "invalidation must not write a data dir")
    untouchedBefore.foreach { case (p, bytes) =>
      assert(after.contains(p), s"untouched file vanished: $p")
      assert(java.util.Arrays.equals(after(p), bytes),
        s"untouched file rewritten: $p")
    }
    // references: month=2 gone from the snapshot, reads prune it
    assert(snap.dataDirs.forall(!_.contains("month=2")))
    assert(snap.dataDirs.exists(_.contains("month=")),
      "mixed commit dir must be referenced via kept partition subpaths")
    import org.apache.spark.sql.functions.col
    val img = TableIO.readImages(spark, dir)
    assert(img.filter(col("month") === 2).count() === 0)
    assert(img.count() ===
      r1.images.count() + r2.images.count() -
        r1.images.toDF().filter(col("month") === 2).count())
    // partition meta reconstructed from snapshot metadata matches data
    assert(snap.totalRows === img.count())
    assert(snap.partitions.map(_.rows).sum === img.count())
    // seen eviction: exactly the dropped period's hashes left the set
    val droppedHashes = r1.log.collect()
      .filter(e => e.month == 2 && e.status == CrawlStatus.Success)
      .map(_.urlHash).toSet
    val seenAfter = TableIO.readSeen(spark, dir).collect().toSet
    assert((seenAfter & droppedHashes).isEmpty)
    assert(seenAfter === (seen1 ++ CrawlJob.newSeenFrom(r2.log).collect())
      -- droppedHashes)
    // expire reclaims the dropped partition dir but keeps the kept
    // subpaths of the mixed commit dir intact
    TableIO.expire(dir)
    val postExpire = files()
    assert(!postExpire.keys.exists(_.contains("month=2")),
      "expire must reclaim invalidated partition dirs")
    untouchedBefore.foreach { case (p, bytes) =>
      assert(postExpire.contains(p) &&
        java.util.Arrays.equals(postExpire(p), bytes))
    }
    assert(TableIO.readImages(spark, dir)
      .select("image_id").count() === img.count())
  }

  test("crashed (uncommitted) write is invisible; recommit lands cleanly") {
    import spark.implicits._
    val dir = tmpDir()
    val r = CrawlJob.run(spark, cfgA)
    TableIO.commit(spark, dir, r.images, CrawlJob.seenFrom(r.log), "run-A",
      Nil)
    val before = TableIO.readImages(spark, dir).count()
    // simulate a crash mid-commit: data written, snapshot+hint never
    r.images.write.mode("overwrite").partitionBy("site", "year", "month")
      .parquet(s"$dir/data/v00099")
    assert(TableIO.currentVersion(dir) === Some(1))
    assert(TableIO.readImages(spark, dir).count() === before,
      "orphan data dir leaked into reads")
    // a later commit proceeds from the committed version
    val snap = TableIO.commit(spark, dir,
      spark.emptyDataset[ImageRecord], spark.emptyDataset[Long], "run-C", Nil)
    assert(snap.version === 2)
  }

  test("a write task that fails after writing some rows: the commit throws and publishes nothing; the next commit at that version lands exactly its own rows") {
    import java.nio.file.Paths
    import org.apache.spark.sql.functions.{col, lit, when}
    import spark.implicits._
    val dir = tmpDir()
    def image(month: Int, i: Int) = ImageRecord(s"f-$month-$i",
      Array.fill[Byte](i)(1), 1, 1, "png", "cap", i.toLong, "s", 2024, month,
      s"http://f/$month/$i", month * 100L + i, 0L, 1)
    TableIO.commit(spark, dir, (1 to 5).map(image(1, _)).toDS(),
      (1 to 5).map(100L + _).toDS(), "ok-1", Nil)
    // one task holds months 2, 3 and 4; the month-4 row has a null `w`,
    // which the row decoder refuses only after the sorted month-2 rows
    // went into a closed file and the month-3 rows into an open one
    val rows = (1 to 4).map(image(2, _)) ++ (1 to 2).map(image(3, _)) :+
      image(4, 1)
    val failing = rows.toDF().coalesce(1)
      .withColumn("w", when(col("month") === 4, lit(null)).otherwise(col("w")))
      .as[ImageRecord]
    intercept[Exception](TableIO.commit(spark, dir, failing,
      Seq(999L).toDS(), "bad-2", Nil))
    assert(TableIO.currentVersion(dir) === Some(1))
    assert(!Files.exists(Paths.get(dir, "snapshots", "v00002.json")))
    assert(!TableIO.committedRunIds(dir).contains("bad-2"))
    assert(TableIO.readImages(spark, dir).count() === 5L)
    assert(TableIO.readSeen(spark, dir).collect().toSet ===
      (1 to 5).map(100L + _).toSet)

    val s2 = TableIO.commit(spark, dir, (6 to 8).map(image(2, _)).toDS(),
      (6 to 8).map(200L + _).toDS(), "ok-2", Nil)
    assert(s2.version === 2)
    assert(s2.partitions === Seq(TableIO.PartitionMeta("s", 2024, 2, 3L, 21L)))
    assert(spark.read.parquet(s"$dir/data/v00002").select("image_id")
      .as[String].collect().toSet === (6 to 8).map(i => s"f-2-$i").toSet)
    assert(TableIO.readImages(spark, dir).count() === 8L)
    assert(TableIO.readSeen(spark, dir).collect().toSet ===
      ((1 to 5).map(100L + _) ++ (6 to 8).map(200L + _)).toSet)
    assert(!Files.exists(Paths.get(dir, "_staging")))
  }

  test("maintenance runId prefixes are reserved: delta commits reject them") {
    import spark.implicits._
    val dir = tmpDir()
    val r = CrawlJob.run(spark, cfgA)
    val e = intercept[IllegalArgumentException] {
      TableIO.commit(spark, dir, r.images, CrawlJob.seenFrom(r.log),
        "invalidate-retry-1", Nil)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("rollback is metadata-only: references revert, time travel intact, replay ids kept, refetch follows") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir()
    // two commits: months 1-3, then months 4-6 on top
    val r1 = CrawlJob.run(spark, cfgA)
    val snap1 = TableIO.commit(spark, dir, r1.images,
      CrawlJob.newSeenFrom(r1.log), "run-1", Nil)
    val v1Images = TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val v1Seen = TableIO.readSeen(spark, dir).collect().toSet
    val r2 = CrawlJob.run(spark,
      cfgA.copy(months = MonthSelector.Multiple(Seq(4, 5, 6))), v1Seen)
    TableIO.commit(spark, dir, r2.images, CrawlJob.newSeenFrom(r2.log),
      "run-2", Nil)
    val v2Images = TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    def files(): Map[String, Array[Byte]] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p))
        .toMap
      finally s.close()
    }
    val before = files()

    // rollback to current version is a no-op
    assert(TableIO.rollback(spark, dir, 2).isEmpty)

    val snap = TableIO.rollback(spark, dir, 1).get
    assert(snap.version === 3)
    assert(snap.cumulative)
    assert(snap.dataDirs === snap1.dataDirs)
    assert(snap.seenDirs === snap1.seenDirs)
    // METADATA-ONLY: zero data files written, rewritten or deleted
    val after = files()
    assert(after.keySet === before.keySet, "rollback touched data files")
    before.foreach { case (p, bytes) =>
      assert(java.util.Arrays.equals(after(p), bytes),
        s"rollback rewrote $p") }
    // table content and seen set are exactly v1's
    assert(TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === v1Images)
    assert(TableIO.readSeen(spark, dir).collect().toSet === v1Seen)
    assert(snap.totalRows === v1Images.size)
    assert(snap.partitions.map(_.rows).sum === v1Images.size)
    // the rolled-back version stays time-travelable until expire
    assert(TableIO.readImagesAt(spark, dir, 2)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === v2Images)
    // replay idempotence survives: the rolled-back run's id stays
    // committed (a crash-replayed micro-batch must not re-commit data
    // the operator just removed)
    assert(TableIO.committedRunIds(dir).contains("run-2"))

    // the operator story: the next resumable-style crawl REFETCHES the
    // rolled-back months (their hashes left the seen set) and lands the
    // same final table as the uninterrupted full crawl
    val seenNow = TableIO.readSeen(spark, dir).collect().toSet
    val r3 = CrawlJob.run(spark, cfgFull, seenNow)
    val refetched = r3.log.collect().filter(e => e.month >= 4)
    assert(refetched.nonEmpty &&
      refetched.forall(_.status != CrawlStatus.Skipped),
      "rolled-back months must refetch")
    TableIO.commit(spark, dir, r3.images, CrawlJob.newSeenFrom(r3.log),
      "run-3", Nil)
    val full = CrawlJob.run(spark, cfgFull)
    assert(TableIO.readImages(spark, dir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ===
      full.images.collect().map(i => (i.image_id, i.phash)).toSet)

    // rollback to an expired version fails loudly
    TableIO.compact(spark, dir)
    TableIO.expire(dir)
    intercept[java.nio.file.NoSuchFileException] {
      TableIO.rollback(spark, dir, 1)
    }
  }

  test("sidecar heals a multi-commit gap from the snapshot chain") {
    import spark.implicits._
    val dir = tmpDir()
    val r = CrawlJob.run(spark, cfgA)
    TableIO.commit(spark, dir, r.images, CrawlJob.seenFrom(r.log), "run-1", Nil)
    TableIO.commit(spark, dir, spark.emptyDataset[ImageRecord],
      spark.emptyDataset[Long], "run-2", Nil)
    TableIO.commit(spark, dir, spark.emptyDataset[ImageRecord],
      spark.emptyDataset[Long], "run-3", Nil)
    // simulate TWO consecutive crashes in the hint-swap→sidecar window:
    // the sidecar retains only the first commit's id
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "snapshots", "runids.json"),
      """["run-1"]""")
    // the next commit must rebuild the FULL chain, not just re-add the
    // immediate parent (which would lose run-2 forever and let a
    // replayed micro-batch double-commit)
    TableIO.commit(spark, dir, spark.emptyDataset[ImageRecord],
      spark.emptyDataset[Long], "run-4", Nil)
    assert(TableIO.committedRunIds(dir) ===
      Set("run-1", "run-2", "run-3", "run-4"))
  }

  test("one-sided commits: the empty side leaves no directory on disk, reads still work") {
    import spark.implicits._
    val dir = tmpDir()
    val r = CrawlJob.run(spark, cfgA)
    val images = r.images.collect().toSeq
    val hashes = CrawlJob.seenFrom(r.log).collect().toSet
    assert(images.nonEmpty && hashes.nonEmpty)
    def onDisk(rel: String) = Files.exists(java.nio.file.Paths.get(dir, rel))

    // v1: seen delta only — no data/v00001 at all, not just unreferenced
    val s1 = TableIO.commit(spark, dir, spark.emptyDataset[ImageRecord],
      hashes.toSeq.toDS(), "seen-only", Nil)
    assert(s1.dataDirs.isEmpty && s1.seenDirs === Seq("seen/v00001"))
    assert(s1.partitions.isEmpty && s1.totalRows === 0L)
    assert(!onDisk("data/v00001") && onDisk("seen/v00001"))
    assert(TableIO.readImages(spark, dir).count() === 0L)
    assert(TableIO.readSeen(spark, dir).collect().toSet === hashes)

    // v2: images only — no seen/v00002 on disk
    val s2 = TableIO.commit(spark, dir, images.toDS(),
      spark.emptyDataset[Long], "images-only", Nil)
    assert(s2.dataDirs === Seq("data/v00002"))
    assert(s2.seenDirs === Seq("seen/v00001"))
    assert(s2.totalRows === images.size.toLong)
    assert(onDisk("data/v00002") && !onDisk("seen/v00002"))
    assert(TableIO.readImages(spark, dir).select("image_id").as[String]
      .collect().toSet === images.map(_.image_id).toSet)
    assert(TableIO.readSeen(spark, dir).collect().toSet === hashes)

    // a filtered-to-nothing delta (plan with partitions, zero rows) is
    // treated the same way as an empty local one
    val s3 = TableIO.commit(spark, dir, images.toDS().filter(_ => false),
      hashes.toSeq.toDS().filter(_ => false), "both-empty", Nil)
    assert(s3.dataDirs === s2.dataDirs && s3.seenDirs === s2.seenDirs)
    assert(!onDisk("data/v00003") && !onDisk("seen/v00003"))
    assert(TableIO.readImages(spark, dir).count() === images.size.toLong)
  }

  test("mixed codecs: commit 1 rewritten as snappy reads, time-travels and compacts to the same rows; compaction writes zstd") {
    import java.nio.file.{Paths, StandardCopyOption}
    import spark.implicits._
    val dir = tmpDir()
    val rA = CrawlJob.run(spark, cfgA)
    val s1 = TableIO.commit(spark, dir, rA.images, CrawlJob.seenFrom(rA.log),
      "mix-1", Nil)
    val rB = CrawlJob.run(spark, cfgFull,
      TableIO.readSeen(spark, dir).collect().toSet)
    val s2 = TableIO.commit(spark, dir, rB.images,
      CrawlJob.newSeenFrom(rB.log), "mix-2", Nil)
    // whole rows, payload bytes included, in a stable order
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[ImageRecord]
      .collect().map(r => (r.copy(bytes = null), r.bytes.toSeq))
      .sortBy(_._1.image_id).toSeq
    val current = rows(TableIO.readImages(spark, dir))
    val at1 = rows(TableIO.readImagesAt(spark, dir, 1))
    val columns = TableIO.readImages(spark, dir).columns.toSeq
    assert(current.nonEmpty && at1.nonEmpty && at1.size < current.size)

    // rewrite every data file of commit 1 in place as snappy, same rows
    val v1 = Paths.get(dir, "data", "v00001")
    ParquetFooters.codecs(v1).map(_._1).foreach { f =>
      val stage = Files.createTempDirectory("graft-snappy")
      spark.read.parquet(f.toString).coalesce(1).write.mode("overwrite")
        .option("compression", "snappy").parquet(stage.toString)
      val written = stage.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(written, f, StandardCopyOption.REPLACE_EXISTING)
      Files.move(stage.resolve(s".${written.getFileName}.crc"),
        f.resolveSibling(s".${f.getFileName}.crc"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val rewritten = ParquetFooters.codecs(v1)
    assert(rewritten.nonEmpty &&
      rewritten.forall(_._2 == Set("SNAPPY")), rewritten)

    assert(rows(TableIO.readImages(spark, dir)) === current)
    assert(TableIO.readImages(spark, dir).columns.toSeq === columns)
    assert(rows(TableIO.readImagesAt(spark, dir, 1)) === at1)
    val c = TableIO.compact(spark, dir).get
    // the cumulative manifest: both commits' deltas summed per partition
    assert(c.partitions === (s1.partitions ++ s2.partitions)
      .groupBy(p => (p.site, p.year, p.month)).toSeq.sortBy(_._1)
      .map { case ((site, y, m), ps) => TableIO.PartitionMeta(site, y, m,
        ps.map(_.rows).sum, ps.map(_.bytes).sum) })
    assert(c.totalRows === current.size.toLong)
    assert(rows(TableIO.readImages(spark, dir)) === current)
    val compacted = ParquetFooters.codecs(Paths.get(dir, c.dataDirs.head))
    assert(compacted.nonEmpty &&
      compacted.forall(_._2 == Set("ZSTD")), compacted)
  }
}
