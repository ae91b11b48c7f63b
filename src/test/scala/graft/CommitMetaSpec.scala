package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.CrawlJob
import graft.model._
import graft.streaming.StreamingCrawl
import graft.table.TableIO
import graft.table.TableIO.PartitionMeta

/** A snapshot's per-partition meta is counted by the write that makes
  * the data, not read back from it. Whatever the path — a commit whose
  * partition spans several write tasks, an all-Skipped run that writes
  * no images, a streaming micro-batch, a compaction — it must equal a
  * `groupBy` scan of the files it describes. */
class CommitMetaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft-commit-meta").toString

  /** The meta a scan of the files under `dir/rel` gives. */
  private def scanned(dir: String, rel: String): Seq[PartitionMeta] =
    spark.read.parquet(s"$dir/$rel").groupBy("site", "year", "month")
      .agg(count(lit(1)), coalesce(sum(length(col("bytes"))), lit(0L)))
      .collect()
      .map(r => PartitionMeta(r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(p => (p.site, p.year, p.month)).toSeq

  private def image(site: String, month: Int, i: Int,
      bytes: Array[Byte]): ImageRecord =
    ImageRecord(f"$month%02d-2024-RES-$i%03d", bytes, 1, 1, "png", "cap",
      i.toLong, site, 2024, month, s"http://$site/$month/$i",
      site.hashCode * 1000L + month * 100 + i, 0L, 1)

  private def parquetFiles(p: Path): Int = {
    val files = Files.list(p)
    try files.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    finally files.close()
  }

  test("commit and compact: one partition written by several tasks, null bytes counted as 0") {
    import spark.implicits._
    val dir = tmpDir()
    // site "a" month 1 spreads over 3 write tasks (3 files in one
    // partition dir); one of its rows has null bytes
    val first = (1 to 30).map(i => image("a", 1,
      i, if (i == 7) null else Array.fill[Byte](i)(1))) ++
      (1 to 5).map(i => image("b", 2, i, Array.fill[Byte](10)(2)))
    val s1 = TableIO.commit(spark, dir,
      spark.createDataset(first).repartition(3), Seq(1L, 2L).toDS(), "m-1",
      Nil)
    assert(parquetFiles(Paths.get(dir, "data/v00001/site=a/year=2024/month=1"))
      === 3, "the partition should be written by several tasks")
    assert(s1.partitions === scanned(dir, "data/v00001"))
    assert(s1.partitions.find(_.site == "a").get ===
      PartitionMeta("a", 2024, 1, 30, (1 to 30).filter(_ != 7).sum.toLong))
    assert(s1.totalRows === 35)

    val second = (31 to 33).map(i => image("a", 1, i, Array.fill[Byte](3)(1)))
    val s2 = TableIO.commit(spark, dir, spark.createDataset(second),
      Seq(3L).toDS(), "m-2", Nil)
    assert(s2.partitions === scanned(dir, "data/v00002"))

    val c = TableIO.compact(spark, dir).get
    assert(c.cumulative)
    assert(c.dataDirs.size === 1)
    assert(c.partitions === scanned(dir, c.dataDirs.head))
    assert(c.partitions === Seq(
      PartitionMeta("a", 2024, 1, 33,
        (1 to 30).filter(_ != 7).sum + 3L * 3),
      PartitionMeta("b", 2024, 2, 5, 50L)))
  }

  test("a resumed run that fetches nothing new commits no images, no data dir and no partitions") {
    val dir = tmpDir()
    val cfg = CrawlConfig(sites = Seq("portal_saude_mg"),
      years = YearSelector.Single(2023),
      months = MonthSelector.Multiple(Seq(4, 5)),
      nowYear = 2024, nowMonth = 6, maxPages = 2)
    val (r1, s1) = CrawlJob.runResumable(spark, cfg, dir, "skip-1")
    r1.unpersist()
    assert(s1.partitions.nonEmpty)
    assert(s1.partitions === scanned(dir, "data/v00001"))
    val (r2, s2) = CrawlJob.runResumable(spark, cfg, dir, "skip-2")
    val statuses = r2.log.collect().map(_.status).toSet
    r2.unpersist()
    // the first run's successes are skipped; its failures fail again
    assert(statuses.contains(CrawlStatus.Skipped) &&
      !statuses.contains(CrawlStatus.Success))
    assert(s2.partitions.isEmpty)
    assert(s2.totalRows === s1.totalRows)
    assert(s2.dataDirs === s1.dataDirs && s2.seenDirs === s1.seenDirs)
    assert(!Files.exists(Paths.get(dir, "data/v00002")))
    assert(!Files.exists(Paths.get(dir, "seen/v00002")))
  }

  test("a streaming micro-batch commit counts its own partitions") {
    import spark.implicits._
    val dir = tmpDir()
    def outcome(site: String, month: Int, hash: Long, status: String,
        bytes: Array[Byte]) =
      StreamingCrawl.StreamedOutcome(site, 2024, month, 0, s"img-$hash",
        s"http://h/$hash", hash, "h", hash, 1, status, bytes, 1, 1, "png",
        "cap", hash)
    val batch = Seq(
      outcome("s", 1, 1L, CrawlStatus.Success, Array[Byte](1, 2, 3)),
      outcome("s", 1, 2L, CrawlStatus.Success, Array[Byte](4)),
      outcome("s", 2, 3L, CrawlStatus.Success, Array.fill[Byte](9)(5)),
      outcome("t", 2, 4L, CrawlStatus.Skipped, null)).toDS().repartition(2)
    StreamingCrawl.commitOutcomesBatch(dir, "meta")(batch, 0L)
    val snap = TableIO.currentSnapshot(dir).get
    assert(snap.partitions === scanned(dir, "data/v00001"))
    assert(snap.partitions === Seq(PartitionMeta("s", 2024, 1, 2, 4L),
      PartitionMeta("s", 2024, 2, 1, 9L)))
  }
}
