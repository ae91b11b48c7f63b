package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.CrawlJob
import graft.model._
import graft.streaming.StreamingCrawl

/** Streaming fetch loop: per-domain state continuity across
  * micro-batches, checkpointed kill-restart, batch parity. */
class StreamingCrawlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cfg = CrawlConfig(sites = Seq("portal_saude_mg", "mds_parcelas"),
    years = YearSelector.Single(2024), months = MonthSelector.Multiple(Seq(1, 2, 3, 4)),
    nowYear = 2024, nowMonth = 6, maxPages = 3)

  test("two frontier waves through checkpointed streaming equal one batch run") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream").toString
    val frontierDir = s"$base/frontier"
    val outDir = s"$base/out"
    val ckDir = s"$base/ck"
    Files.createDirectories(java.nio.file.Paths.get(frontierDir))

    // batch reference: full crawl (no early-stop interference: explicit
    // month list → no pruning mode active)
    val batch = CrawlJob.run(spark, cfg)
    val entries = batch.frontier.collect()
      .sortBy(e => (e.site, e.seedSeq, e.discoverySeq))

    // wave 1 = months 1-2, wave 2 = months 3-4 (per-domain order kept:
    // seedSeq is sites-outer so each site's wave-1 seqs precede wave-2)
    val (w1, w2) = entries.partition(_.month <= 2)
    def writeWave(w: Seq[ScheduledEntry], name: String): Unit = {
      val stage = s"$base/stage-$name"
      spark.createDataset(w).repartition(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(frontierDir, s"$name.parquet"))
    }
    writeWave(w1.toSeq, "wave1")
    val q1 = StreamingCrawl.start(spark, frontierDir, outDir, ckDir,
      cfg.budget)
    q1.processAllAvailable()
    q1.stop()

    // "kill" happened: restart from the same checkpoint over a source
    // now containing wave 2 as well
    writeWave(w2.toSeq, "wave2")
    val q2 = StreamingCrawl.start(spark, frontierDir, outDir, ckDir,
      cfg.budget)
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir)
    val gotLog = got.select("site", "year", "month", "seq", "imageId", "url",
      "urlHash", "host", "vtimeMs", "attempts", "status")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getString(5), r.getLong(6), r.getString(7),
        r.getLong(8), r.getInt(9), r.getString(10)))
      .sortBy(t => (t._1, t._8, t._9, t._2, t._3, t._4))
    val wantLog = batch.log.collect()
      .map(l => (l.site, l.year, l.month, l.seq, l.imageId, l.url, l.urlHash,
        l.host, l.vtimeMs, l.attempts, l.status))
      .sortBy(t => (t._1, t._8, t._9, t._2, t._3, t._4))
    assert(gotLog.length === wantLog.length)
    assert(gotLog.toSeq === wantLog.toSeq,
      "streaming outcomes differ from batch crawl")
    // payloads for successes
    val nImg = got.filter("status = 'success'").count()
    assert(nImg === batch.images.count())
  }

  test("streaming skip-if-exists: restart over committed URLs emits skipped rows, zero budget") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-seen").toString
    val frontierDir = s"$base/frontier"
    Files.createDirectories(java.nio.file.Paths.get(frontierDir))

    // a first crawl committed these URLs (the seen table)
    val first = CrawlJob.run(spark, cfg)
    val seenSet = CrawlJob.seenFrom(first.log).collect().toSet
    val seenTable = spark.createDataset(seenSet.toSeq)
    // batch reference for the SECOND run (resume semantics)
    val batch2 = CrawlJob.run(spark, cfg, seenSet)

    val entries = first.frontier.collect()
      .sortBy(e => (e.site, e.seedSeq, e.discoverySeq))
    val (w1, w2) = entries.partition(_.month <= 2)
    def writeWave(w: Seq[ScheduledEntry], name: String): Unit = {
      val stage = s"$base/stage-$name"
      spark.createDataset(w).repartition(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(frontierDir, s"$name.parquet"))
    }
    // wave 1, then a kill-restart over a source that also has wave 2 —
    // the restarted stream must SKIP committed URLs, not re-fetch them
    writeWave(w1.toSeq, "wave1")
    val q1 = StreamingCrawl.start(spark, frontierDir, s"$base/out",
      s"$base/ck", cfg.budget, seenTable = Some(seenTable))
    q1.processAllAvailable(); q1.stop()
    writeWave(w2.toSeq, "wave2")
    val q2 = StreamingCrawl.start(spark, frontierDir, s"$base/out",
      s"$base/ck", cfg.budget, seenTable = Some(seenTable))
    q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(s"$base/out")
    // every committed URL re-streamed is skipped with 0 attempts
    val skipped = got.filter("status = 'skipped'").collect()
    assert(skipped.nonEmpty)
    assert(skipped.forall(_.getAs[Int]("attempts") == 0))
    assert(skipped.map(_.getAs[Long]("urlHash")).toSet.subsetOf(seenSet))
    // and the full streamed timeline equals the batch resume run
    def canon(rows: Seq[(String, Long, Long, Int, String)]) =
      rows.sortBy(t => (t._1, t._2, t._3, t._4))
    val gotC = canon(got.select("site", "urlHash", "vtimeMs", "attempts",
      "status").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getString(4))).toSeq)
    val wantC = canon(batch2.log.collect()
      .map(l => (l.site, l.urlHash, l.vtimeMs, l.attempts, l.status)).toSeq)
    assert(gotC === wantC, "streaming resume differs from batch resume")
  }

  test("progress listener records per-batch metrics rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-prog").toString
    val frontierDir = s"$base/frontier"
    Files.createDirectories(java.nio.file.Paths.get(frontierDir))
    val batch = CrawlJob.run(spark,
      cfg.copy(sites = Seq("portal_saude_mg")))
    val stage = s"$base/stage"
    spark.createDataset(batch.frontier.collect().toSeq
      .sortBy(e => (e.seedSeq, e.discoverySeq)))
      .repartition(1).write.parquet(stage)
    Files.copy(new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(frontierDir, "wave.parquet"))
    val listener = graft.streaming.CrawlProgressListener.attach(spark)
    try {
      val q = StreamingCrawl.start(spark, frontierDir, s"$base/out",
        s"$base/ck", cfg.budget)
      q.processAllAvailable(); q.stop()
      val progress = listener.toDF(spark).collect()
      assert(progress.nonEmpty, "no progress rows recorded")
      assert(progress.map(_.getAs[Long]("numInputRows")).sum ===
        batch.frontier.count())
    } finally spark.streams.removeListener(listener)
  }

  test("streaming table sink: per-batch snapshot commits, exactly-once under replay") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-table").toString
    val frontierDir = s"$base/frontier"
    val tableDir = s"$base/table"
    Files.createDirectories(java.nio.file.Paths.get(frontierDir))
    val batch = CrawlJob.run(spark, cfg)
    val entries = batch.frontier.collect()
      .sortBy(e => (e.site, e.seedSeq, e.discoverySeq))
    val (w1, w2) = entries.partition(_.month <= 2)
    def writeWave(w: Seq[ScheduledEntry], name: String): Unit = {
      val stage = s"$base/stage-$name"
      spark.createDataset(w).repartition(1).write.parquet(stage)
      Files.copy(new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
        java.nio.file.Paths.get(frontierDir, s"$name.parquet"))
    }
    writeWave(w1.toSeq, "wave1")
    val q1 = StreamingCrawl.startToTable(spark, frontierDir, tableDir,
      s"$base/ck", cfg.budget)
    q1.processAllAvailable(); q1.stop()
    writeWave(w2.toSeq, "wave2")
    val q2 = StreamingCrawl.startToTable(spark, frontierDir, tableDir,
      s"$base/ck", cfg.budget)
    q2.processAllAvailable(); q2.stop()

    // the committed table equals the batch crawl's image output
    val got = graft.table.TableIO.readImages(spark, tableDir)
      .select("image_id", "site", "year", "month", "phash").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).sorted
    val want = batch.images.collect()
      .map(i => (i.image_id, i.site, i.year, i.month, i.phash)).sorted
    assert(got.toSeq === want.toSeq, "table content differs from batch")
    // seen set committed too
    assert(graft.table.TableIO.readSeen(spark, tableDir).collect().toSet ===
      CrawlJob.seenFrom(batch.log).collect().toSet)
    // lineage carries one runId per non-empty micro-batch
    val runIds = graft.table.TableIO.committedRunIds(tableDir)
    assert(runIds.forall(_.startsWith("stream-batch-")))
    // replay protection: re-committing an already-committed batchId is
    // a no-op (foreachBatch is at-least-once; commits must not double)
    val before = graft.table.TableIO.currentVersion(tableDir).get
    val replayed = spark.createDataset(Seq.empty[
      graft.streaming.StreamingCrawl.StreamedOutcome])
    val someCommitted = runIds.head.stripPrefix("stream-batch-").toLong
    StreamingCrawl.commitOutcomesBatch(tableDir, "stream")(
      replayed, someCommitted)
    assert(graft.table.TableIO.currentVersion(tableDir).get === before)
  }

  test("streaming auto-compaction bounds the snapshot chain; contents and replay protection unchanged") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-compact").toString
    val frontierDir = s"$base/frontier"
    val tableDir = s"$base/table"
    Files.createDirectories(java.nio.file.Paths.get(frontierDir))
    val batch = CrawlJob.run(spark, cfg)
    val entries = batch.frontier.collect()
      .sortBy(e => (e.site, e.seedSeq, e.discoverySeq))
    // four waves -> four micro-batches; compactEvery=2 rewrites the
    // chain whenever two data dirs accumulate
    entries.groupBy(_.month).toSeq.sortBy(_._1).foreach { case (m, w) =>
      val stage = s"$base/stage-$m"
      spark.createDataset(w.toSeq).repartition(1).write.parquet(stage)
      Files.copy(new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
        java.nio.file.Paths.get(frontierDir, f"wave$m%02d.parquet"))
    }
    val q = StreamingCrawl.startToTable(spark, frontierDir, tableDir,
      s"$base/ck", cfg.budget, compactEvery = 2)
    q.processAllAvailable(); q.stop()

    val snap = graft.table.TableIO.currentSnapshot(tableDir).get
    assert(snap.dataDirs.size <= 2,
      s"chain not bounded: ${snap.dataDirs}")
    val allRunIds = graft.table.TableIO.committedRunIds(tableDir)
    assert(allRunIds.exists(_.startsWith("compact-v")),
      "compaction should have fired at least once")
    // contents still equal the batch crawl
    val got = graft.table.TableIO.readImages(spark, tableDir)
      .select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === batch.images.collect()
      .map(i => (i.image_id, i.phash)).toSet)
    assert(graft.table.TableIO.readSeen(spark, tableDir).collect().toSet ===
      CrawlJob.seenFrom(batch.log).collect().toSet)
    // replay protection survives compaction: every streamed batchId is
    // still in the (compacted) runIds index, so a replay is a no-op
    val streamed = allRunIds.toSeq.filter(_.startsWith("stream-batch-"))
    assert(streamed.nonEmpty)
    val before = graft.table.TableIO.currentVersion(tableDir).get
    val replayed = spark.createDataset(Seq.empty[
      graft.streaming.StreamingCrawl.StreamedOutcome])
    StreamingCrawl.commitOutcomesBatch(tableDir, "stream")(
      replayed, streamed.head.stripPrefix("stream-batch-").toLong)
    assert(graft.table.TableIO.currentVersion(tableDir).get === before)
  }

  test("streaming strict per-host mode matches the batch strict timeline") {
    import spark.implicits._
    val strictCfg = cfg.copy(sites = Seq("mds_parcelas", "mds_saldo"),
      strictPerHost = true)
    val base = Files.createTempDirectory("graft-stream-strict").toString
    val frontierDir = s"$base/frontier"
    Files.createDirectories(java.nio.file.Paths.get(frontierDir))
    val batch = CrawlJob.run(spark, strictCfg)
    val entries = batch.frontier.collect()
      .sortBy(e => (e.seedSeq, e.discoverySeq))
    val stage = s"$base/stage"
    spark.createDataset(entries.toSeq).repartition(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath,
      java.nio.file.Paths.get(frontierDir, "wave.parquet"))
    val q = StreamingCrawl.start(spark, frontierDir, s"$base/out",
      s"$base/ck", strictCfg.budget, strictPerHost = true)
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("urlHash", "vtimeMs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = batch.log.collect()
      .map(l => (l.urlHash, l.vtimeMs)).sorted
    assert(got.toSeq === want.toSeq,
      "strict-mode streaming timeline differs from batch")
  }

  // ---- watermarked event-time operators -----------------------------

  private def outcome(hash: Long, vtimeMs: Long, site: String = "s",
      status: String = CrawlStatus.Success): StreamingCrawl.StreamedOutcome =
    StreamingCrawl.StreamedOutcome(site, 2024, 1, 0, s"img-$hash",
      s"http://h/$hash", hash, "h", vtimeMs, 1, status,
      Array[Byte](1, 2, 3), 1, 1, "png", "cap", 0L)

  private def memStream() = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    MemoryStream[StreamingCrawl.StreamedOutcome](
      org.apache.spark.sql.Encoders.product[StreamingCrawl.StreamedOutcome],
      spark)
  }

  test("windowed metrics finalize on watermark passage and drop late rows") {
    val in = memStream()
    val q = StreamingCrawl.windowedMetrics(in.toDS(), "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("wm_metrics")
      .outputMode("append").start()
    try {
      // three events inside window [0, 60 s): 2 successes + 1 error
      in.addData(outcome(1, 1000), outcome(2, 30000),
        outcome(3, 59000, status = CrawlStatus.Error))
      q.processAllAvailable()
      // watermark is still 59 s - 2 min < 0: nothing finalized
      assert(spark.table("wm_metrics").count() === 0)
      // an event at 10 min advances the watermark to 8 min > window end
      in.addData(outcome(4, 600000))
      q.processAllAvailable()
      val rows = spark.table("wm_metrics")
        .select("site", "urls", "successes", "errors", "bytes_total")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(rows === Seq(("s", 3L, 2L, 1L, 9L)),
        s"window [0,60s) should finalize with the batch-1 mix, got $rows")
      // a LATE row back inside the closed window must be dropped —
      // append mode plus the watermark filter, not re-aggregated
      in.addData(outcome(5, 30000))
      q.processAllAvailable()
      assert(spark.table("wm_metrics").count() === rows.length.toLong,
        "late row leaked past the watermark")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark keeps first per urlHash, then evicts") {
    val in = memStream()
    val q = StreamingCrawl.dedupWithinWatermark(in.toDS(), "2 minutes")
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      in.addData(outcome(1, 0), outcome(1, 1000), outcome(2, 2000))
      q.processAllAvailable()
      assert(spark.table("wm_dedup").count() === 2,
        "same-batch duplicate not collapsed")
      // duplicate in a later batch, still within the watermark horizon
      in.addData(outcome(1, 5000))
      q.processAllAvailable()
      assert(spark.table("wm_dedup").count() === 2,
        "cross-batch duplicate within watermark not collapsed")
      // advance the watermark far past hash 1's expiry (0 + 2 min):
      // its state row is EVICTED (bounded state), so a much-later
      // re-crawl of the same URL re-emits — the durable cross-run
      // guard is the committed seen set (CrawlJob.flagSeen), not this
      // operator
      in.addData(outcome(9, 600000))
      q.processAllAvailable()
      in.addData(outcome(1, 601000))
      q.processAllAvailable()
      val hash1 = spark.table("wm_dedup").where("urlHash = 1").count()
      assert(hash1 === 2L,
        "post-eviction re-appearance should re-emit (state must be bounded)")
    } finally q.stop()
  }
}
