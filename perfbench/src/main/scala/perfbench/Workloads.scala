package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.jobs.CrawlJob
import graft.model._
import graft.ops.{DedupIndex, DedupOps}
import graft.seen.BloomSeen
import graft.table.TableIO
import graft.url.Hashing

/** What one job left behind, read and checked after its timed region.
  * `items`: frontier URLs given a terminal status (crawl) or documents
  * processed (curation). `bytesPerItem`: bytes the job added to storage
  * per committed URL or per indexed/processed document. */
final case class Outcome(items: Long, bytesPerItem: Double, digest: String,
    failures: Seq[String])

/** Output checks of one job. `skew` is added to every expected count;
  * a non-zero skew must make a check fail (the checks' own test). */
final class Checks(skew: Long) {
  val failures = ArrayBuffer.empty[String]

  def count(what: String, expected: Long, actual: Long): Unit =
    if (expected + skew != actual)
      failures += s"$what: expected ${expected + skew}, got $actual"

  def same[T](what: String, expected: T, actual: T): Unit =
    if (expected != actual) failures += s"$what: expected $expected, got $actual"

  def sameSet(what: String, expected: Set[Long], actual: Set[Long]): Unit =
    if (expected != actual)
      failures += s"$what: ${(expected -- actual).size} missing, " +
        s"${(actual -- expected).size} unexpected"
}

/** One benchmark workload: its inputs come from `seed` only. */
abstract class Workload {
  /** Builds the inputs and the starting state from scratch. */
  def setup(): Unit
  /** Restores the starting state before a job; not timed. */
  def reset(): Unit
  /** One job through the library's public entry points; the timed part. */
  def job(runId: String): Unit
  /** The same job, one layer call at a time, each forced under a span. */
  def traced(tr: Tracer, runId: String): Unit
  /** Reads and checks what the last job left, then releases it. */
  def outcome(skew: Long): Outcome
}

object Workload {
  /** Sizes of one workload: crawl raw links and pages per listing, or
    * corpus documents; `warmJobs`, the unmeasured jobs a run starts
    * with; `jobS`, about the seconds a measured job takes with its
    * untimed reference kernel, reset and check, on the 4-core host the
    * sizes were set on. */
  final case class Size(links: Int, maxPages: Int, docs: Long,
      warmJobs: Int, jobS: Double)

  val Names = Seq("crawl_fresh", "crawl_resume", "dedup_batch",
    "dedup_incremental", "dedup_cycle")

  def sizeOf(name: String, tiny: Boolean): Size = (name, tiny) match {
    case ("crawl_fresh", false) => Size(4000, 10, 0, 2, 4.0)
    case ("crawl_resume", false) => Size(4000, 10, 0, 3, 4.8)
    case ("dedup_batch", false) => Size(0, 0, 20000, 2, 4.0)
    case ("dedup_incremental", false) => Size(0, 0, 20000, 2, 4.0)
    case ("dedup_cycle", false) => Size(0, 0, 8000, 2, 4.6)
    case (n, true) if n.startsWith("crawl") => Size(200, 3, 0, 0, 1.0)
    case _ => Size(0, 0, 2000, 0, 1.0)
  }

  def apply(name: String, spark: SparkSession, work: Path, seed: Long,
      s: Size): Workload =
    name match {
      case "crawl_fresh" =>
        new CrawlWorkload(spark, work, seed, s.links, s.maxPages, resume = false)
      case "crawl_resume" =>
        new CrawlWorkload(spark, work, seed, s.links, s.maxPages, resume = true)
      case "dedup_batch" => new DedupBatch(spark, work, seed, s.docs)
      case "dedup_incremental" =>
        new DedupIncremental(spark, work, seed, s.docs)
      case "dedup_cycle" => new DedupCycle(spark, work, seed, s.docs)
      case other =>
        throw new IllegalArgumentException(s"unknown workload '$other'")
    }
}

/** Resumable crawl into a snapshot table. `resume = false`: the first
  * run over months 1-6 into an empty table. `resume = true`: the same
  * run against a table a prior run over months 1-5 filled; the table is
  * restored from a copy before every job. */
final class CrawlWorkload(spark: SparkSession, work: Path, seed: Long,
    links: Int, maxPages: Int, resume: Boolean) extends Workload {
  import spark.implicits._

  /** Sites drawn for this seed until their listing pages over months
    * 1-6 hold `links` raw links, so the frontier size, and with it the
    * work, hardly depends on the seed. */
  private val siteNames: Seq[String] = {
    val names = Iterator.from(0).map(i => f"pb$seed-$i%04d")
    val out = ArrayBuffer.empty[String]
    var total = 0
    while (total < links) {
      val site = names.next()
      out += site
      total += (1 to 6).map(m => graft.fetch.SyntheticWeb
        .harvestPeriod(site, 2024, m, maxPages, seed).size).sum
    }
    out.toSeq
  }

  private def config(months: Seq[Int]) = CrawlConfig(
    sites = siteNames,
    years = YearSelector.Single(2024),
    months = MonthSelector.Multiple(months),
    nowYear = 2024, nowMonth = 12, maxPages = maxPages, webSeed = seed)

  private val cfg = config(1 to 6)
  private val state = work.resolve("crawl-state")
  private val table = work.resolve("crawl-table")
  private var prior = Set.empty[Long]
  private var startBytes = 0L
  private var last: Option[(CrawlJob.CrawlResult, TableIO.Snapshot)] = None

  /** Success urlHash digest of the plain batch crawl over the same
    * config — what the first resumable run must commit. */
  private lazy val reference: String = {
    val r = CrawlJob.run(spark, cfg)
    try Host.digest(r.log.filter(_.status == CrawlStatus.Success)
      .map(_.urlHash).collect())
    finally r.unpersist()
  }

  def setup(): Unit = {
    Host.delete(state)
    if (resume) {
      val (r, _) = CrawlJob.runResumable(spark, config(1 to 5),
        state.toString, "prior")
      r.unpersist()
      prior = TableIO.readSeen(spark, state.toString).collect().toSet
    } else Files.createDirectories(state)
    startBytes = Host.usage(state)._2
  }

  def reset(): Unit = Host.copyTree(state, table)

  def job(runId: String): Unit =
    last = Some(CrawlJob.runResumable(spark, cfg, table.toString, runId))

  /** runResumable's steps (bloom seen sketch, explicit month list so
    * no early-stop pruning), each forced and timed on its own. */
  def traced(tr: Tracer, runId: String): Unit = {
    val dir = table.toString
    val seenTable = TableIO.readSeen(spark, dir).cache()
    val seenCount = tr.span("table.read_seen_s")(seenTable.count())
    tr.count("seen.keys", seenCount.toDouble)
    val seeds = graft.frontier.SeedExpansion.expand(cfg)
    val raw = CrawlJob.harvest(spark, cfg, seeds).cache()
    val harvested = tr.span("jobs.harvest_s")(raw.count())
    val frontier = CrawlJob.buildFrontier(spark, raw).cache()
    val kept = tr.span("jobs.frontier_s")(frontier.count())
    tr.count("jobs.harvest_rows", harvested.toDouble)
    tr.count("jobs.frontier_rows", kept.toDouble)
    tr.count("jobs.frontier_keep_ratio", kept.toDouble / harvested)
    val bloomDir = s"$dir/_bloom/$runId"
    val meta = tr.span("seen.sketch_s") {
      if (seenCount == 0) None
      else {
        Host.delete(Path.of(dir, "_bloom"))
        val parts = math.max(1, math.min(
          math.max(spark.sessionState.conf.numShufflePartitions / 2,
            math.ceil(seenCount / 100e6).toInt),
          math.ceil(seenCount / 5e4).toInt))
        Some(BloomSeen.write(seenTable, bloomDir, parts,
          expectedKeys = math.max(seenCount, 1024L), fpp = 0.01))
      }
    }
    val flagged = (meta match {
      case None => CrawlJob.flagSeen(frontier, seenTable, None)
      case Some(m) => CrawlJob.flagSeenPersisted(frontier, seenTable,
        bloomDir, m)
    }).cache()
    tr.span("seen.flag_s")(flagged.count())
    tr.aux {
      val maybes = meta.map(m => BloomSeen.probeAligned(frontier.toDF(),
        "urlHash", bloomDir, m).filter($"maybeSeen").count()).getOrElse(0L)
      val confirmed = flagged.filter(_._2).count()
      tr.count("seen.maybe_rate", maybes.toDouble / kept)
      tr.count("seen.fp_share",
        if (maybes == 0) 0.0 else (maybes - confirmed).toDouble / maybes)
    }
    val log = CrawlJob.scheduleAndFetchFlagged(flagged, cfg.budget,
      cfg.strictPerHost, cfg.hostBudgets).cache()
    tr.span("politeness.schedule_s")(log.count())
    tr.aux {
      val r = log.agg(sum($"attempts").cast("long"),
        count(when($"attempts" > 0, 1))).head()
      val requests = r.getLong(0)
      tr.count("politeness.requests", requests.toDouble)
      tr.count("politeness.retry_share",
        if (requests == 0) 0.0 else (requests - r.getLong(1)).toDouble / requests)
    }
    val images = CrawlJob.materializeImages(log)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nImages = tr.span("fetch.encode_s")(images.count())
    tr.count("fetch.images", nImages.toDouble)
    tr.count("fetch.bytes", tr.aux(images.agg(sum(length($"bytes")).cast("long"))
      .head().getLong(0)).toDouble)
    val (files0, bytes0) = Host.usage(table)
    val snap = tr.span("table.commit_s") {
      TableIO.commit(spark, dir, images, CrawlJob.newSeenFrom(log), runId,
        seeds.map(p => s"${p.site}/${p.year}/${p.month}"))
    }
    val (files1, bytes1) = Host.usage(table)
    tr.count("table.files_written", (files1 - files0).toDouble)
    tr.count("table.bytes_written", (bytes1 - bytes0).toDouble)
    seenTable.unpersist()
    last = Some((CrawlJob.CrawlResult(seeds, seeds, frontier, log, images), snap))
  }

  def outcome(skew: Long): Outcome = {
    val (r, snap) = last.getOrElse(throw new IllegalStateException("no job ran"))
    last = None
    val c = new Checks(skew)
    try {
      val log = r.log.map(l => (l.urlHash, l.status)).collect()
      val success = log.collect { case (h, CrawlStatus.Success) => h }
      val dataDir = snap.dataDirs.last
      c.same("new data dir", f"data/v${snap.version}%05d", dataDir)
      val committed = spark.read.parquet(s"$table/$dataDir")
        .select($"urlHash", $"image_id", $"phash")
        .as[(Long, String, Long)].collect()
      val hashes = committed.map(_._1)
      c.count("committed rows = success log rows", success.length,
        committed.length)
      c.count("manifest rows = success log rows", success.length,
        snap.partitions.map(_.rows).sum)
      c.sameSet("committed urlHashes = success urlHashes", success.toSet,
        hashes.toSet)
      val delta = spark.read.parquet(s"$table/${snap.seenDirs.last}")
        .as[Long].collect()
      c.count("seen delta rows = success log rows", success.length,
        delta.length)
      c.sameSet("seen delta = success urlHashes", success.toSet, delta.toSet)
      if (!resume)
        c.same("image urlHash digest = CrawlJob.run", reference,
          Host.digest(hashes))
      else {
        val frontier = log.map(_._1).toSet
        val skipped = log.collect { case (h, CrawlStatus.Skipped) => h }
        c.sameSet("skipped = frontier ∩ prior seen", frontier & prior,
          skipped.toSet)
        c.count("seen delta ∩ prior seen", 0L, delta.count(prior).toLong)
        val after = TableIO.readSeen(spark, table.toString).collect()
        c.count("seen after = prior + delta", prior.size.toLong + delta.length,
          after.length)
        c.sameSet("seen after = prior ∪ delta", prior ++ delta, after.toSet)
      }
      val added = Host.usage(table)._2 - startBytes
      Outcome(log.length, added.toDouble / math.max(success.length, 1),
        Host.digest(committed.map { case (h, id, ph) =>
          Hashing.mix(h ^ Hashing.xxh64(id)) ^ ph }) + "/" + Host.digest(delta),
        c.failures.toSeq)
    } finally {
      r.unpersist()
      spark.catalog.clearCache()
    }
  }
}

/** Synthetic curation corpus: `n` (a multiple of 10) documents of 60
  * salted 64-bit hex tokens; ids in [0.9n, n) are planted near-dup
  * copies of id − 0.9n (one appended token). Unrelated documents share
  * no shingles, so the near-dup pairs are exactly the planted ones. */
object Corpus {
  def salt(seed: Long): Long = Hashing.mix(seed, 0xC0DEL)

  def text(id: Long, n: Long, salt: Long): String = {
    val base = if (id >= n / 10 * 9) id - n / 10 * 9 else id
    val sb = new StringBuilder(1100)
    var j = 0
    while (j < 60) {
      sb.append(java.lang.Long.toHexString(Hashing.mix(base * 131L + j, salt)))
        .append(' ')
      j += 1
    }
    if (id != base) sb.append("copia")
    sb.toString
  }

  /** The planted partner of `id`, or -1 for a document with none. */
  def partner(id: Long, n: Long): Long =
    if (id >= n / 10 * 9) id - n / 10 * 9
    else if (id < n / 10) id + n / 10 * 9
    else -1L

  def write(spark: SparkSession, n: Long, salt: Long, dir: Path): Unit = {
    import spark.implicits._
    require(n % 10 == 0, "corpus size must be a multiple of 10")
    val textUdf = udf((id: Long) => text(id, n, salt))
    val parts = math.max(spark.sessionState.conf.numShufflePartitions * 2, 4)
    spark.range(0L, n, 1L, parts).select($"id", textUdf($"id").as("text"))
      .write.mode(SaveMode.Overwrite).parquet(dir.toString)
  }

  /** Single-thread signature cost: `DedupOps.bandKeys` (64 hashes, 16
    * bands, 5-char shingles) over a fixed 2,000-document sample, the
    * median of three passes, in microseconds per document. */
  def signatureMicros(salt: Long): Double = {
    val texts = (0L until 2000L).map(text(_, 20000L, salt)).toArray
    val passes = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var acc = 0L
      texts.foreach(t =>
        acc ^= DedupOps.bandKeys(t, DedupOps.shingles(_, 5), 64, 16)(0))
      if (acc == 42L) print("")
      (System.nanoTime() - t0) / 1e3 / texts.length
    }
    passes.sorted.apply(1)
  }
}

/** One-shot curation pass: exact dedup, MinHash-LSH pairs at 0.5 and
  * survivor selection over the whole corpus; the job writes the
  * survivor id list. */
final class DedupBatch(spark: SparkSession, work: Path, seed: Long,
    n: Long) extends Workload {
  import spark.implicits._

  private val salt = Corpus.salt(seed)
  private val corpus = work.resolve("corpus")
  private val out = work.resolve("survivors")
  private var exactGroups = -1L

  private def docs = spark.read.parquet(corpus.toString)

  def setup(): Unit = Corpus.write(spark, n, salt, corpus)

  def reset(): Unit = Host.delete(out)

  private def writeIds(df: DataFrame): Unit =
    df.select("id").write.mode(SaveMode.Overwrite).parquet(out.toString)

  def job(runId: String): Unit = DedupOps.withMaterializeScope {
    val d = docs
    exactGroups = DedupOps.exactDedup(d, "id", "text").count()
    val pairs = DedupOps.minhashPairs(d, "id", "text", threshold = 0.5)
    writeIds(DedupOps.dedupSurvivors(d, "id", pairs))
  }

  /** dedupSurvivors split at its connected-components boundary. */
  def traced(tr: Tracer, runId: String): Unit = DedupOps.withMaterializeScope {
    val d = docs
    exactGroups = tr.span("ops.exact_s")(
      DedupOps.exactDedup(d, "id", "text").count())
    // both calls run Spark jobs eagerly (materialized intermediates), so
    // the span covers the call and not only the final count
    val pairs = tr.span("ops.pairs_s") {
      val p = DedupOps.minhashPairs(d, "id", "text", threshold = 0.5)
        .persist(StorageLevel.MEMORY_AND_DISK)
      tr.count("ops.pairs", p.count().toDouble)
      p
    }
    val cc = tr.span("ops.cc_s") {
      val c = DedupOps.connectedComponents(pairs, "id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    tr.span("ops.survivors_s") {
      val losers = cc.filter(col("id") =!= col("component")).select(col("id"))
      writeIds(d.join(losers, d("id") === losers("id"), "left_anti"))
    }
    tr.count("ops.signature_us_per_doc", Corpus.signatureMicros(salt))
    pairs.unpersist()
    cc.unpersist()
  }

  def outcome(skew: Long): Outcome = {
    val c = new Checks(skew)
    try {
      val ids = spark.read.parquet(out.toString).as[Long].collect()
      val keep = n / 10 * 9
      c.count("exact-dedup groups = docs", n, exactGroups)
      c.count("survivors = docs - planted copies", keep, ids.length)
      c.count("distinct survivors", keep, ids.distinct.length.toLong)
      c.count("survivors outside [0, 0.9n)", 0L,
        ids.count(i => i < 0 || i >= keep).toLong)
      Outcome(n, Host.usage(out)._2.toDouble / n,
        Host.digest(ids) + s"/$exactGroups", c.failures.toSeq)
    } finally spark.catalog.clearCache()
  }
}

/** Incremental curation: a persisted MinHash index over the corpus
  * minus a held-out 5% batch; each job probes the index with the
  * batch, appends it and compacts the index. The index is restored
  * from a copy before every job. */
final class DedupIncremental(spark: SparkSession, work: Path, seed: Long,
    n: Long) extends Workload {
  import spark.implicits._

  private val salt = Corpus.salt(seed)
  private val corpus = work.resolve("corpus")
  private val batchDir = work.resolve("batch")
  private val restDir = work.resolve("rest")
  private val state = work.resolve("index-state")
  private val index = work.resolve("index")
  private var batchIds = Array.empty[Long]
  private var indexedDocs = 0L
  private var last: Option[(Array[(Long, Long)], DedupIndex.IndexMeta,
    DedupIndex.IndexMeta)] = None

  private def batch = spark.read.parquet(batchDir.toString)
  private def rest = spark.read.parquet(restDir.toString)

  def setup(): Unit = {
    Corpus.write(spark, n, salt, corpus)
    val all = spark.read.parquet(corpus.toString)
    val held = pmod(xxhash64($"id", lit(salt)), lit(20)) === 0
    all.filter(held).write.mode(SaveMode.Overwrite).parquet(batchDir.toString)
    all.filter(!held).write.mode(SaveMode.Overwrite).parquet(restDir.toString)
    batchIds = batch.select("id").as[Long].collect()
    indexedDocs = DedupIndex.write(rest, "id", "text", state.toString).docs
  }

  def reset(): Unit = Host.copyTree(state, index)

  private def probe(): Array[(Long, Long)] =
    DedupIndex.probePairs(batch, rest, "id", "text", index.toString,
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect()

  def job(runId: String): Unit = DedupOps.withMaterializeScope {
    val pairs = probe()
    val appended = DedupIndex.append(batch, "id", "text", index.toString)
    last = Some((pairs, appended, DedupIndex.compact(index.toString)))
  }

  def traced(tr: Tracer, runId: String): Unit = DedupOps.withMaterializeScope {
    val pairs = tr.span("ops.index_probe_s")(probe())
    val candidates = tr.aux(DedupOps.withMaterializeScope(
      DedupIndex.probeCandidates(batch, "id", "text", index.toString).count()))
    tr.count("ops.index_candidates", candidates.toDouble)
    tr.count("ops.index_verify_yield",
      if (candidates == 0) 0.0 else pairs.length.toDouble / candidates)
    val appended = tr.span("ops.index_append_s")(
      DedupIndex.append(batch, "id", "text", index.toString))
    val compacted = tr.span("ops.index_compact_s")(
      DedupIndex.compact(index.toString))
    tr.count("ops.signature_us_per_doc", Corpus.signatureMicros(salt))
    last = Some((pairs, appended, compacted))
  }

  def outcome(skew: Long): Outcome = {
    val (pairs, appended, compacted) =
      last.getOrElse(throw new IllegalStateException("no job ran"))
    last = None
    val c = new Checks(skew)
    try {
      val expected = batchIds.flatMap { id =>
        val p = Corpus.partner(id, n)
        if (p < 0) None else Some((math.min(id, p), math.max(id, p)))
      }.toSet
      c.count("probe pairs = planted copies touching the batch",
        expected.size.toLong, pairs.length.toLong)
      c.same("probe pair set", expected, pairs.toSet)
      c.count("indexed docs after append", indexedDocs + batchIds.length,
        appended.docs)
      c.count("indexed docs after compact", indexedDocs + batchIds.length,
        compacted.docs)
      c.count("delta dirs after compact", 1L, compacted.deltas.size.toLong)
      Outcome(batchIds.length, Host.usage(index)._2.toDouble / compacted.docs,
        Host.digest(pairs.map { case (a, b) => Hashing.mix(a) ^ b }) +
          s"/${compacted.docs}", c.failures.toSeq)
    } finally spark.catalog.clearCache()
  }
}

/** One curation cycle over one corpus: the batch pass of [[DedupBatch]]
  * over all of it, then the held-out 5% folded into the persisted index
  * as in [[DedupIncremental]]. Every ops layer, batch and index, is on
  * this job's path. */
final class DedupCycle(spark: SparkSession, work: Path, seed: Long,
    n: Long) extends Workload {
  private val batchPass = new DedupBatch(spark, work, seed, n)
  private val indexPass = new DedupIncremental(spark, work, seed, n)

  // the index pass writes the corpus the batch pass reads
  def setup(): Unit = indexPass.setup()

  def reset(): Unit = { batchPass.reset(); indexPass.reset() }

  def job(runId: String): Unit = { batchPass.job(runId); indexPass.job(runId) }

  def traced(tr: Tracer, runId: String): Unit = {
    batchPass.traced(tr, runId)
    indexPass.traced(tr, runId)
  }

  /** Items: corpus documents curated plus batch documents indexed.
    * Bytes: survivor list plus index, per corpus document. */
  def outcome(skew: Long): Outcome = {
    val a = batchPass.outcome(skew)
    val b = indexPass.outcome(skew)
    Outcome(a.items + b.items, a.bytesPerItem + b.bytesPerItem,
      s"${a.digest}|${b.digest}", a.failures ++ b.failures)
  }
}
