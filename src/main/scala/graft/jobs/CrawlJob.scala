package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.fetch.SyntheticWeb
import graft.frontier.SeedExpansion
import graft.model._
import graft.politeness.HostScheduler
import graft.url.{Hashing, UrlCanon}

/** Batch crawl: the Spark-native re-expression of the reference's
  * sequential crawl kernel (SURVEY §3.1 "Spark shape of A").
  *
  * Dataflow:
  * {{{
  * seeds (Dataset[PeriodSeed], ordered G1-G3)
  *   → flatMap harvest (S3/S4/G5; listing pagination + link project)
  *   → P1 filter (non-empty title/url)
  *   → canonicalize + xxhash64 + host (url module)
  *   → keep-first dedup per period (D1; ranking window over urlHash)
  *   → robots filter (broadcast rules)
  *   → O1 numbering + imageId (ranking window per period)
  *   → speculative per-period success counts → early-stop pruning
  *     (driver feedback loop, SURVEY §4 row 3)
  *   → repartition by (site, host) + sortWithinPartitions
  *     (secondary-sort pattern: politeness domains co-located,
  *      NO per-group materialization)
  *   → per-domain politeness schedule + fetch (HostScheduler)
  *   → crawl log + image records
  * }}}
  *
  * Scale notes:
  *  - per-period windows are bounded (≤ maxPages·12 links) so the
  *    ranking windows never see unbounded partitions; parallelism is
  *    across periods and domains;
  *  - the speculative count phase touches only (urlHash → status),
  *    never payload bytes — column pruning keeps the fetch out of it;
  *  - the per-domain sequential loop IS the politeness constraint;
  *    throughput scales with the number of distinct domains, and
  *    hot-host skew is bounded by the budget, not by CPU;
  *  - resume (D2) probes the committed seen-set BEFORE fetching, so a
  *    restarted crawl spends zero budget on already-fetched URLs.
  */
object CrawlJob {

  /** `pinned`: frames the crawl cached that no field names — the
    * whole frontier, when `frontier` is its early-stop-pruned view. */
  final case class CrawlResult(
      seeds: Seq[PeriodSeed],
      prunedSeeds: Seq[PeriodSeed],
      frontier: Dataset[ScheduledEntry],
      log: Dataset[CrawlLogEntry],
      images: Dataset[ImageRecord],
      pinned: Seq[Dataset[_]] = Nil) {
    /** Release every dataset this result may have pinned (the frontier,
      * `pinned` and, when `cacheLog`, the crawl log). Call when the
      * result has been fully consumed — long-lived JVMs running many
      * crawls must not accumulate pinned storage. */
    def unpersist(): Unit =
      (frontier +: log +: pinned).foreach(_.unpersist(blocking = false))
  }

  /** Harvest all periods' listing pages into the raw frontier. */
  def harvest(spark: SparkSession, cfg: CrawlConfig,
      seeds: Seq[PeriodSeed]): Dataset[FrontierEntry] = {
    import spark.implicits._
    val maxPages = cfg.maxPages
    val webSeed = cfg.webSeed
    // the seed list is sliced straight into tasks (no exchange): two
    // tasks per shuffle partition of the session, never more tasks than
    // seeds — a 3-seed crawl runs 3 tasks, not a constant floor of them
    val harvestParts = math.max(1, math.min(seeds.size,
      spark.sessionState.conf.numShufflePartitions * 2))
    spark.createDataset(spark.sparkContext.parallelize(seeds, harvestParts))
      .flatMap { s =>
        SyntheticWeb.harvestPeriod(s.site, s.year, s.month, maxPages, webSeed,
            s.uf, s.munValue)
          .map { case (k, p, j, url, title) =>
            FrontierEntry(s.site, s.year, s.month, s.seedSeq, p, j, k.toLong,
              url, Hashing.xxh64(url), UrlCanon.host(url), title,
              s.uf, s.municipality)
          }
      }
  }

  /** P1 filter → D1 keep-first dedup → robots → O1 numbering. */
  def buildFrontier(spark: SparkSession,
      raw: Dataset[FrontierEntry]): Dataset[ScheduledEntry] = {
    import spark.implicits._
    // robots rules as a BROADCAST dimension: one row per host carrying
    // its rule array (prefix, isAllow) — PARSED from the host's served
    // robots.txt (RobotsTxt.parse, RFC 9309 group selection). Real
    // rule sets (millions of hosts) would arrive as a table exactly
    // like this instead of a closure-captured map. The filter is a
    // broadcast hash join on host + the native codegen
    // `robots_permits` expression, which realizes FULL §2.2.2
    // precedence (longest match, Allow wins ties) — an anti-join on
    // disallow prefixes alone would over-block `Allow: /x/y/` carved
    // under `Disallow: /x/`. Hosts without a rules row (outer join →
    // null array) default to permitted, per the open web.
    val robotsRules = spark.createDataset(
      SyntheticWeb.robotsHosts.map { h =>
        val r = graft.politeness.RobotsTxt.parse(SyntheticWeb.robotsTxt(h))
        (h, r.disallows.map((_, false)) ++ r.allows.map((_, true)))
      }).toDF("r_host", "r_rules")
    // windows keyed by seedSeq: one seed = one form-submission session;
    // dedup and numbering are per session like the reference's
    // per-listing seen set and list-index naming. (For sites without
    // the municipality dimension a seed IS a (site,year,month) period,
    // so this is the same partitioning as before — and seeds with
    // several municipalities in one month stay separate sessions.)
    val dedupW = Window.partitionBy($"seedSeq", $"urlHash")
      .orderBy($"discoverySeq")
    val numW = Window.partitionBy($"seedSeq").orderBy($"discoverySeq")
    raw
      // P1: both href and title non-empty (portal_saude_mg.py:404)
      .filter(length(trim($"title")) > 0 && $"url".startsWith("http"))
      // ONE exchange for BOTH windows: hash(seedSeq) satisfies the
      // dedup window's (seedSeq, urlHash) clustering (subset rule) AND
      // the numbering window's (seedSeq) — without it Spark plans two
      // full shuffles of the frontier, hash(seedSeq, urlHash) then
      // hash(seedSeq); the broadcast robots join between them preserves
      // this partitioning, so only the sort order changes per window
      .repartition($"seedSeq")
      .withColumn("rn", row_number().over(dedupW))
      .filter($"rn" === 1)
      .join(broadcast(robotsRules), $"host" === $"r_host", "left_outer")
      .filter(coalesce(
        graft.functions.RobotsExpressions.robots_permits(
          coalesce(parse_url($"url", lit("PATH")), lit("/")), $"r_rules"),
        lit(true)))
      .drop("r_host", "r_rules")
      .withColumn("seq", row_number().over(numW))
      // artifact naming: [mes]-[ano]-RES-[nnn] (portal_saude_mg.py:
      // 488-501); municipality sessions prefix uf+municipality like
      // the reference's saldo_detalhado_{uf}_{municipality}_{year}_
      // {month} CSV names (mds_saldo.py:837-840)
      .withColumn("imageId",
        when(length($"municipality") > 0,
          format_string("%s-%s-%02d-%d-RES-%03d", $"uf",
            regexp_replace($"municipality", " ", "_"),
            $"month", $"year", $"seq"))
          .otherwise(
            format_string("%02d-%d-RES-%03d", $"month", $"year", $"seq")))
      .select($"site", $"year", $"month", $"seedSeq", $"discoverySeq",
        $"seq", $"imageId", $"url", $"urlHash", $"host", $"title",
        $"uf", $"municipality")
      .as[ScheduledEntry]
  }

  /** Speculative per-period successful-download counts (cheap: status
    * is a pure function of urlHash; no payloads materialized). */
  def periodCounts(spark: SparkSession, frontier: Dataset[ScheduledEntry],
      budget: PolitenessBudget,
      hostBudgets: Map[String, PolitenessBudget] = Map.empty)
      : Map[(String, Int, Int), Long] = {
    import spark.implicits._
    val statusUdf = udf((h: Long, host: String) =>
      HostScheduler.terminalStatus(h,
        HostScheduler.budgetFor(budget, hostBudgets, host).maxRetries, host))
    frontier
      .groupBy($"site", $"year", $"month")
      .agg(count(when(statusUdf($"urlHash", $"host") === CrawlStatus.Success,
        1)).as("files"))
      .collect()
      .map(r => ((r.getString(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
      .toMap
  }

  /** Payload materialization over the crawl log (see PayloadStage). */
  def materializeImages(log: Dataset[CrawlLogEntry]): Dataset[ImageRecord] = {
    import log.sparkSession.implicits._
    log.flatMap(graft.fetch.PayloadStage.imageFor(_))
  }

  /** Skip-if-exists flags (D2), exact by construction: the one flag
    * rule of every crawl path ([[run]], [[runResumable]] and
    * [[graft.streaming.StreamingCrawl.outcomes]]). `probe` appends a
    * seen sketch's `maybeSeen` column to the frontier (the persisted
    * partition-aligned filters, [[graft.seen.BloomSeen.probeAligned]] or
    * [[graft.seen.CuckooSeen.probeAligned]]): sketch "no" rows are exact
    * (no false negatives) and skip the exact join, so only "maybe" rows
    * pay its shuffle against the committed seen table. `None` joins
    * every row. A false positive must not suppress a fetch, so the
    * final flag is always the join's.
    *
    * Both branches read one probed frame, and adaptive execution runs
    * the probe's exchange once: the "maybe" branch reads it as a reused
    * exchange. That holds only when `frontier` is not read from a
    * cached frame. Adaptive execution plans each scan of a cached
    * relation as its own table-cache stage, and that stage's canonical
    * form keeps its stage id (Spark 4.1), so two exchanges above two
    * scans of one cached frame never match and the frontier is
    * shuffled once per branch. [[runResumable]] therefore pins the
    * frontier only when the early-stop pass reads it too. The probe
    * runs above the exchange, so each branch's tasks still open the
    * filter files of their own pmod groups. */
  def flagSeen(frontier: Dataset[ScheduledEntry],
      seenTable: Dataset[Long],
      probe: Option[DataFrame => DataFrame])
      : Dataset[(ScheduledEntry, Boolean)] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    def confirm(entries: Dataset[ScheduledEntry]) =
      entries.joinWith(seenTable.toDF("sh"),
          entries("urlHash") === col("sh"), "left_outer")
        .map { case (e, r) => (e, r != null) }
    probe match {
      case None => confirm(frontier)
      case Some(p) =>
        val probed = p(frontier.toDF())
        val definiteNew = probed.filter(!col("maybeSeen"))
          .drop("maybeSeen").as[ScheduledEntry].map(e => (e, false))
        definiteNew.union(confirm(probed.filter(col("maybeSeen"))
          .drop("maybeSeen").as[ScheduledEntry]))
    }
  }

  /** [[flagSeen]] against a PERSISTED partition-aligned Bloom filter
    * directory ([[graft.seen.BloomSeen.write]]): no driver
    * materialization, no whole-map broadcast. */
  def flagSeenPersisted(frontier: Dataset[ScheduledEntry],
      seenTable: Dataset[Long], bloomDir: String,
      meta: graft.seen.BloomSeen.BloomMeta)
      : Dataset[(ScheduledEntry, Boolean)] =
    flagSeen(frontier, seenTable,
      Some(graft.seen.BloomSeen.probeAligned(_, "urlHash", bloomDir, meta)))

  /** Politeness-scheduled fetch over the domains of
    * [[HostScheduler.domainOf]], with the skip-if-exists flag
    * precomputed per entry. Secondary-sort pattern:
    * hash-repartition on the domain key, sort within partitions, then
    * stream domain runs — constant memory per task regardless of domain
    * size. Emits byte-free log rows; payloads materialize in
    * [[graft.fetch.PayloadStage]]. */
  def scheduleAndFetchFlagged(
      flagged: Dataset[(ScheduledEntry, Boolean)],
      budget: PolitenessBudget,
      strictPerHost: Boolean = false,
      hostBudgets: Map[String, PolitenessBudget] = Map.empty)
      : Dataset[CrawlLogEntry] = {
    val spark = flagged.sparkSession
    import spark.implicits._
    val numPartitions = spark.sessionState.conf.numShufflePartitions
    // the columns of HostScheduler.domainOf: every domain lands in one
    // partition, its entries consecutive and in frontier order
    val partKeys =
      if (strictPerHost) Seq(col("_1.host"))
      else Seq(col("_1.site"), col("_1.host"))
    flagged
      .repartition(numPartitions, partKeys: _*)
      .sortWithinPartitions(
        (partKeys :+ col("_1.seedSeq")) :+ col("_1.discoverySeq"): _*)
      .mapPartitions { it =>
        // consecutive runs of one domain key = one politeness timeline
        var key: (String, String) = null
        var timeline: HostScheduler.Timeline = null
        it.map { case (e, seen) =>
          val k = HostScheduler.domainOf(strictPerHost)(e)
          if (k != key) {
            key = k
            timeline = new HostScheduler.Timeline(
              HostScheduler.budgetFor(budget, hostBudgets, e.host))
          }
          timeline.step(e, seen)
        }
      }
  }

  /** Partition count of a seen sketch over `seenCount` keys. It scales
    * with BOTH the cluster conf (probe parallelism) and the key count
    * (≤ `keysPerPart` keys per partition, so a single task never loads
    * a multi-GiB filter no matter how large the seen set grows) — and
    * is CAPPED from below by the key count too (≥ ~50k keys per
    * partition): a small committed set must not fan out into conf-many
    * near-empty filter files and a conf-wide probe shuffle just because
    * the session has many cores. */
  private def sketchParts(spark: SparkSession, seenCount: Long,
      keysPerPart: Double): Int =
    math.max(1, math.min(
      math.max(spark.sessionState.conf.numShufflePartitions / 2,
        math.ceil(seenCount / keysPerPart).toInt),
      math.ceil(seenCount / 5e4).toInt))

  /** Skip flags via the per-run Bloom prefilter: partition-aligned
    * persisted filters REBUILT each run from the committed seen set
    * (filters live in table storage and are probed shuffle-aligned —
    * never collected or broadcast). Filters of PRIOR runs are never
    * read again — garbage-collect them before writing this run's set,
    * or daily resumable crawls would accumulate an unbounded _bloom/
    * graveyard of full-size filter sets. (Single-writer table
    * contract, like the commit.) */
  private def flagViaBloom(spark: SparkSession, tableDir: String,
      runId: String, seenTable: Dataset[Long], seenCount: Long,
      surviving: Dataset[ScheduledEntry])
      : Dataset[(ScheduledEntry, Boolean)] = {
    // depth-first, tolerant of stray plain files and unexpected
    // nesting (a crashed writer's tmp debris must not abort the next
    // resumable run)
    graft.table.StateFiles.list(java.nio.file.Paths.get(tableDir, "_bloom"))
      .foreach(graft.table.StateFiles.delete)
    val bloomDir = s"$tableDir/_bloom/$runId"
    if (seenCount == 0) flagSeen(surviving, seenTable, None)
    else {
      // ≤ ~100M keys ≈ 120 MiB filter per partition at 1% FPP
      val meta = graft.seen.BloomSeen.write(seenTable, bloomDir,
        parts = sketchParts(spark, seenCount, 100e6),
        expectedKeys = math.max(seenCount, 1024L), fpp = 0.01)
      flagSeenPersisted(surviving, seenTable, bloomDir, meta)
    }
  }

  /** Skip flags via the PERSISTED cuckoo sketch (cfg.seenSketch =
    * "cuckoo"): instead of rebuilding a filter set from all committed
    * keys every run (O(total), ~10^10 keys at the design point), the
    * sketch lives in table storage across runs and each run start
    * inserts only the seen-delta dirs it does not cover yet — O(delta)
    * per run ([[graft.seen.CuckooSeen.sync]]). A full rebuild happens
    * only when no valid sketch exists or growth crossed 95% occupancy —
    * rebuilds size at 2× the current key count, so they are
    * amortized-logarithmic over the table's life. */
  private def flagViaCuckoo(spark: SparkSession, tableDir: String,
      seenTable: Dataset[Long], seenCount: Long,
      surviving: Dataset[ScheduledEntry])
      : Dataset[(ScheduledEntry, Boolean)] = {
    val C = graft.seen.CuckooSeen
    val dirs = graft.table.TableIO.currentSnapshot(tableDir)
      .map(_.seenDirs).getOrElse(Nil)
    // ≤ ~200M keys ≈ 540 MiB filter per partition (16-bit
    // fingerprints, 4-slot buckets, 84% sizing load + pow2 round)
    val meta = C.sync(spark, tableDir, dirs, dirs, C.Referenced,
      Some(C.Build(seenTable, seenCount, sketchParts(spark, seenCount, 2e8))))
    flagSeen(surviving, seenTable,
      meta.map(m => C.probeAligned(_, "urlHash", C.sketchDir(tableDir), m)))
  }

  /** Production resume loop: read the committed seen set from the
    * table, Bloom-prefilter + exact-join the skip flags, crawl, commit
    * a new snapshot with lineage. A reserved maintenance runId or an
    * unknown `cfg.seenSketch` is refused before any work
    * (IllegalArgumentException); a throw in any later step releases
    * every frame the run cached. */
  def runResumable(spark: SparkSession, cfg: CrawlConfig, tableDir: String,
      runId: String): (CrawlResult, graft.table.TableIO.Snapshot) = {
    import spark.implicits._
    graft.table.TableIO.requireDeltaRunId(runId)
    require(cfg.seenSketch == "bloom" || cfg.seenSketch == "cuckoo",
      s"seenSketch '${cfg.seenSketch}' is neither \"bloom\" nor \"cuckoo\"")
    val pinned = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def pin[T](ds: Dataset[T]): Dataset[T] = { pinned += ds; ds.cache() }
    try {
      val seenTable = pin(graft.table.TableIO.readSeen(spark, tableDir))
      val seenCount = seenTable.count()
      val seeds = SeedExpansion.expand(cfg)
      val built = buildFrontier(spark, harvest(spark, cfg, seeds))
      // pinned only when the early-stop pass reads it before the flag
      // does: with the flag as its one reader, an unpinned frontier lets
      // both flagSeen branches share one probe exchange
      val frontier = if (prunes(cfg)) pin(built) else built
      val (pruned, surviving) = pruneIfActive(spark, cfg, seeds, frontier)
      val flagged =
        if (cfg.seenSketch == "cuckoo")
          flagViaCuckoo(spark, tableDir, seenTable, seenCount, surviving)
        else
          flagViaBloom(spark, tableDir, runId, seenTable, seenCount,
            surviving)
      val log = pin(scheduleAndFetchFlagged(flagged, cfg.budget,
        cfg.strictPerHost, cfg.hostBudgets))
      val result = CrawlResult(seeds, pruned, surviving, log,
        materializeImages(log))
      // Seen delta = Success-only hashes. The skip flags are EXACT by
      // construction (flagSeen confirms every sketch "maybe" with an
      // exact join), so a Success row is provably absent from the
      // committed seen set and a Skipped row provably present — the
      // delta needs no `except(seenTable)`, which would re-shuffle the
      // entire committed seen table (~80 GB of hashes at the 10^10-key
      // design point) on every run. Equivalence of the two formulations
      // is asserted in ResumableCrawlSpec.
      val snap = graft.table.TableIO.commit(spark, tableDir, result.images,
        newSeenFrom(result.log), runId,
        pruned.map(p => s"${p.site}/${p.year}/${p.month}"))
      // the commit materialized everything these caches serve; release
      // them now (the returned `log` stays cached for the caller — see
      // CrawlResult.unpersist for full release) so repeated resumable
      // runs in one JVM don't accumulate pinned storage
      seenTable.unpersist(blocking = false)
      frontier.unpersist(blocking = false)
      (result, snap)
    } catch {
      case e: Throwable =>
        pinned.foreach(_.unpersist(blocking = false))
        throw e
    }
  }

  /** Full batch crawl. `seen` carries the committed URL-seen set for
    * resume (skip-if-exists, D2): it is flagged by [[flagSeen]]'s exact
    * join, like every other crawl path (an empty `seen` folds the join
    * away).
    *
    * `cacheLog = true` persists the (byte-free) crawl log so `log`
    * and `images` consumers share one scheduled fetch. Payload bytes
    * are NEVER cached or shuffled — `images` regenerates them from
    * the log via PayloadStage. */
  def run(spark: SparkSession, cfg: CrawlConfig,
      seen: Set[Long] = Set.empty,
      cacheLog: Boolean = true): CrawlResult = {
    import spark.implicits._
    val seeds = SeedExpansion.expand(cfg)
    val raw = harvest(spark, cfg, seeds)
    val frontier = buildFrontier(spark, raw).cache()
    val (pruned, surviving) = pruneIfActive(spark, cfg, seeds, frontier)
    val flagged = flagSeen(surviving, seen.toSeq.toDS(), None)
    val log0 = scheduleAndFetchFlagged(flagged, cfg.budget,
      cfg.strictPerHost, cfg.hostBudgets)
    val log = if (cacheLog) log0.cache() else log0
    CrawlResult(seeds, pruned, surviving, log, materializeImages(log),
      pinned = Seq(frontier))
  }

  /** Whether an `All` selector makes the early-stop rules live. */
  private def prunes(cfg: CrawlConfig): Boolean =
    cfg.years == YearSelector.All || cfg.months == MonthSelector.All

  /** The early-stop feedback pass (speculative per-period counts +
    * prune) runs ONLY when an `All` selector makes the stop rules
    * live — with explicit year/month lists the reference never stops
    * early, and the extra frontier pass would be a wasted full scan
    * at 10^10-URL scale. */
  private def pruneIfActive(spark: SparkSession, cfg: CrawlConfig,
      seeds: Seq[PeriodSeed], frontier: Dataset[ScheduledEntry])
      : (Seq[PeriodSeed], Dataset[ScheduledEntry]) = {
    val allYearsMode = cfg.years == YearSelector.All
    val allMonthsMode = cfg.months == MonthSelector.All
    if (!prunes(cfg)) (seeds, frontier)
    else {
      val counts = periodCounts(spark, frontier, cfg.budget,
        cfg.hostBudgets)
      val pruned = SeedExpansion.prune(seeds, counts, allYearsMode,
        allMonthsMode)
      val prunedKeys = pruned.map(p => (p.site, p.year, p.month)).toSet
      val prunedBc = spark.sparkContext.broadcast(prunedKeys)
      (pruned, frontier.filter(e =>
        prunedBc.value.contains((e.site, e.year, e.month))))
    }
  }

  /** The URL-seen set this crawl observed: URLs with a durable
    * artifact (success now, or skipped-because-already-present). */
  def seenFrom(log: Dataset[CrawlLogEntry]): Dataset[Long] = {
    import log.sparkSession.implicits._
    log.filter(l => l.status == CrawlStatus.Success ||
        l.status == CrawlStatus.Skipped)
      .map(_.urlHash).distinct()
  }

  /** The seen-set DELTA this crawl contributes to the committed table:
    * Success rows only. Skipped rows are by definition already in the
    * committed set (the skip flag is exact), so including them — or
    * diffing with `except` — only re-shuffles hashes the table already
    * holds. Committed deltas are therefore pairwise DISJOINT, which is
    * what lets [[graft.table.TableIO.readSeen]] skip a dedup shuffle. */
  def newSeenFrom(log: Dataset[CrawlLogEntry]): Dataset[Long] = {
    import log.sparkSession.implicits._
    // column expressions: a cached log is read as 2 columns, not
    // decoded into CrawlLogEntry objects
    log.filter($"status" === CrawlStatus.Success).select($"urlHash")
      .distinct().as[Long]
  }

  /** Per-host health table (S11 + recovery, portal_saude_mg.py:
    * 730-747, mds_saldo.py:249-294): the synthetic probe's status code
    * and response time per host, crawl-health aggregates from the log,
    * and the observed quarantine evidence — the largest inter-start
    * gap within the host's timeline (a quarantined domain shows gaps ≥
    * quarantineMs). */
  def hostHealth(log: Dataset[CrawlLogEntry]): DataFrame = {
    import log.sparkSession.implicits._
    val probeUdf = udf((host: String) => SyntheticWeb.healthProbe(host))
    val w = Window.partitionBy($"site", $"host").orderBy($"vtimeMs")
    log
      .withColumn("gap",
        $"vtimeMs" - lag($"vtimeMs", 1).over(w))
      .groupBy($"site", $"host")
      .agg(
        count(lit(1)).as("urls"),
        count(when($"status" === CrawlStatus.Success, 1)).as("successes"),
        count(when($"status" === CrawlStatus.Error, 1)).as("errors"),
        round(count(when($"status" === CrawlStatus.Error, 1)) /
          count(lit(1)).cast("double"), 4).as("error_rate"),
        sum($"attempts").cast("long").as("requests"),
        coalesce(max($"gap"), lit(0L)).as("max_gap_ms"))
      .withColumn("probe", probeUdf($"host"))
      .withColumn("probe_status", $"probe._1")
      .withColumn("probe_rt_ms", $"probe._2")
      .withColumn("healthy",
        $"probe_status" >= 200 && $"probe_status" < 300 &&
          $"probe_rt_ms" < 3000)
      .drop("probe")
      .orderBy($"site", $"host")
  }

  /** Run-metrics aggregates (A1/A2: portal_saude_mg.py:115-117,
    * :642-678): per-period file counts, bytes, error mix, duration and
    * downloads/min in virtual time. */
  def metrics(log: Dataset[CrawlLogEntry],
      images: Dataset[ImageRecord]): DataFrame = {
    import log.sparkSession.implicits._
    val sizes = images.select($"site", $"year", $"month",
      length($"bytes").cast("long").as("sz"))
      .groupBy($"site", $"year", $"month")
      .agg(sum($"sz").as("bytes_total"))
    log.groupBy($"site", $"year", $"month")
      .agg(
        count(when($"status" === CrawlStatus.Success, 1)).as("files"),
        count(when($"status" === CrawlStatus.NoData, 1)).as("no_data"),
        count(when($"status" === CrawlStatus.Error, 1)).as("errors"),
        count(when($"status" === CrawlStatus.Corrupt, 1)).as("corrupt"),
        count(when($"status" === CrawlStatus.Skipped, 1)).as("skipped"),
        sum($"attempts").cast("long").as("requests"),
        max($"vtimeMs").as("duration_ms"))
      .join(sizes, Seq("site", "year", "month"), "left_outer")
      .withColumn("bytes_total", coalesce($"bytes_total", lit(0L)))
      .withColumn("downloads_per_min",
        round($"files" * 60000.0 / greatest($"duration_ms", lit(1L)), 2))
      .orderBy($"site", $"year", $"month")
  }
}
