package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.CrawlJob
import graft.model._

/** Crawl-native queries for the driver contract. These exercise the
  * frontier → dedup → politeness → fetch → validate pipeline on the
  * deterministic synthetic web (FIXTURES.md §3) and therefore take no
  * input tables; the `sfDir` argument is ignored. No DuckDB oracle is
  * possible (the semantics are the crawl engine itself), so the driver
  * records rows-only checks; exact-match correctness is enforced by
  * CrawlParitySpec against the reference simulator in `sbt test`.
  */
object CrawlQueries {

  /** Demo crawl config: all three reference sites, first half of 2024. */
  val demoConfig: CrawlConfig = CrawlConfig(
    sites = Seq("portal_saude_mg", "mds_parcelas", "mds_saldo"),
    years = YearSelector.Single(2024),
    months = MonthSelector.All,
    nowYear = 2024, nowMonth = 6,
    maxPages = 4)

  // one crawl per JVM, shared across the query entries
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, CrawlJob.CrawlResult]()

  /** Pin a crawl result's byte-free tables as localCheckpoint blocks:
    * the per-JVM sharing contract here predates this, but `.cache()`
    * alone cannot honor it — the bench clears the CacheManager before
    * every battery entry (hygiene for entry-local storage), which used
    * to silently demote every later `log`/`frontier` read to a full
    * crawl recompute, once per PLAN SUBTREE occurrence (a gate that
    * references the image table three times re-crawled three times per
    * draw). localCheckpoint blocks live outside the CacheManager, so
    * the demo crawl is computed once per JVM — exactly what the bench
    * times as `crawl_demo`. Payload bytes stay UNPINNED: `images`
    * regenerates map-side from the checkpointed log (the PayloadStage
    * rule — bytes are never stored, only the ~100-byte log rows). */
  private def pinned(spark: SparkSession,
      r: CrawlJob.CrawlResult): CrawlJob.CrawlResult = {
    val log = r.log.localCheckpoint(eager = true)
    val frontier = r.frontier.localCheckpoint(eager = true)
    r.unpersist() // the run()'s .cache() entries are superseded
    CrawlJob.CrawlResult(r.seeds, r.prunedSeeds, frontier, log,
      CrawlJob.materializeImages(log))
  }

  def demoResult(spark: SparkSession): CrawlJob.CrawlResult =
    cache.computeIfAbsent("demo",
      _ => pinned(spark, CrawlJob.run(spark, demoConfig)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ordered crawl log — the crawl-order witness (O1 + politeness)
    "crawl_log" -> ((s: SparkSession, _: String) => {
      demoResult(s).log.toDF()
        .orderBy(col("site"), col("host"), col("vtimeMs"), col("seq"))
    }),

    // fetched image records (payload metadata; bytes kept as length)
    "crawl_images" -> ((s: SparkSession, _: String) => {
      demoResult(s).images.toDF()
        .select(col("image_id"), col("site"), col("year"), col("month"),
          col("w"), col("h"), col("fmt"), col("caption"), col("phash"),
          length(col("bytes")).cast("long").as("n_bytes"),
          col("attempts"), col("vtimeMs"))
        .orderBy(col("site"), col("year"), col("month"), col("image_id"))
    }),

    // the URL-seen set (hashes of durably-fetched canonical URLs)
    "crawl_seen" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      CrawlJob.seenFrom(demoResult(s).log).toDF("urlHash").orderBy("urlHash")
    }),

    // post-dedup, robots-filtered, numbered frontier
    "crawl_frontier" -> ((s: SparkSession, _: String) => {
      demoResult(s).frontier.toDF()
        .select(col("site"), col("year"), col("month"), col("seq"),
          col("imageId"), col("url"), col("urlHash"), col("host"))
        .orderBy(col("site"), col("year"), col("month"), col("seq"))
    }),

    // per-period run metrics (A1/A2)
    "crawl_metrics" -> ((s: SparkSession, _: String) => {
      val r = demoResult(s)
      CrawlJob.metrics(r.log, r.images)
    }),

    // A1/A2 as a DRIVER VALUE gate: the engine's metrics aggregation
    // (groupBy/agg/join over the crawl log + image table) is re-derived
    // by DuckDB from the staged raw log/image rows — a counting,
    // status-mix, duration or bytes regression in CrawlJob.metrics
    // fails the hash compare. The two display-rounded rate columns are
    // re-expressed floor-based (identical double op order on both
    // engines) so the gate is bit-deterministic.
    "crawl_metrics_vs_log" -> ((s: SparkSession, _: String) => {
      val r = demoResult(s)
      val base = "/tmp/graft_gate_fx/crawl_metrics"
      r.log.toDF().select(col("site"), col("year"), col("month"),
          col("status"), col("attempts"), col("vtimeMs"))
        .write.mode("overwrite").parquet(s"$base/log")
      r.images.toDF().select(col("site"), col("year"), col("month"),
          length(col("bytes")).cast("long").as("n_bytes"))
        .write.mode("overwrite").parquet(s"$base/images")
      CrawlJob.metrics(r.log, r.images)
        .select(col("site"), col("year"), col("month"),
          col("files").cast("long").as("files"),
          col("no_data").cast("long").as("no_data"),
          col("errors").cast("long").as("errors"),
          col("corrupt").cast("long").as("corrupt"),
          col("skipped").cast("long").as("skipped"),
          col("requests"), col("duration_ms"), col("bytes_total"),
          floor(col("files") * 60000.0 /
            greatest(col("duration_ms"), lit(1L)) * 100)
            .cast("long").as("dpm_x100"))
        .orderBy(col("site"), col("year"), col("month"))
    }),

    // K5 error-detail table + O4 first-3 display truncation
    // (portal_saude_mg.py:563-573 error collection, :663-665 shows the
    // first 3 errors per run)
    "crawl_errors" -> ((s: SparkSession, _: String) => {
      val log = demoResult(s).log.toDF()
      log.filter(col("status").isin(CrawlStatus.Error, CrawlStatus.Corrupt))
        .groupBy(col("site"), col("year"), col("month"))
        .agg(count(lit(1)).as("n_errors"),
          count(when(col("errorKind") === "max_retries", 1))
            .as("n_max_retries"),
          count(when(col("errorKind") === "validation", 1))
            .as("n_validation"),
          // flattened to ONE display string (" | "-joined): the driver
          // value-compare hashes scalar columns; an ARRAY<STRING> here
          // crashed its pandas sort in round 2
          concat_ws(" | ",
            slice(array_sort(collect_list(struct(col("seq"),
              col("errorDetail")))), 1, 3).getField("errorDetail"))
            .as("first_errors"))
        .orderBy(col("site"), col("year"), col("month"))
    }),

    // D2 at scale through the driver: two resumable runs against one
    // committed table — run 2 probes the PERSISTED partition-aligned
    // Bloom (BloomSeen.write/probeAligned) + exact join and must spend zero
    // budget re-fetching (all durable URLs come back `skipped`)
    "crawl_resume" -> ((s: SparkSession, _: String) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-resume").toString
      val cfg = demoConfig.copy(sites = Seq("portal_saude_mg"),
        months = MonthSelector.Multiple(Seq(1, 2, 3)))
      val (r1, _) = CrawlJob.runResumable(s, cfg, dir, "run-1")
      r1.log.count()
      val (r2, _) = CrawlJob.runResumable(s, cfg, dir, "run-2")
      val out = r2.log.toDF()
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("attempts")).cast("long").as("attempts"))
        .orderBy(col("status"))
      // materialize the (tiny) aggregate, then release BOTH runs'
      // cached datasets — this entry must leave no storage pinned in a
      // long-lived battery/verify JVM
      val rows = out.collect().toSeq
      r1.unpersist(); r2.unpersist()
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), out.schema)
    }),

    // D1/D2 sketch-backend parity as a DRIVER VALUE gate: one two-run
    // resumable crawl per seen backend (bloom rebuild vs persisted
    // cuckoo with delta insert) — run-2 logs must agree URL-by-URL on
    // status and attempts. The per-URL comparison rows are staged to
    // parquet and DuckDB re-derives the aggregate.
    "seen_sketch_parity" -> ((s: SparkSession, _: String) => {
      val base = "/tmp/graft_gate_fx/sketch_parity"
      val cfg0 = demoConfig.copy(sites = Seq("portal_saude_mg"),
        months = MonthSelector.Multiple(Seq(1, 2, 3)))
      def secondRunLog(sketch: String) = {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-sk-$sketch").toString
        val cfg = cfg0.copy(seenSketch = sketch)
        val (r1, _) = CrawlJob.runResumable(s, cfg, dir, s"$sketch-1")
        r1.log.count()
        val (r2, _) = CrawlJob.runResumable(s, cfg, dir, s"$sketch-2")
        val rows = r2.log.toDF()
          .select(col("urlHash"), col("status"), col("attempts"))
          .collect().toSeq
        r1.unpersist(); r2.unpersist()
        rows.map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      }
      val b = secondRunLog("bloom")
      val c = secondRunLog("cuckoo")
      import s.implicits._
      val cmp = b.toDF("urlHash", "status_bloom", "attempts_bloom")
        .join(c.toDF("urlHash", "status_cuckoo", "attempts_cuckoo"),
          Seq("urlHash"), "full_outer")
        .select(col("urlHash"),
          coalesce(col("status_bloom"), lit("MISSING")).as("status_bloom"),
          coalesce(col("status_cuckoo"), lit("MISSING")).as("status_cuckoo"),
          coalesce(col("attempts_bloom"), lit(-1)).as("attempts_bloom"),
          coalesce(col("attempts_cuckoo"), lit(-1)).as("attempts_cuckoo"))
      cmp.write.mode("overwrite").parquet(base)
      s.read.parquet(base)
        .agg(count(lit(1)).as("n_urls"),
          bool_and(col("status_bloom") === col("status_cuckoo"))
            .as("all_status_agree"),
          bool_and(col("attempts_bloom") === col("attempts_cuckoo"))
            .as("all_attempts_agree"),
          count(when(col("status_bloom") === CrawlStatus.Skipped, 1))
            .cast("long").as("n_skipped_bloom"),
          count(when(col("status_cuckoo") === CrawlStatus.Skipped, 1))
            .cast("long").as("n_skipped_cuckoo"))
    }),

    // S11 host health: probe fields + per-host crawl health aggregates
    // over a config with a planted sick host and the quarantine rule
    // armed (mds_saldo.py:249-294, portal_saude_mg.py:730-747)
    "crawl_host_health" -> ((s: SparkSession, _: String) => {
      val r = cache.computeIfAbsent("health",
        _ => pinned(s, CrawlJob.run(s, healthConfig)))
      CrawlJob.hostHealth(r.log)
    })
  )

  /** DuckDB oracles for the crawl entries that stage their raw inputs
    * to parquet — the rest of the crawl battery is oracle-free (the
    * semantics are the crawl engine itself; parity vs the reference
    * simulator lives in CrawlParitySpec). */
  val oracleSql: Map[String, String] = Map(
    // re-derives the engine's A1/A2 metrics from the staged raw crawl
    // log + image rows: counts by status, attempts, virtual duration,
    // bytes, and the floor-based downloads/min rate
    "crawl_metrics_vs_log" ->
      """WITH log AS (SELECT *
        |  FROM '/tmp/graft_gate_fx/crawl_metrics/log/*.parquet'),
        | agg AS (SELECT site, year, month,
        |   count(*) FILTER (WHERE status = 'success') AS files,
        |   count(*) FILTER (WHERE status = 'no_data') AS no_data,
        |   count(*) FILTER (WHERE status = 'error') AS errors,
        |   count(*) FILTER (WHERE status = 'corrupt') AS corrupt,
        |   count(*) FILTER (WHERE status = 'skipped') AS skipped,
        |   sum(attempts) AS requests,
        |   max("vtimeMs") AS duration_ms
        |  FROM log GROUP BY site, year, month),
        | img AS (SELECT site, year, month, sum(n_bytes) AS bytes_total
        |  FROM '/tmp/graft_gate_fx/crawl_metrics/images/*.parquet'
        |  GROUP BY site, year, month)
        |SELECT a.site AS site, a.year AS year, a.month AS month,
        | CAST(a.files AS BIGINT) AS files,
        | CAST(a.no_data AS BIGINT) AS no_data,
        | CAST(a.errors AS BIGINT) AS errors,
        | CAST(a.corrupt AS BIGINT) AS corrupt,
        | CAST(a.skipped AS BIGINT) AS skipped,
        | CAST(a.requests AS BIGINT) AS requests,
        | CAST(a.duration_ms AS BIGINT) AS duration_ms,
        | CAST(coalesce(i.bytes_total, 0) AS BIGINT) AS bytes_total,
        | CAST(floor(a.files * 60000.0
        |   / greatest(a.duration_ms, 1) * 100) AS BIGINT) AS dpm_x100
        |FROM agg a LEFT JOIN img i
        |  ON i.site = a.site AND i.year = a.year AND i.month = a.month
        |ORDER BY site, year, month""".stripMargin,
    // re-derives the bloom-vs-cuckoo run-2 log agreement from the
    // staged per-URL comparison rows
    "seen_sketch_parity" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_urls,
        | bool_and(status_bloom = status_cuckoo) AS all_status_agree,
        | bool_and(attempts_bloom = attempts_cuckoo) AS all_attempts_agree,
        | CAST(count(*) FILTER (WHERE status_bloom = 'skipped')
        |   AS BIGINT) AS n_skipped_bloom,
        | CAST(count(*) FILTER (WHERE status_cuckoo = 'skipped')
        |   AS BIGINT) AS n_skipped_cuckoo
        |FROM '/tmp/graft_gate_fx/sketch_parity/*.parquet'""".stripMargin
  )

  /** Health/quarantine demo: one healthy reference site + one planted
    * sick host; 3 consecutive failures quarantine the domain 60 s. */
  val healthConfig: CrawlConfig = CrawlConfig(
    sites = Seq("portal_saude_mg", "sick-portal"),
    years = YearSelector.Single(2024),
    months = MonthSelector.Multiple(Seq(1, 2)),
    nowYear = 2024, nowMonth = 6, maxPages = 3,
    budget = PolitenessBudget(quarantineAfter = 3, quarantineMs = 60000))
}
