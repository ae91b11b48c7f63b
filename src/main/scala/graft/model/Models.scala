package graft.model

/** Core record shapes of the crawl engine (SURVEY.md §1.1/§1.3).
  * All are case classes so Spark derives `Encoder`s via
  * `import spark.implicits._` — typed Datasets carry the
  * correctness-critical scheduler fields with compile-time names.
  */

/** A crawl seed for one (site, year, month[, municipality]) form
  * submission. Mirrors the reference's crawl-config dict after
  * sentinel resolution (reference: src/ui/portal_saude_ui.py:505-518,
  * sentinels :547-595). `seedSeq` freezes the reference's enumeration
  * order (years outer, months middle, municipalities inner; Portal
  * iterates years DESCENDING — portal_saude_ui.py:1394-1396;
  * municipality enumeration per (year,month) in dropdown order —
  * mds_saldo.py:320-356).
  *
  * `uf`/`municipality`/`munValue` are empty for sites without the
  * municipality dimension; `munValue` is the dropdown option value
  * submitted with the form (mds_saldo.py:617-630).
  */
final case class PeriodSeed(site: String, year: Int, month: Int,
    seedSeq: Long, uf: String = "", municipality: String = "",
    munValue: String = "")

/** One discovered link, pre-dedup.
  * Mirrors the reference's frontier entry {'url','title','text'}
  * (reference: src/modules/sites/portal_saude_mg.py:405-409).
  * `discoverySeq` = (page, position) flattened — the harvest-order
  * witness that replaces Python loop order (SURVEY §2.6 O1).
  */
final case class FrontierEntry(
    site: String, year: Int, month: Int, seedSeq: Long,
    page: Int, pos: Int, discoverySeq: Long,
    url: String, urlHash: Long, host: String, title: String,
    uf: String = "", municipality: String = "")

/** A frontier entry after keep-first dedup + robots filtering + O1
  * numbering; the unit the politeness scheduler consumes.
  * `imageId` mirrors the reference's sequential naming
  * `[mes]-[ano]-RES-[nnn]` (portal_saude_mg.py:488-501).
  */
final case class ScheduledEntry(
    site: String, year: Int, month: Int, seedSeq: Long,
    discoverySeq: Long, seq: Int, imageId: String,
    url: String, urlHash: Long, host: String, title: String,
    uf: String = "", municipality: String = "")

/** Terminal status of one frontier entry — the reference's
  * success/no_data/error trichotomy (mds_saldo.py:727-801) plus
  * `corrupt` (payload validation failure, portal_saude_mg.py:539-561)
  * and `skipped` (resume skip-if-exists, portal_saude_mg.py:452-459).
  */
object CrawlStatus {
  val Success = "success"
  val NoData = "no_data"
  val Error = "error"
  val Corrupt = "corrupt"
  val Skipped = "skipped"
}

/** One row of the ordered crawl log — the crawl-order witness the
  * parity tests compare against the reference-semantics simulator.
  * `vtimeMs` is the virtual fetch-start time assigned by the
  * politeness scheduler (deterministic given budget + frontier order).
  */
final case class CrawlLogEntry(
    site: String, year: Int, month: Int, seq: Int,
    imageId: String, url: String, urlHash: Long, host: String,
    title: String, vtimeMs: Long, attempts: Int, status: String,
    uf: String = "", municipality: String = "",
    /** K5 error context (portal_saude_mg.py:563-573): machine-readable
      * kind + human detail string, empty on success/skip. */
    errorKind: String = "", errorDetail: String = "")

/** The output-table row (BASELINE.json input_hint schema) plus lineage
  * columns. `bytes` is the encoded image; `phash` is xxhash64 of the
  * decoded pixels (content fingerprint for dedup/validation, standing
  * in for the reference's magic-byte + size validation,
  * portal_saude_mg.py:539-561).
  */
final case class ImageRecord(
    image_id: String, bytes: Array[Byte], w: Int, h: Int,
    fmt: String, caption: String, phash: Long,
    site: String, year: Int, month: Int,
    url: String, urlHash: Long, vtimeMs: Long, attempts: Int)

/** Per-host politeness budget — field-for-field the reference's
  * rate_limiting + security config (config/sites_config.json:184-217)
  * plus the hard-coded inter-download delay
  * (portal_saude_mg.py:479) and retry policy (:504-537).
  */
final case class PolitenessBudget(
    crawlDelayMs: Long = 500, // 0.5 s inter-download sleep
    requestsPerMinute: Int = 30, // sites_config.json:186
    burst: Int = 5, // sites_config.json:187
    maxRetries: Int = 3, // portal_saude_mg.py:504
    backoffPerAttemptMs: Long = 2000, // 2·attempt s backoff, :533
    /** Host quarantine (the reference's browser-session recovery,
      * mds_saldo.py:249-294): after this many CONSECUTIVE
      * exhausted-retry failures on one domain, pause the domain
      * `quarantineMs` (session re-init + re-navigation stand-in)
      * before the next attempt, then reset the failure streak.
      * Disabled by default — the reference recovers only on browser
      * crashes, which the virtual fetch layer does not model unless a
      * sick host is planted. */
    quarantineAfter: Int = Int.MaxValue,
    quarantineMs: Long = 60000)

/** Year/month selection ADTs replacing the reference's magic sentinels
  * 999/998/13/14 (portal_saude_ui.py:547-552, :574-575, :790-794).
  */
sealed trait YearSelector
object YearSelector {
  final case class Single(y: Int) extends YearSelector
  final case class Range(from: Int, to: Int) extends YearSelector
  final case class Multiple(ys: Seq[Int]) extends YearSelector
  case object All extends YearSelector
}
sealed trait MonthSelector
object MonthSelector {
  final case class Single(m: Int) extends MonthSelector
  final case class Multiple(ms: Seq[Int]) extends MonthSelector
  case object All extends MonthSelector
}

/** Municipality selection, replacing the reference's `"ALL_<UF>"`
  * string sentinel (mds_saldo_ui.py:826-827, mds_saldo.py:322-324).
  * `Single` selects one municipality by its dropdown display name;
  * `All` enumerates the whole state's dropdown in option order. */
sealed trait MunicipalitySelector
object MunicipalitySelector {
  final case class Single(name: String) extends MunicipalitySelector
  case object All extends MunicipalitySelector
}

/** Whole-crawl configuration. `nowYear`/`nowMonth` is the injected
  * deterministic clock (never wall-clock inside the engine) backing the
  * future-month guard (P5, portal_saude_ui.py:1446-1448) and `All`
  * year expansion.
  */
final case class CrawlConfig(
    sites: Seq[String],
    years: YearSelector,
    months: MonthSelector,
    nowYear: Int = 2024,
    nowMonth: Int = 6,
    budget: PolitenessBudget = PolitenessBudget(),
    maxPages: Int = 5,
    webSeed: Long = 42L,
    /** Politeness scheduling domain: `false` (default) = (site, host),
      * matching the reference where each site-process owns its own
      * rate limiter (parallel_runner.py:40-62); `true` = strict
      * per-host — sites sharing a physical host (the two MDS sites on
      * aplicacoes.mds.gov.br, terminal.py:35-46) share ONE budget, the
      * web-polite interpretation the north rule asks for. */
    strictPerHost: Boolean = false,
    /** Municipality dimension (sites 2/3): UF (validated against the
      * reference's 27-state list, mds_saldo_ui.py:283-287, :783-804)
      * and the municipality selector. `municipality = None` disables
      * the dimension (site 1 has none). */
    uf: String = "",
    municipality: Option[MunicipalitySelector] = None,
    /** Per-host budget overrides — how a robots.txt `Crawl-delay`
      * (or a per-site rate config) lands on the scheduler. Hosts not
      * listed use `budget`. */
    hostBudgets: Map[String, PolitenessBudget] = Map.empty,
    /** URL-seen sketch backend for resumable runs: `"bloom"` (per-run
      * rebuild from the committed seen set) or `"cuckoo"` (persisted
      * across runs — per-run DELTA inserts, deletable on period
      * invalidation; see graft.seen.CuckooSeen). `runResumable`
      * refuses any other value. */
    seenSketch: String = "bloom") {
  def budgetFor(host: String): PolitenessBudget =
    graft.politeness.HostScheduler.budgetFor(budget, hostBudgets, host)
}
