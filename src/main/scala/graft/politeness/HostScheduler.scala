package graft.politeness

import scala.collection.mutable

import graft.fetch.SyntheticWeb
import graft.model._

/** Per-domain politeness scheduler + fetch loop, in virtual time.
  *
  * One scheduling domain ([[domainOf]]) runs one sequential timeline
  * ([[Timeline]]). By default a domain is (site, host), matching the
  * reference, where each site runs in its own process with its own
  * rate limiter (parallel_runner.py:40-62), so two sites sharing a
  * physical host do not share a budget. Under
  * `CrawlConfig.strictPerHost` a domain is the host alone, and sites
  * sharing a host share one budget.
  *
  * Virtual-time rules, applied to every HTTP attempt, mirroring
  * config/sites_config.json:184-189 + portal_saude_mg.py:479,:504-537:
  *  - the first `burst` attempts may start back-to-back;
  *  - after that, an attempt starts ≥ `crawlDelayMs` after the
  *    previous attempt's start (inter-download sleep);
  *  - a sliding window of `requestsPerMinute` attempts per 60 s;
  *  - a failed attempt k (1-based) re-tries after
  *    `backoffPerAttemptMs · k` from its failure, up to `maxRetries`
  *    attempts, INLINE (the reference's retry loop wraps one download
  *    — later URLs wait, portal_saude_mg.py:504-537);
  *  - an entry flagged as already seen emits `skipped` and costs no
  *    attempt and no virtual time (portal_saude_mg.py:452-459).
  *
  * The loop is sequential per domain BY DESIGN: sequential-per-host is
  * precisely the politeness semantics; scale comes from running many
  * domains in parallel. A timeline is a pure function of (ordered
  * flagged entries, budget, initial state), and a timeline resumed
  * from another's [[Timeline.state]] continues it exactly — which is
  * how the streaming job carries a domain across micro-batches.
  */
object HostScheduler {

  /** Resumable per-domain scheduler state (carried across streaming
    * micro-batches by flatMapGroupsWithState). `window` holds the
    * start times of the last `requestsPerMinute` attempts.
    * `consecFailures`/`quarantines` are the host-health fields
    * backing the quarantine rule (mds_saldo.py:249-294). */
  final case class DomainState(now: Long, attemptCount: Long,
      lastStart: Long, window: Seq[Long],
      consecFailures: Int = 0, quarantines: Long = 0)
  object DomainState {
    val initial: DomainState =
      DomainState(0L, 0L, Long.MinValue, Seq.empty)
  }

  /** The politeness domain of an entry: (site, host), or ("", host)
    * under `strictPerHost`. */
  def domainOf(strictPerHost: Boolean)(e: ScheduledEntry): (String, String) =
    (if (strictPerHost) "" else e.site, e.host)

  /** The budget of `host`: its `hostBudgets` override, else `budget`. */
  def budgetFor(budget: PolitenessBudget,
      hostBudgets: Map[String, PolitenessBudget],
      host: String): PolitenessBudget =
    hostBudgets.getOrElse(host, budget)

  /** One domain's timeline, started from `s0`. Feed it the domain's
    * entries sorted by (seedSeq, discoverySeq), each with its
    * skip-if-exists flag; [[state]] is the state after the last entry. */
  final class Timeline(budget: PolitenessBudget,
      s0: DomainState = DomainState.initial) {
    private var now: Long = s0.now
    private var attemptCount: Long = s0.attemptCount
    private var lastStart: Long = s0.lastStart
    private val window = mutable.Queue.empty[Long] ++ s0.window
    private var consecFailures: Int = s0.consecFailures
    private var quarantines: Long = s0.quarantines

    /** The log row of the next entry: `skipped` at the current virtual
      * time when `seen`, else the entry scheduled and fetched. */
    def step(e: ScheduledEntry, seen: Boolean): CrawlLogEntry =
      if (seen)
        CrawlLogEntry(e.site, e.year, e.month, e.seq, e.imageId,
          e.url, e.urlHash, e.host, e.title, now, 0, CrawlStatus.Skipped,
          e.uf, e.municipality)
      else fetch(e)

    def state: DomainState =
      DomainState(now, attemptCount, lastStart, window.toSeq,
        consecFailures, quarantines)

    private def nextStart(eligibleAt: Long): Long = {
      var t = math.max(now, eligibleAt)
      if (attemptCount >= budget.burst && lastStart != Long.MinValue)
        t = math.max(t, lastStart + budget.crawlDelayMs)
      if (window.size >= budget.requestsPerMinute)
        t = math.max(t, window.head + 60000L)
      t
    }

    private def recordAttempt(t: Long): Unit = {
      attemptCount += 1
      lastStart = t
      window.enqueue(t)
      if (window.size > budget.requestsPerMinute) window.dequeue()
      now = t
    }

    /** Quarantine gate, called once per entry BEFORE scheduling: after
      * `quarantineAfter` consecutive exhausted-retry failures the
      * domain pauses `quarantineMs` (the reference's session re-init +
      * re-navigate recovery) and the streak resets. Returns the
      * earliest eligible start for the next attempt. */
    private def quarantineGate(): Long =
      if (consecFailures >= budget.quarantineAfter) {
        quarantines += 1
        consecFailures = 0
        now + budget.quarantineMs
      } else 0L

    /** Schedule + fetch one entry. Emits the log row ONLY — payload
      * bytes are materialized downstream by
      * [[graft.fetch.PayloadStage]] so the politeness/ordering stage
      * never carries binary columns through shuffles or caches. */
    private def fetch(e: ScheduledEntry): CrawlLogEntry = {
      val outcome = SyntheticWeb.outcome(e.urlHash, e.host)
      var attempt = 1
      var eligible = quarantineGate()
      var done = false
      var status = CrawlStatus.Error
      var startT = 0L
      while (!done && attempt <= budget.maxRetries) {
        startT = nextStart(eligible)
        recordAttempt(startT)
        val finishT = startT + SyntheticWeb.latencyMs(e.urlHash, attempt)
        now = finishT
        outcome match {
          case SyntheticWeb.Ok =>
            status = CrawlStatus.Success; done = true
          case SyntheticWeb.NoData =>
            status = CrawlStatus.NoData; done = true
          case SyntheticWeb.Corrupt =>
            status = CrawlStatus.Corrupt; done = true
          case SyntheticWeb.Transient(failCount) =>
            if (attempt > failCount) { status = CrawlStatus.Success; done = true }
            else { // backoff 2·attempt s (portal_saude_mg.py:533)
              eligible = finishT + budget.backoffPerAttemptMs * attempt
              attempt += 1
            }
        }
      }
      val attempts = if (done) attempt else attempt - 1
      if (status == CrawlStatus.Error) consecFailures += 1
      else consecFailures = 0
      // K5 error context (portal_saude_mg.py:563-573 collects
      // "Download failed for {url}: {err}" strings; mds no-data message
      // mds_saldo.py:757-760)
      val (errKind, errDetail) = status match {
        case CrawlStatus.Error =>
          ("max_retries",
            s"Download failed for ${e.url}: gave up after $attempts attempts")
        case CrawlStatus.Corrupt =>
          ("validation",
            s"Download failed for ${e.url}: payload failed size/magic check")
        case CrawlStatus.NoData =>
          ("no_data", "Nenhum registro encontrado")
        case _ => ("", "")
      }
      CrawlLogEntry(e.site, e.year, e.month, e.seq, e.imageId,
        e.url, e.urlHash, e.host, e.title, startT, attempts, status,
        e.uf, e.municipality, errKind, errDetail)
    }
  }

  /** Outcome-only pass (no payload materialization, no schedule):
    * terminal status of a URL given the budget's retry cap — used by
    * the speculative per-period counting phase (early-stop feedback)
    * where only "would this URL download successfully" matters. */
  def terminalStatus(urlHash: Long, maxRetries: Int,
      host: String = ""): String =
    SyntheticWeb.outcome(urlHash, host) match {
      case SyntheticWeb.Ok => CrawlStatus.Success
      case SyntheticWeb.NoData => CrawlStatus.NoData
      case SyntheticWeb.Corrupt => CrawlStatus.Corrupt
      case SyntheticWeb.Transient(fc) =>
        if (maxRetries > fc) CrawlStatus.Success else CrawlStatus.Error
    }
}
