package graft.politeness

import scala.collection.mutable

import graft.fetch.SyntheticWeb
import graft.model._

/** Per-host politeness scheduler + fetch loop, in virtual time.
  *
  * One scheduling domain = (site, host) — matching the reference,
  * where each site runs in its own process with its own rate limiter
  * (parallel_runner.py:40-62) so two sites sharing a physical host do
  * not share a budget. (A strict per-host mode is a config away: key
  * the groups by host only.)
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
  *    — later URLs wait, portal_saude_mg.py:504-537).
  *
  * The loop is sequential per domain BY DESIGN: sequential-per-host is
  * precisely the politeness semantics; scale comes from running many
  * host domains in parallel. Pure function of (ordered entries,
  * budget, initial state) — the batch job, the streaming job, and the
  * reference simulator all call it, while the parity tests check that
  * the distributed pipelines feed it identical inputs in identical
  * order.
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

  private final class Clock(budget: PolitenessBudget, s0: DomainState) {
    var now: Long = s0.now
    var attemptCount: Long = s0.attemptCount
    var lastStart: Long = s0.lastStart
    val window: mutable.Queue[Long] = mutable.Queue.empty[Long] ++ s0.window
    var consecFailures: Int = s0.consecFailures
    var quarantines: Long = s0.quarantines

    def nextStart(eligibleAt: Long): Long = {
      var t = math.max(now, eligibleAt)
      if (attemptCount >= budget.burst && lastStart != Long.MinValue)
        t = math.max(t, lastStart + budget.crawlDelayMs)
      if (window.size >= budget.requestsPerMinute)
        t = math.max(t, window.head + 60000L)
      t
    }

    def recordAttempt(t: Long): Unit = {
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
    def quarantineGate(): Long =
      if (consecFailures >= budget.quarantineAfter) {
        quarantines += 1
        consecFailures = 0
        now + budget.quarantineMs
      } else 0L

    def recordOutcome(status: String): Unit =
      if (status == CrawlStatus.Error) consecFailures += 1
      else consecFailures = 0

    def snapshot: DomainState =
      DomainState(now, attemptCount, lastStart, window.toSeq,
        consecFailures, quarantines)
  }

  /** Schedule + fetch one entry on this clock. Emits the log row ONLY
    * — payload bytes are materialized downstream by
    * [[graft.fetch.PayloadStage]] so the politeness/ordering stage
    * never carries binary columns through shuffles or caches. */
  private def fetchOne(e: ScheduledEntry, budget: PolitenessBudget,
      clock: Clock): CrawlLogEntry = {
    val outcome = SyntheticWeb.outcome(e.urlHash, e.host)
    var attempt = 1
    var eligible = clock.quarantineGate()
    var done = false
    var status = CrawlStatus.Error
    var startT = 0L
    while (!done && attempt <= budget.maxRetries) {
      startT = clock.nextStart(eligible)
      clock.recordAttempt(startT)
      val finishT = startT + SyntheticWeb.latencyMs(e.urlHash, attempt)
      clock.now = finishT
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
    clock.recordOutcome(status)
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

  private def skippedEntry(e: ScheduledEntry, now: Long): CrawlLogEntry =
    CrawlLogEntry(e.site, e.year, e.month, e.seq, e.imageId,
      e.url, e.urlHash, e.host, e.title, now, 0, CrawlStatus.Skipped,
      e.uf, e.municipality)

  /** Run one domain's timeline lazily. `entries` MUST be sorted by
    * (seedSeq, discoverySeq); `alreadySeen` implements resume
    * skip-if-exists (D2, portal_saude_mg.py:452-459): skipped entries
    * emit a log row but consume no attempts and no virtual time. */
  def run(entries: Iterator[ScheduledEntry], budget: PolitenessBudget,
      alreadySeen: Long => Boolean = _ => false,
      state0: DomainState = DomainState.initial): Iterator[CrawlLogEntry] =
    runFlagged(entries.map(e => (e, alreadySeen(e.urlHash))), budget, state0)

  /** As `run`, with the skip-if-exists decision precomputed per entry
    * (the scale path: the seen flag comes from a Bloom-prefiltered
    * exact join, not a broadcast set). */
  def runFlagged(entries: Iterator[(ScheduledEntry, Boolean)],
      budget: PolitenessBudget,
      state0: DomainState = DomainState.initial): Iterator[CrawlLogEntry] = {
    val clock = new Clock(budget, state0)
    entries.map { case (e, seenBefore) =>
      if (seenBefore) skippedEntry(e, clock.now)
      else fetchOne(e, budget, clock)
    }
  }

  /** Strict variant of [[runFlagged]] for streaming mode: materializes
    * outcomes and returns the final clock state for checkpointing. The
    * flags come from a stream-static join against the committed seen
    * table, not a driver-side set. */
  def runBufferedFlagged(entries: Seq[(ScheduledEntry, Boolean)],
      budget: PolitenessBudget,
      state0: DomainState): (Seq[CrawlLogEntry], DomainState) = {
    val clock = new Clock(budget, state0)
    val out = entries.map { case (e, seenBefore) =>
      if (seenBefore) skippedEntry(e, clock.now)
      else fetchOne(e, budget, clock)
    }
    (out, clock.snapshot)
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
