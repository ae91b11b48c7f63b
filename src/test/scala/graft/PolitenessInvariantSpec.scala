package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.politeness.HostScheduler

/** Independent invariant checks of the politeness clock. The parity
  * suite proves the DISTRIBUTED pipeline feeds HostScheduler the same
  * inputs as the sequential simulator — but both share the budget
  * arithmetic, so these properties pin the token bucket itself, under
  * 40 seeded random budgets × workloads:
  *  - per-domain start times never go backwards;
  *  - once the burst is exhausted, consecutive entry starts are at
  *    least `crawlDelayMs` apart;
  *  - no 60-second window contains more than `requestsPerMinute`
  *    logged starts (log starts are a subset of attempt starts, so
  *    this is a necessary condition of the sliding-window limiter);
  *  - skipped entries consume zero attempts and zero virtual time;
  *  - attempts never exceed `maxRetries`, and errors use ALL retries;
  *  - a timeline resumed from another's state at any split point logs
  *    what one unbroken timeline logs (the streaming hand-off).
  */
class PolitenessInvariantSpec extends AnyFunSuite {

  private def entry(i: Int, h: Long): ScheduledEntry =
    ScheduledEntry("site", 2024, 1, 0L, i.toLong, i, f"01-2024-RES-$i%03d",
      s"https://inv.gov.br/f/$i", h, "inv.gov.br", s"doc $i", "", "")

  test("token-bucket invariants hold under 40 random budgets and workloads") {
    val rnd = new scala.util.Random(0xBEEF)
    for (trial <- 1 to 40) {
      val budget = PolitenessBudget(
        crawlDelayMs = 100 + rnd.nextInt(1900),
        requestsPerMinute = 2 + rnd.nextInt(20),
        burst = 1 + rnd.nextInt(4),
        maxRetries = 1 + rnd.nextInt(3),
        backoffPerAttemptMs = 500 + rnd.nextInt(1500))
      val n = 20 + rnd.nextInt(40)
      val seen = if (rnd.nextBoolean()) Set.empty[Long]
        else (0 until n).filter(_ => rnd.nextInt(4) == 0)
          .map(i => Hashing(i, trial)).toSet
      val entries = (0 until n).map(i => entry(i, Hashing(i, trial)))
      val timeline = new HostScheduler.Timeline(budget)
      val log = entries.map(e => timeline.step(e, seen.contains(e.urlHash)))
      assert(log.size === n)

      val fetched = log.filter(_.status != CrawlStatus.Skipped)
      // starts never go backwards
      val starts = fetched.map(_.vtimeMs)
      assert(starts.zip(starts.drop(1)).forall { case (a, b) => b >= a },
        s"trial $trial: starts regressed ($budget)")
      // crawl-delay after the burst: entry k+1's (last-attempt) start is
      // >= entry k's last-attempt start + delay once cumulative
      // attempts have exhausted the burst
      var cumAttempts = 0
      fetched.zip(fetched.drop(1)).foreach { case (a, b) =>
        cumAttempts += a.attempts
        if (cumAttempts >= budget.burst)
          assert(b.vtimeMs - a.vtimeMs >= budget.crawlDelayMs,
            s"trial $trial: delay violated after burst " +
              s"(${b.vtimeMs - a.vtimeMs} < ${budget.crawlDelayMs}, $budget)")
      }
      // sliding window: <= rpm logged starts in any 60 s
      starts.indices.foreach { i =>
        val windowed = starts.count(t =>
          t >= starts(i) && t < starts(i) + 60000L)
        assert(windowed <= budget.requestsPerMinute,
          s"trial $trial: $windowed starts in one minute " +
            s"(rpm=${budget.requestsPerMinute})")
      }
      // skipped: zero attempts, no clock movement relative to
      // the previous fetched entry
      log.filter(_.status == CrawlStatus.Skipped)
        .foreach(e => assert(e.attempts === 0))
      assert(log.filter(e => seen.contains(e.urlHash))
        .forall(_.status == CrawlStatus.Skipped))
      // retry bounds: attempts in [1, maxRetries] for fetched entries;
      // exhausted-retry errors used every attempt
      assert(fetched.forall(e =>
        e.attempts >= 1 && e.attempts <= budget.maxRetries))
      assert(fetched.filter(_.status == CrawlStatus.Error)
        .forall(_.attempts == budget.maxRetries))
    }
  }

  test("a timeline resumed from another's state continues it exactly (40 random splits)") {
    // the micro-batch contract of StreamingCrawl: a domain's entries
    // [0, k) on one timeline, then [k, n) on a timeline started from
    // its state, log exactly what one timeline over [0, n) logs
    val rnd = new scala.util.Random(0xC0FFEE)
    var quarantined = 0
    for (trial <- 1 to 40) {
      val budget = PolitenessBudget(
        crawlDelayMs = 100 + rnd.nextInt(1900),
        requestsPerMinute = 2 + rnd.nextInt(20),
        burst = 1 + rnd.nextInt(4),
        maxRetries = 1 + rnd.nextInt(3),
        backoffPerAttemptMs = 500 + rnd.nextInt(1500),
        quarantineAfter =
          if (rnd.nextBoolean()) 1 + rnd.nextInt(2) else Int.MaxValue,
        quarantineMs = 1000 + rnd.nextInt(60000))
      val n = 20 + rnd.nextInt(40)
      val seen = if (rnd.nextBoolean()) Set.empty[Long]
        else (0 until n).filter(_ => rnd.nextInt(4) == 0)
          .map(i => Hashing(i, trial)).toSet
      val entries = (0 until n).map(i => entry(i, Hashing(i, trial)))
      val k = rnd.nextInt(n + 1)
      def steps(t: HostScheduler.Timeline, from: Int, until: Int) =
        entries.slice(from, until).map(e => t.step(e, seen.contains(e.urlHash)))
      val whole = new HostScheduler.Timeline(budget)
      val one = steps(whole, 0, n)
      val first = new HostScheduler.Timeline(budget)
      val head = steps(first, 0, k)
      val second = new HostScheduler.Timeline(budget, first.state)
      val tail = steps(second, k, n)
      assert(head ++ tail === one, s"trial $trial: split at $k of $n ($budget)")
      assert(second.state === whole.state, s"trial $trial: end state")
      if (whole.state.quarantines > 0) quarantined += 1
    }
    assert(quarantined > 0, "no trial exercised the quarantine rule")
  }

  /** Deterministic per-trial url hash. */
  private object Hashing {
    def apply(i: Int, trial: Int): Long =
      graft.url.Hashing.mix(i.toLong * 7919 + trial, 0xD1CEL)
  }
}
