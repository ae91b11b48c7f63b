package graft

import scala.collection.mutable

import graft.fetch.SyntheticWeb
import graft.frontier.SeedExpansion
import graft.model._
import graft.politeness.HostScheduler
import graft.url.{Hashing, UrlCanon}

/** Single-threaded re-implementation of the reference crawler's
  * semantics (SURVEY §5.2 item 1) — the oracle the distributed engine
  * must match exactly on crawl order and URL-seen set.
  *
  * Orchestration here is deliberately the REFERENCE's shape — nested
  * sequential loops with inline early-stop (portal_saude_ui.py:
  * 1416-1452, 1548-1550, 1582-1584), a mutable keep-first seen set per
  * period (portal_saude_mg.py:416-423), and list-index numbering
  * (:439, :488-501) — NOT the Spark engine's windows/joins/pruning.
  * Shared with the engine are only the environment (SyntheticWeb), the
  * url module, and the per-host virtual-time budget arithmetic
  * (HostScheduler), so the parity tests exercise precisely the
  * distributed orchestration: dedup, ordering, pruning, partitioning.
  */
object ReferenceSimulator {

  final case class SimResult(
      log: Seq[CrawlLogEntry],
      images: Seq[ImageRecord],
      crawledPeriods: Seq[PeriodSeed])

  def crawl(cfg: CrawlConfig, seen: Set[Long] = Set.empty): SimResult = {
    val allMonthsMode = cfg.months == MonthSelector.All
    val allYearsMode = cfg.years == YearSelector.All
    val log = mutable.ArrayBuffer.empty[CrawlLogEntry]
    val images = mutable.ArrayBuffer.empty[ImageRecord]
    val crawled = mutable.ArrayBuffer.empty[PeriodSeed]
    var seedSeq = -1L

    // reference-compat: one politeness domain per site process
    // (parallel_runner.py:40-62); strict mode: one per physical host
    val domains =
      mutable.LinkedHashMap.empty[(String, String),
        mutable.ArrayBuffer[ScheduledEntry]]
    // municipality dimension: dropdown scan + placeholder filter + UF
    // validation (mds_saldo.py:643-662, mds_parcelas.py:424-428,
    // mds_saldo_ui.py:783-804), enumerated per (year,month) like the
    // reference's re-navigate-per-municipality loop
    val munDim = SeedExpansion.municipalityDim(cfg)
    val ufNorm =
      if (cfg.municipality.isEmpty) "" else SeedExpansion.validateUf(cfg.uf)

    cfg.sites.foreach { site =>
      val domainEntries = mutable.ArrayBuffer.empty[ScheduledEntry]
      var emptyYearStreak = 0
      var yearsStopped = false
      SeedExpansion.years(cfg.years, site, cfg.nowYear).foreach { y =>
        var monthStopped = false
        var yearFiles = 0L
        SeedExpansion.months(cfg.months).foreach { m =>
          // P5 future guard — same emission rule as SeedExpansion.expand
          if (y < cfg.nowYear || (y == cfg.nowYear && m <= cfg.nowMonth)) {
            var monthFiles = 0L
            munDim.foreach { case (mun, munValue) =>
              seedSeq += 1
              if (!yearsStopped && !monthStopped) {
                crawled += PeriodSeed(site, y, m, seedSeq, ufNorm, mun,
                  munValue)
                // harvest with keep-first dedup (reference set
                // semantics, one seen set per form-submission session)
                val seenUrls = mutable.LinkedHashSet.empty[String]
                val entries = mutable.ArrayBuffer.empty[ScheduledEntry]
                var n = 0
                val imgPrefix =
                  if (mun.isEmpty) ""
                  else s"$ufNorm-${mun.replace(' ', '_')}-"
                SyntheticWeb.harvestPeriod(site, y, m, cfg.maxPages,
                    cfg.webSeed, ufNorm, munValue)
                  .foreach { case (k, _, _, url, title) =>
                    val host = UrlCanon.host(url)
                    if (title.trim.nonEmpty && url.startsWith("http") &&
                      !seenUrls.contains(url) &&
                      !SyntheticWeb.disallowed(host, url)) {
                      seenUrls += url
                      n += 1
                      entries += ScheduledEntry(site, y, m, seedSeq, k.toLong,
                        n, f"$imgPrefix$m%02d-$y-RES-$n%03d", url,
                        Hashing.xxh64(url), host, title, ufNorm, mun)
                    }
                  }
                val files = entries.count(e => HostScheduler.terminalStatus(
                  e.urlHash, cfg.budgetFor(e.host).maxRetries, e.host) ==
                  CrawlStatus.Success)
                domainEntries ++= entries
                monthFiles += files
              }
            }
            yearFiles += monthFiles
            // the stop decision is per MONTH on the month total
            // (municipality counts summed, mds_saldo.py:339-341)
            if (!yearsStopped && !monthStopped && allMonthsMode &&
              monthFiles == 0L) monthStopped = true
          }
        }
        if (!yearsStopped && allYearsMode) {
          if (yearFiles == 0L) emptyYearStreak += 1 else emptyYearStreak = 0
          if (emptyYearStreak > 3) yearsStopped = true
        }
      }
      domainEntries.foreach { e =>
        val key = (if (cfg.strictPerHost) "" else e.site, e.host)
        domains.getOrElseUpdate(key,
          mutable.ArrayBuffer.empty[ScheduledEntry]) += e
      }
    }
    domains.foreach { case ((_, host), entries) =>
      val ordered = entries.sortBy(e => (e.seedSeq, e.discoverySeq))
      val timeline = new HostScheduler.Timeline(cfg.budgetFor(host))
      ordered.foreach { e =>
        val l = timeline.step(e, seen.contains(e.urlHash))
        log += l
        graft.fetch.PayloadStage.imageFor(l).foreach(images += _)
      }
    }
    SimResult(log.toSeq, images.toSeq, crawled.toSeq)
  }
}
