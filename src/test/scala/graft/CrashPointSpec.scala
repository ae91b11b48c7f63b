package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.IndexFixtures._
import graft.jobs.CrawlJob
import graft.model.{CrawlConfig, ImageRecord, MonthSelector, YearSelector}
import graft.seen.CuckooSeen
import graft.table.{StateFiles, TableIO}

/** Crash points of every persisted store. Each operation first runs
  * uncrashed to count its driver-side mutations (meta and pointer
  * swaps, deletes) through the `StateFiles` crash seam; then, for every
  * N up to that count, it runs again from the same starting state with
  * the N-th mutation throwing. N = 1 is the landed data with no pointer
  * swap. After each crash:
  *
  *  - every reader of the store sees exactly the old state or exactly
  *    the new one, never a mix;
  *  - replaying the same call with the same runId — guarded the way the
  *    store's callers guard it — converges on the state the uncrashed
  *    run left.
  *
  * Unreferenced debris (an orphan delta, a tmp file, a staged table
  * file) is allowed: no reader resolves it. An index's next rewrite
  * reaps the orphan deltas under its delta roots; the table's next
  * write or `expire` reaps its `_staging` tree. A table write's
  * driver-side steps are each a mutation: clearing the target dir,
  * every staged-file move and the staging delete. */
class CrashPointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** `setup` builds the starting state in a fresh dir, `run` is the
    * operation, `replay` its guarded re-run, `view` what readers see. */
  private case class Case(store: String, op: String,
      setup: String => Unit, run: String => Any, view: String => Any,
      replay: Option[String => Any] = None)

  // ---- TableIO -------------------------------------------------------

  private def image(id: Int, month: Int): ImageRecord =
    ImageRecord(s"i$id", Array.fill[Byte](id)(id.toByte), 4, 5, "png",
      s"c$id", id.toLong, "s", 2024, month, s"http://x/$id", id * 11L,
      id * 100L, 1)

  private def commit(dir: String, runId: String, ids: Int*): Unit = {
    import spark.implicits._
    TableIO.commit(spark, dir, ids.map(i => image(i, i)).toDS(),
      ids.map(_ * 11L).toDS(), runId, ids.map(i => s"s/2024/$i"))
  }

  private def tableView(dir: String): Any = {
    val images = TableIO.readImages(spark, dir)
    val snap = TableIO.currentSnapshot(dir).get
    (if (images.columns.isEmpty) Nil
     else rowsOf(images.select("image_id", "site", "year", "month")),
      TableIO.readSeen(spark, dir).collect().sorted.toSeq,
      // maintenance ids name their version: a replayed compaction
      // commits the same table under another one
      TableIO.committedRunIds(dir).filterNot(_.contains("-v0")),
      snap.dataDirs.size, snap.seenDirs.size, snap.totalRows,
      snap.partitions.sortBy(p => (p.site, p.year, p.month)))
  }

  private def tableSetup(dir: String): Unit = {
    commit(dir, "run-1", 1, 2)
    commit(dir, "run-2", 3)
  }

  private val tableCases = Seq(
    Case("TableIO", "commit", tableSetup, commit(_, "run-3", 4), tableView,
      replay = Some(d =>
        if (!TableIO.committedRunIds(d).contains("run-3"))
          commit(d, "run-3", 4))),
    Case("TableIO", "compact", tableSetup, TableIO.compact(spark, _),
      tableView),
    Case("TableIO", "invalidatePeriods", tableSetup,
      TableIO.invalidatePeriods(spark, _, Set(("s", 2024, 1))), tableView),
    Case("TableIO", "rollback", tableSetup, TableIO.rollback(spark, _, 1),
      tableView))

  // ---- CuckooSeen ----------------------------------------------------

  private val cuckooKeys = Map("a" -> (1L to 300L), "b" -> (1001L to 1100L))

  private def cuckooInsert(dir: String): Unit = {
    import spark.implicits._
    val m = CuckooSeen.readMeta(dir).get
    CuckooSeen.insertIntoDir(cuckooKeys("b").toDS(), dir, m, Seq("a", "b"))
  }

  /** The meta, and whether the probe finds every key it covers (the
    * sketch's contract: no false negative for a covered key). */
  private def cuckooView(dir: String): Any = {
    import spark.implicits._
    val m = CuckooSeen.readMeta(dir).get
    val keys = m.covered.flatMap(cuckooKeys)
    (m, CuckooSeen.probeAligned(keys.toDF("h"), "h", dir, m)
      .filter(!org.apache.spark.sql.functions.col("maybeSeen")).count())
  }

  private val cuckooCase = Case("CuckooSeen", "insert",
    dir => {
      import spark.implicits._
      CuckooSeen.write(cuckooKeys("a").toDS(), dir, parts = 2,
        expectedKeys = 2000L, covered = Seq("a"))
    },
    cuckooInsert, cuckooView,
    replay = Some(d =>
      if (!CuckooSeen.readMeta(d).get.covered.contains("b"))
        cuckooInsert(d)))

  // ---- TableIO under a cuckoo sketch ---------------------------------

  private val crawlCfg = CrawlConfig(
    sites = Seq("portal_saude_mg", "mds_saldo"),
    years = YearSelector.Single(2024),
    months = MonthSelector.Multiple(Seq(1, 2, 3)),
    nowYear = 2024, nowMonth = 6, maxPages = 3, seenSketch = "cuckoo")

  private def crawl(dir: String, runId: String, months: Int*): Unit =
    CrawlJob.runResumable(spark,
      crawlCfg.copy(months = MonthSelector.Multiple(months)), dir, runId)
      ._1.unpersist()

  /** Two identical runs: the second builds the sketch over the first's
    * seen delta and commits nothing new, so the sketch covers every
    * committed seen dir. */
  private def sketchedSetup(dir: String): Unit = {
    crawl(dir, "ck-1", 1, 2, 3)
    crawl(dir, "ck-2", 1, 2, 3)
  }

  /** The committed keys the sketch claims to cover but does not find:
    * a resumed run would refetch and recommit them. None to find when
    * the sketch is absent or claims a dir the snapshot does not name —
    * the next run rebuilds it. */
  private def sketchMisses(dir: String): Long = {
    val seenDirs = TableIO.currentSnapshot(dir).get.seenDirs.toSet
    val sk = CuckooSeen.sketchDir(dir)
    CuckooSeen.readMeta(sk) match {
      case Some(m)
          if m.covered.nonEmpty && m.covered.toSet.subsetOf(seenDirs) =>
        val keys = spark.read.parquet(m.covered.map(d => s"$dir/$d"): _*)
          .select("urlHash")
        CuckooSeen.probeAligned(keys, "urlHash", sk, m)
          .filter(!col("maybeSeen")).count()
      case _ => 0L
    }
  }

  private def sketchedView(dir: String): Any =
    (sketchMisses(dir), tableView(dir))

  private val sketchedCases = Seq(
    Case("TableIO+cuckoo", "invalidatePeriods", sketchedSetup,
      TableIO.invalidatePeriods(spark, _,
        crawlCfg.sites.map(s => (s, 2024, 2)).toSet), sketchedView),
    // a first run over months 1-2 ahead of the identical pair: the
    // rollback to it deletes the covered month-3 delta from the sketch
    Case("TableIO+cuckoo", "rollback",
      dir => { crawl(dir, "ck-0", 1, 2); sketchedSetup(dir) },
      TableIO.rollback(spark, _, 1), sketchedView))

  // ---- the four ops indexes -------------------------------------------

  private def indexCases(s: Store): Seq[Case] = {
    def setup(dir: String): Unit = {
      s.create(dir)
      s.append(dir, batch1, "r1")
    }
    def view(dir: String): Any = (s.metaView(dir), s.rows(dir), s.probe(dir))
    Seq(
      Case(s.name, "append", setup, s.append(_, batch2, "r2"), view),
      Case(s.name, "compact", setup, s.compact, view),
      Case(s.name, "deleteIds", setup, s.deleteIds(_, Seq(1L, 101L, 102L)),
        view))
  }

  private val cases = tableCases ++ sketchedCases ++ Seq(cuckooCase) ++
    stores.flatMap(indexCases)

  for (c <- cases)
    test(s"${c.store}.${c.op}: every crash point leaves the old or the new state; the replay converges") {
      val template = tmpDir("crash-template")
      c.setup(template)
      val old = c.view(template)
      val clean = tmpDir("crash-clean")
      copyTree(template, clean)
      StateFiles.crashAt(0)
      c.run(clean)
      val mutations = StateFiles.mutationCount
      val fresh = c.view(clean)
      assert(mutations >= 1)
      assert(fresh != old, "the operation must change what readers see")
      for (n <- 1 to mutations) {
        val dir = tmpDir("crash")
        copyTree(template, dir)
        StateFiles.crashAt(n)
        try intercept[StateFiles.InjectedCrash](c.run(dir))
        finally StateFiles.crashAt(0)
        val seen = c.view(dir)
        assert(seen == old || seen == fresh,
          s"crash at mutation $n of $mutations: readers see a mix\n" +
            s"  seen: $seen\n  old: $old\n  new: $fresh")
        c.replay.getOrElse(c.run)(dir)
        assert(c.view(dir) == fresh,
          s"replay after a crash at mutation $n of $mutations diverged")
      }
    }

  /** The parquet files under `dir/rel`, relative to it. */
  private def parquetFiles(dir: String, rel: String): Seq[String] = {
    val root = Paths.get(dir, rel)
    if (!Files.exists(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".parquet"))
        .map(root.relativize(_).toString).toList.sorted
      finally walk.close()
    }
  }

  test("TableIO.commit: a crash after some data files moved; the replay holds exactly its own rows and files, and expire reaps the staging tree") {
    // three months in one commit: three data files, three moves
    def commit3(d: String): Unit =
      if (!TableIO.committedRunIds(d).contains("run-3"))
        commit(d, "run-3", 4, 5, 6)
    val template = tmpDir("moves-template")
    tableSetup(template)
    val clean = tmpDir("moves-clean")
    copyTree(template, clean)
    StateFiles.crashAt(0)
    commit3(clean)
    val mutations = StateFiles.mutationCount
    val fresh = tableView(clean)
    val files = parquetFiles(clean, "data/v00003")
    assert(files.size === 3)
    assert(!Files.exists(Paths.get(clean, "_staging")))
    var midMove = 0
    for (n <- 1 to mutations) {
      val dir = tmpDir("moves")
      copyTree(template, dir)
      StateFiles.crashAt(n)
      val crash =
        try intercept[StateFiles.InjectedCrash](commit3(dir))
        finally StateFiles.crashAt(0)
      val moved = parquetFiles(dir, "data/v00003").size
      if (crash.getMessage.contains(": move ") && moved > 0) midMove += 1
      commit3(dir)
      assert(tableView(dir) == fresh,
        s"replay after a crash at mutation $n of $mutations diverged")
      // the files differ by name between attempts: a file the crashed
      // attempt moved in and the replay kept would show here
      val landed = parquetFiles(dir, "data/v00003")
      assert(landed.size === files.size,
        s"crash at mutation $n of $mutations left a data file behind")
      // a zombie task attempt of the crashed write staging a file after
      // the replay's staging delete: no reader sees it, expire reaps it
      val zombie = Paths.get(dir, "_staging", "data", "v00003", "a99999",
        landed.head)
      Files.createDirectories(zombie.getParent)
      Files.copy(Paths.get(dir, "data", "v00003", landed.head), zombie)
      assert(tableView(dir) == fresh)
      TableIO.expire(dir)
      assert(!Files.exists(Paths.get(dir, "_staging")),
        s"expire after a crash at mutation $n left a staging entry")
    }
    // crashes at the second and third data-file moves follow moved files
    assert(midMove >= 2)
  }

  /** The `vNNNNN` dirs under `s`'s delta roots that its meta at `dir`
    * does not name. */
  private def unreferenced(s: Store, dir: String): Seq[String] = {
    val live = s.meta(dir).deltas.toSet
    for {
      root <- s.roots
      child <- StateFiles.list(Paths.get(dir, root))
      name = child.getFileName.toString
      if name.matches("v\\d+") && !live(s"$root/$name") && !live(name)
    } yield s"$root/$name"
  }

  for (s <- stores)
    test(s"${s.name}.compact: after a crash at any mutation, the replay and one more append + compact leave no unreferenced delta dir") {
      val template = tmpDir("reap-template")
      s.create(template)
      s.append(template, batch1, "r1")
      val clean = tmpDir("reap-clean")
      copyTree(template, clean)
      StateFiles.crashAt(0)
      s.compact(clean)
      val mutations = StateFiles.mutationCount
      for (n <- 1 to mutations) {
        val dir = tmpDir("reap")
        copyTree(template, dir)
        StateFiles.crashAt(n)
        try intercept[StateFiles.InjectedCrash](s.compact(dir))
        finally StateFiles.crashAt(0)
        s.compact(dir)
        // a one-delta index compacts to itself: append first, so the
        // last compact rewrites
        s.append(dir, batch2, "r2")
        s.compact(dir)
        val orphans = unreferenced(s, dir)
        assert(orphans.isEmpty,
          s"crash at mutation $n of $mutations left orphan deltas $orphans")
      }
    }
}
