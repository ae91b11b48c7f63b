package graft.table

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.ImageRecord
import graft.seen.CuckooSeen

/** Iceberg-style table layer (SURVEY §7.1): partitioned Parquet data
  * plus versioned JSON snapshots with per-partition manifests and
  * lineage, committed via the reference's own atomic tmp+rename
  * pattern (portal_saude_mg.py:777-791) — write snapshot vN+1, then
  * atomically swap `version-hint.txt`. Every file operation here that
  * is not a write inside a task goes through [[StateFiles]].
  *
  * Layout:
  * {{{
  * <dir>/data/v<N>/site=S/year=Y/month=M/part-x.parquet  (per commit)
  * <dir>/seen/v<N>/part-x.parquet                       (urlHash delta)
  * <dir>/snapshots/v<N>.json                         (manifest + lineage)
  * <dir>/snapshots/runids.json              (cumulative runId sidecar)
  * <dir>/version-hint.txt                            (current version)
  * <dir>/_staging/...                 (files of a write not yet landed)
  * }}}
  *
  * How a write lands ([[TableFiles]]): the tasks write their Parquet
  * files themselves, under `_staging/<data or seen dir>/a<attempt>/`,
  * and return one (file, site, year, month, rows, payload bytes) row
  * per file. The driver clears the target `data/vN` or `seen/vN`,
  * moves the returned files (those of the successful attempts) into
  * it and deletes `_staging`, each step a [[StateFiles]] mutation; the
  * snapshot's manifest is built from the returned rows. No Spark
  * `FileFormatWriter`, no Hadoop output committer and no session Hadoop
  * conf take part, and a commit's dirs hold only the data files (no
  * `_SUCCESS`, `.crc` or `_temporary` entry). The snapshot write and
  * the hint swap stay the commit point. For the Hadoop `FileSystem`
  * port, the task side swaps parquet's `LocalOutputFile` for a Hadoop
  * `OutputFile` built with a task-local conf.
  *
  * Data files are zstd Parquet (level 3, Parquet's default): the table
  * owns its codec, as an Iceberg table does through
  * `write.parquet.compression-codec` (zstd by default since Iceberg
  * 1.4). Payload pages are ~99% of a commit's bytes, and a third of the
  * payloads are raw BMP gradients that snappy's LZ pass barely shrinks
  * while zstd's entropy stage does. Parquet records the codec per
  * column chunk, so files written with the earlier snappy default read
  * through the same reader, and [[compact]] rewrites them as zstd.
  *
  * A snapshot's `dataDirs` entries are either whole commit dirs
  * (`data/v00001`) or — after [[invalidatePeriods]] — partition
  * subpaths inside one (`data/v00001/site=S/year=Y/month=M`):
  * invalidation is a METADATA operation that drops partitions by
  * rewriting references, never by copying data files. Readers resolve
  * version-hint → snapshot → path list; data/seen directories not
  * referenced by the current snapshot (a crashed, uncommitted write)
  * are invisible — that is the resume guarantee: restart replays the
  * uncommitted wave only (K2/K4, SURVEY §2.1). No real Iceberg runtime
  * exists offline; the API is scoped to exactly what the north rule
  * needs (partitions, lineage, snapshots, resume) behind this one
  * object so a catalog could drop in.
  */
object TableIO {

  /** Per-partition manifest entry (rows + payload bytes). */
  final case class PartitionMeta(site: String, year: Int, month: Int,
      rows: Long, bytes: Long)

  /** Lineage of one commit: which run, which parent snapshot, which
    * crawl periods contributed, row counts. */
  final case class Lineage(runId: String, parentVersion: Int,
      periods: Seq[String], note: String)

  /** `runIds`: legacy cumulative index (snapshots written before the
    * `runids.json` sidecar existed embedded the full list in every
    * snapshot — O(commits²) bytes over a stream's life); new snapshots
    * leave it empty and the sidecar carries the index. `cumulative`:
    * whether `partitions` describes the WHOLE table (compaction /
    * invalidation snapshots) or only this commit's delta. */
  final case class Snapshot(version: Int, dataDirs: Seq[String],
      seenDirs: Seq[String], partitions: Seq[PartitionMeta],
      totalRows: Long, lineage: Lineage, runIds: Seq[String] = Nil,
      cumulative: Boolean = false)

  private def hintPath(dir: String): Path = Paths.get(dir, "version-hint.txt")

  private def snapshotPath(dir: String, version: Int): Path =
    Paths.get(dir, "snapshots", f"v$version%05d.json")

  def currentVersion(dir: String): Option[Int] =
    StateFiles.readText(hintPath(dir)).map(_.trim.toInt)

  def readSnapshot(dir: String, version: Int): Snapshot = {
    val p = snapshotPath(dir, version)
    // NoSuchFileException (an IOException), NOT require/IAE: the
    // expired-chain fallbacks (partitionMeta, recordRunId's
    // heal path) catch IOException — an IAE here would turn their
    // documented degrade-to-scan behavior into a crash
    StateFiles.readJson[Snapshot](p).getOrElse(
      throw new java.nio.file.NoSuchFileException(p.toString, null,
        s"snapshot v$version does not exist (never committed, or " +
          "expired by TableIO.expire)"))
  }

  def currentSnapshot(dir: String): Option[Snapshot] =
    currentVersion(dir).map(readSnapshot(dir, _))

  /** The commit point of every snapshot-producing operation: write
    * snapshot vN, atomically swap the hint to N, then record its runId
    * in the sidecar. */
  private def publish(dir: String, parent: Option[Snapshot],
      snap: Snapshot): Unit = {
    StateFiles.writeJson(snapshotPath(dir, snap.version), snap,
      pretty = true)
    StateFiles.replaceText(hintPath(dir), snap.version.toString)
    recordRunId(dir, parent, snap.lineage.runId)
  }

  // ---- cumulative runId sidecar ------------------------------------

  private def runIdsPath(dir: String): Path =
    Paths.get(dir, "snapshots", "runids.json")

  private def readRunIdsSidecar(dir: String): Option[Seq[String]] =
    StateFiles.readJson[Array[String]](runIdsPath(dir)).map(_.toSeq)

  /** Append `runId` to the cumulative sidecar (called AFTER the hint
    * swap, so the sidecar never lists an uncommitted run). Crashes in
    * the window between hint swap and sidecar write lose ids — healed
    * here by rebuilding from the snapshot chain whenever the sidecar
    * is shorter than the parent version, and masked on the read side
    * by [[committedRunIds]] always unioning the current snapshot's
    * lineage id. */
  private def recordRunId(dir: String, parent: Option[Snapshot],
      runId: String): Unit = {
    val prior = readRunIdsSidecar(dir)
      .getOrElse(parent.map(chainRunIds(dir, _)).getOrElse(Nil))
    val healed = parent match {
      // every committed version appended exactly one id, so a sidecar
      // SHORTER than the parent version lost ids to crashes in the
      // hint-swap→sidecar window — possibly more than one (two
      // consecutive crashed commits lose the middle id forever if only
      // the immediate parent is re-added). Rebuild from the snapshot
      // chain while it still exists; after an expire() pruned the
      // chain, fall back to re-adding the parent id (best effort).
      case Some(p) if prior.size < p.version =>
        try (1 to p.version).map(readSnapshot(dir, _).lineage.runId)
        catch {
          case _: java.io.IOException =>
            if (prior.contains(p.lineage.runId)) prior
            else prior :+ p.lineage.runId
        }
      case Some(p) if !prior.contains(p.lineage.runId) =>
        prior :+ p.lineage.runId
      case _ => prior
    }
    StateFiles.writeJson(runIdsPath(dir), healed :+ runId)
  }

  /** Cumulative run ids of `snap` WITHOUT the sidecar: its embedded
    * legacy `runIds` index when present, else a linear chain walk. */
  private def chainRunIds(dir: String, snap: Snapshot): Seq[String] =
    if (snap.runIds != null && snap.runIds.nonEmpty) snap.runIds
    else (1 to snap.version).map(readSnapshot(dir, _).lineage.runId)

  /** runIds of every committed snapshot in the chain — the idempotence
    * check for replayed streaming micro-batches (a replayed
    * foreachBatch must not double-commit). ONE sidecar read per call;
    * legacy tables without the sidecar fall back to the embedded index
    * or the linear walk. */
  def committedRunIds(dir: String): Set[String] =
    currentSnapshot(dir) match {
      case None => Set.empty
      case Some(s) => readRunIdsSidecar(dir) match {
        // `+ s.lineage.runId` covers the crash window where the hint
        // swapped but the sidecar append did not land
        case Some(ids) => ids.toSet + s.lineage.runId
        case None => chainRunIds(dir, s).toSet
      }
    }

  // ---- partition-path helpers --------------------------------------

  /** The commit-dir root of a dataDirs entry: `data/v00001` for both
    * `data/v00001` and `data/v00001/site=S/year=Y/month=M`. Used as
    * `basePath` so partition columns survive subpath reads. */
  private def dataRoot(entry: String): String =
    entry.split('/').take(2).mkString("/")

  private def kv(seg: String): Option[(String, String)] = {
    val i = seg.indexOf('=')
    if (i > 0) Some(seg.substring(0, i) -> seg.substring(i + 1)) else None
  }

  /** Leaf partition dirs under one dataDirs entry, as
    * (table-relative path, (site, year, month)). The entry itself may
    * already carry some partition levels (a subpath from a previous
    * invalidation). Pure directory listing — no file reads. */
  private def leafPartitions(dir: String, entry: String)
      : Seq[(String, (String, Int, Int))] = {
    def walk(p: Path, rel: String, have: Map[String, String])
        : Seq[(String, Map[String, String])] =
      if (have.contains("site") && have.contains("year") &&
          have.contains("month")) Seq(rel -> have)
      else if (!Files.isDirectory(p)) Nil
      else {
        StateFiles.list(p).filter(Files.isDirectory(_)).flatMap { c =>
          kv(c.getFileName.toString) match {
            case Some((k, v)) =>
              walk(c, s"$rel/${c.getFileName}", have + (k -> v))
            case None => Nil
          }
        }
      }
    val entryHave = entry.split('/').flatMap(kv(_)).toMap
    walk(Paths.get(dir, entry), entry, entryHave).map { case (rel, m) =>
      rel -> ((m("site"), m("year").toInt, m("month").toInt))
    }
  }

  /** Cumulative per-partition meta of `snap` without the `dropped`
    * partitions, reconstructed from snapshot METADATA only: walk back to
    * the nearest cumulative snapshot (compaction/invalidation/rollback)
    * and sum the commit deltas on top of it — no data scan. Only when
    * the walk needs an expired snapshot file does it scan `dataDirs`
    * (the table's entries without the dropped partitions) instead. */
  private def partitionMeta(spark: SparkSession, dir: String,
      snap: Snapshot, dataDirs: Seq[String],
      dropped: Set[(String, Int, Int)] = Set.empty): Seq[PartitionMeta] = {
    def isCum(s: Snapshot) = s.cumulative ||
      s.lineage.runId.startsWith("compact-") ||
      s.lineage.runId.startsWith("invalidate-")
    try {
      var chain = List(snap)
      while (!isCum(chain.head) && chain.head.lineage.parentVersion > 0)
        chain ::= readSnapshot(dir, chain.head.lineage.parentVersion)
      // chain is oldest-first; head is cumulative or the chain start
      val acc = scala.collection.mutable.Map
        .empty[(String, Int, Int), (Long, Long)]
      chain.foreach { s =>
        if (isCum(s)) acc.clear()
        s.partitions.foreach { p =>
          val k = (p.site, p.year, p.month)
          val (r, b) = acc.getOrElse(k, (0L, 0L))
          acc(k) = (r + p.rows, b + p.bytes)
        }
      }
      acc.toSeq.filterNot(e => dropped.contains(e._1))
        .map { case ((s, y, m), (r, b)) => PartitionMeta(s, y, m, r, b) }
        .sortBy(p => (p.site, p.year, p.month))
    } catch {
      case _: java.io.IOException =>
        if (dataDirs.isEmpty) Nil
        else scanPartitionMeta(spark, readFrom(spark, dir, dataDirs))
    }
  }

  /** Per-partition meta of data already on disk — the expired-chain
    * fallback of [[partitionMeta]]. A write's own meta comes from
    * [[writeImages]], never from reading the files back. */
  private def scanPartitionMeta(spark: SparkSession, df: DataFrame)
      : Seq[PartitionMeta] = {
    import spark.implicits._
    df.groupBy($"site", $"year", $"month")
      .agg(count(lit(1)).as("rows"),
        sum(length($"bytes")).cast("long").as("bytes"))
      .collect()
      .map(r => PartitionMeta(r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(p => (p.site, p.year, p.month))
      .toSeq
  }

  /** Write `images` as `dir/rel`, `PARTITIONED BY (site, year, month)`,
    * as zstd Parquet (the table's codec, see the object doc), and
    * return the per-partition meta of what was written, summed from the
    * rows and payload bytes each write task reports per file: no job
    * reads the files back, and only the successful attempts' files
    * count. An empty write leaves no directory, so no snapshot
    * references one (a schema-less parquet dir would poison later
    * reads). This is the one writer of data files: `commit`, `compact`
    * and the streaming per-batch commits all write through it. */
  private def writeImages(images: Dataset[ImageRecord], dir: String,
      rel: String): Seq[PartitionMeta] =
    TableFiles.writeImages(images, dir, rel)
      .groupBy(f => (f.site, f.year, f.month)).toSeq
      .map { case ((s, y, m), fs) =>
        PartitionMeta(s, y, m, fs.map(_.rows).sum, fs.map(_.bytes).sum)
      }
      .sortBy(p => (p.site, p.year, p.month))

  /** Write a seen delta as `dir/rel` (zstd Parquet, one `urlHash`
    * column); an empty write leaves no directory. Whether any row was
    * written. */
  private def writeSeen(seen: Dataset[Long], dir: String, rel: String)
      : Boolean =
    TableFiles.writeSeen(seen, dir, rel).nonEmpty

  /** Reject a delta-commit runId in the reserved maintenance namespace:
    * partitionMeta's legacy fallback treats these prefixes as
    * compaction/invalidation markers, so a DELTA commit named e.g.
    * "invalidate-retry-1" would corrupt reconstructed partition metadata
    * on tables written before the explicit `cumulative` flag existed.
    * Throws IllegalArgumentException. */
  def requireDeltaRunId(runId: String): Unit =
    require(!runId.startsWith("compact-") &&
      !runId.startsWith("invalidate-") && !runId.startsWith("rollback-"),
      s"runId '$runId' uses a reserved maintenance prefix " +
        "(compact-/invalidate-/rollback-)")

  /** Commit one crawl wave: data + seen delta + snapshot + hint swap.
    * Data is laid out `PARTITIONED BY (site, year, month)` — the
    * reference's `<site>/<ano>/<mes>/` directory contract (§1.2,
    * portal_saude_mg.py:206-219). Each delta is written once: the image
    * write counts its own rows and bytes per partition
    * ([[writeImages]]), and that count is the snapshot's manifest — no
    * job reads the new data back. The seen delta's tasks count its rows
    * the same way. An empty delta leaves no directory and no snapshot
    * reference. The seen delta MUST be disjoint from
    * the committed seen set (CrawlJob.newSeenFrom guarantees it) so
    * [[readSeen]] needs no dedup shuffle. */
  def commit(spark: SparkSession, dir: String, images: Dataset[ImageRecord],
      seenDelta: Dataset[Long], runId: String,
      periods: Seq[String], note: String = ""): Snapshot = {
    requireDeltaRunId(runId)
    val parent = currentSnapshot(dir)
    val version = parent.map(_.version).getOrElse(0) + 1
    val dataDirName = f"data/v$version%05d"
    val seenDirName = f"seen/v$version%05d"

    val parts = writeImages(images, dir, dataDirName)
    val hasImages = parts.nonEmpty
    val hasSeen = writeSeen(seenDelta, dir, seenDirName)

    val snap = Snapshot(
      version,
      parent.map(_.dataDirs).getOrElse(Nil) ++
        (if (hasImages) Seq(dataDirName) else Nil),
      parent.map(_.seenDirs).getOrElse(Nil) ++
        (if (hasSeen) Seq(seenDirName) else Nil),
      parts,
      parent.map(_.totalRows).getOrElse(0L) + parts.map(_.rows).sum,
      Lineage(runId, parent.map(_.version).getOrElse(0), periods, note))
    publish(dir, parent, snap)
    snap
  }

  /** Compact the snapshot chain: rewrite every committed data/seen
    * dir into ONE dir each and commit a snapshot referencing only
    * those. A long-running streaming crawl appends one dataDir per
    * micro-batch commit, so without compaction [[readImages]] plans
    * O(versions) unions — this is the manifest-rewrite a real table
    * format (e.g. Iceberg's rewrite_data_files) runs on a schedule.
    * The data rewrite counts itself ([[writeImages]]): that count is
    * the snapshot's cumulative per-partition meta, with no read-back of
    * the rewritten files. Older version dirs stay on disk for snapshot
    * time travel; replay idempotence travels in the runids.json
    * sidecar. No-op (None) on an empty/uninitialized table. */
  def compact(spark: SparkSession, dir: String,
      note: String = "compaction"): Option[Snapshot] =
    currentSnapshot(dir).map { parent =>
      import spark.implicits._
      val version = parent.version + 1
      val dataDirName = f"data/v$version%05d"
      val seenDirName = f"seen/v$version%05d"
      // the cumulative meta of the whole table (a regular commit's
      // `partitions` covers its delta only)
      val parts =
        if (parent.dataDirs.isEmpty) Seq.empty[PartitionMeta]
        else writeImages(readImages(spark, dir).as[ImageRecord], dir,
          dataDirName)
      val hasImages = parts.nonEmpty
      // distinct here (NOT in readSeen): new-format deltas are disjoint
      // by construction, but tables whose streaming commits predate the
      // Success-only delta may hold overlapping deltas — one compaction
      // migrates them; the hot read path stays shuffle-free
      val hasSeen = parent.seenDirs.nonEmpty &&
        writeSeen(readSeen(spark, dir).distinct(), dir, seenDirName)
      val runId = f"compact-v$version%05d"
      val snap = Snapshot(
        version,
        if (hasImages) Seq(dataDirName) else Nil,
        if (hasSeen) Seq(seenDirName) else Nil,
        parts,
        parent.totalRows,
        Lineage(runId, parent.version, Nil,
          s"$note: ${parent.dataDirs.size} data dirs, " +
            s"${parent.seenDirs.size} seen dirs -> 1 each"),
        cumulative = true)
      publish(dir, Some(parent), snap)
      // the compacted seen dir holds the same key set
      CuckooSeen.sync(spark, dir, parent.seenDirs, snap.seenDirs,
        CuckooSeen.Rewritten(None))
      snap
    }

  /** Re-open periods for refetch (the reference's revised-data
    * workflow: a government portal republishes a month, the crawler
    * must re-download it — file deletion in the reference, a seen-set
    * eviction here). METADATA-LEVEL: since data is laid out
    * `site=/year=/month=`, dropping a period means rewriting snapshot
    * REFERENCES — entries of untouched commit dirs are kept verbatim,
    * entries mixing kept+dropped periods are replaced by their kept
    * partition subpaths. NO image data file is copied or rewritten
    * (Iceberg's metadata-only `DROP PARTITION` analog; at the 100 TB
    * design point the previous full-table rewrite turned "re-crawl one
    * month" into a full-corpus copy). Only the seen set — 8-byte
    * hashes — is rewritten, and its eviction scan reads ONLY the
    * dropped partitions' files; the rewrite counts its rows as it
    * writes them, so the anti-join runs once. The next resumable run
    * refetches exactly those periods and skips everything else. No-op
    * (None) on an empty table. */
  def invalidatePeriods(spark: SparkSession, dir: String,
      periods: Set[(String, Int, Int)]): Option[Snapshot] =
    currentSnapshot(dir).map { parent =>
      import spark.implicits._
      val version = parent.version + 1
      val seenDirName = f"seen/v$version%05d"

      // classify every referenced leaf partition (directory listing
      // only); an entry with no dropped leaves survives verbatim
      val perEntry = parent.dataDirs.map(e => e -> leafPartitions(dir, e))
      val keptDataDirs = perEntry.flatMap { case (e, leaves) =>
        val (drop, keep) = leaves.partition(l => periods.contains(l._2))
        if (drop.isEmpty) Seq(e) else keep.map(_._1)
      }
      val droppedLeaves = perEntry.flatMap(_._2)
        .filter(l => periods.contains(l._2))

      // seen eviction: anti-join against the urlHashes of ONLY the
      // dropped partitions (their files are read directly — pruning by
      // construction, no UDF, no full-image scan)
      val (seenDirs, evicted) =
        if (droppedLeaves.isEmpty || parent.seenDirs.isEmpty)
          (parent.seenDirs, None)
        else {
          val droppedHashes = spark.read.schema(SeenSchema)
            .parquet(droppedLeaves.map(l => s"$dir/${l._1}"): _*)
            .toDF("dh")
          val newSeen = readSeen(spark, dir).toDF("urlHash")
            .join(droppedHashes, col("urlHash") === col("dh"), "left_anti")
          val dirs =
            if (writeSeen(newSeen.as[Long], dir, seenDirName)) Seq(seenDirName)
            else Nil
          // distinct: a URL may appear in several dropped image rows,
          // but its hash is committed once
          (dirs, Some(droppedHashes.as[Long].distinct()))
        }

      val parts = partitionMeta(spark, dir, parent, keptDataDirs, periods)
      val runId = f"invalidate-v$version%05d"
      val snap = Snapshot(
        version,
        keptDataDirs,
        seenDirs,
        parts,
        parts.map(_.rows).sum,
        Lineage(runId, parent.version,
          periods.toSeq.sorted.map(p => s"${p._1}/${p._2}/${p._3}"),
          s"re-opened ${periods.size} periods for refetch " +
            s"(metadata-only: ${droppedLeaves.size} partition refs " +
            "dropped, 0 data files rewritten)"),
        cumulative = true)
      publish(dir, Some(parent), snap)
      CuckooSeen.sync(spark, dir, parent.seenDirs, seenDirs,
        CuckooSeen.Rewritten(evicted))
      snap
    }

  /** Roll the table back to snapshot `toVersion` (Iceberg's
    * `rollback_to_snapshot` analog): commit a NEW cumulative snapshot
    * whose data and seen references are exactly the target's.
    * REFERENCE-ONLY — no data file is copied or rewritten; the
    * rolled-back commits' dirs stay on disk (time travel to them keeps
    * working) until [[expire]] reclaims them. Two bounded READS can
    * still occur: (a) maintaining the cuckoo seen sketch in place
    * reads the hash column of the seen deltas it deletes (the covered
    * ones the rollback un-references — O(dropped keys)) or inserts
    * (target deltas it did not cover yet); (b) when the cumulative
    * partition-meta chain hits an expired snapshot, the fallback
    * rescans partition meta from the target's data dirs — O(target
    * data) and only on an already-expired chain. Neither rewrites
    * anything. The URL-seen set reverts
    * with the references, so the next resumable run REFETCHES
    * everything the rolled-back runs fetched — that is the operator
    * story for "a bad run landed, undo it": the refetch happens under
    * new runIds via the reverted seen set. The runids.json sidecar
    * deliberately KEEPS the rolled-back ids (it is append-only):
    * streaming replay idempotence must survive an operator rollback —
    * a crash-replayed micro-batch must not silently re-commit data the
    * operator just removed. The persisted cuckoo seen sketch follows
    * the references in place ([[graft.seen.CuckooSeen.sync]]): it
    * deletes exactly the hashes of the covered deltas the rollback
    * drops — O(dropped), the eviction a Bloom filter cannot do.
    *
    * Throws (NoSuchFileException / IllegalArgumentException) when the
    * target snapshot or a dir it references was expired. None when
    * `toVersion` is already current. Single-writer contract, like
    * commit/compact. */
  def rollback(spark: SparkSession, dir: String,
      toVersion: Int): Option[Snapshot] =
    currentSnapshot(dir).filter(_.version != toVersion).map { parent =>
      val target = readSnapshot(dir, toVersion)
      val missing = (target.dataDirs ++ target.seenDirs)
        .filterNot(e => Files.exists(Paths.get(dir, e)))
      require(missing.isEmpty,
        s"cannot roll back to v$toVersion: expire() reclaimed " +
          s"'${missing.head}' (and ${missing.size - 1} more)")
      val version = parent.version + 1

      val parts = partitionMeta(spark, dir, target, target.dataDirs)
      val runId = f"rollback-v$version%05d"
      val snap = Snapshot(
        version,
        target.dataDirs,
        target.seenDirs,
        parts,
        parts.map(_.rows).sum,
        Lineage(runId, parent.version, Nil,
          s"rollback to v$toVersion (metadata-only: references " +
            s"reverted, 0 data files rewritten; " +
            s"${parent.dataDirs.size - target.dataDirs.size} data dir " +
            "refs dropped)"),
        cumulative = true)
      publish(dir, Some(parent), snap)
      CuckooSeen.sync(spark, dir, parent.seenDirs, target.seenDirs,
        CuckooSeen.Referenced)
      snap
    }

  /** Expire everything the CURRENT snapshot does not reference: data/
    * seen dirs of superseded versions (reclaimable after [[compact]]
    * rewrote them), partition dirs dropped by [[invalidatePeriods]],
    * orphaned dirs of crashed uncommitted writes, the `_staging` tree
    * (files a crashed commit or a zombie task attempt left there; no
    * snapshot ever names it), and old snapshot files. The Iceberg
    * `expire_snapshots` analog — time travel to expired versions is
    * gone, but replay idempotence survives in the runids.json sidecar.
    * Reference-aware down the tree: a commit dir referenced only through
    * partition subpaths keeps exactly those subpaths. Single-writer
    * contract, like commit/compact. */
  def expire(dir: String): Unit =
    currentSnapshot(dir).foreach { cur =>
      val keep = (cur.dataDirs ++ cur.seenDirs).toSet
      // make sure the sidecar index exists BEFORE deleting the chain
      // it would otherwise be derived from
      if (readRunIdsSidecar(dir).isEmpty)
        StateFiles.writeJson(runIdsPath(dir), chainRunIds(dir, cur))
      // rel is kept outright when an entry covers it (equals it or is
      // an ancestor of it); partially kept when some entry lives
      // below it (recurse); otherwise deleted
      def sweep(p: Path, rel: String): Unit =
        if (!keep.exists(e => e == rel || rel.startsWith(e + "/"))) {
          if (keep.exists(_.startsWith(rel + "/")))
            StateFiles.list(p)
              .foreach(c => sweep(c, s"$rel/${c.getFileName}"))
          else StateFiles.delete(p)
        }
      for (root <- Seq("data", "seen"))
        StateFiles.list(Paths.get(dir, root))
          .foreach(child => sweep(child, s"$root/${child.getFileName}"))
      StateFiles.delete(Paths.get(dir, TableFiles.StagingDir))
      for (v <- 1 until cur.version)
        StateFiles.delete(snapshotPath(dir, v))
    }

  /** Read a set of dataDirs entries (whole commit dirs or partition
    * subpaths): one scan per commit root with `basePath` pinned to the
    * root so partition columns survive subpath reads. Each scan is
    * given the table's fixed schema ([[ImageSchema]]), so no job reads
    * file footers to infer it; the columns come out as the data columns
    * followed by `site, year, month`, as an inferred read orders them. */
  private def readFrom(spark: SparkSession, dir: String,
      entries: Seq[String]): DataFrame =
    entries.groupBy(dataRoot).toSeq.sortBy(_._1)
      .map { case (root, es) =>
        spark.read.schema(ImageSchema).option("basePath", s"$dir/$root")
          .parquet(es.map(e => s"$dir/$e"): _*)
      }
      .reduce(_.unionByName(_))

  /** Read the committed image table (union of all referenced data
    * entries; orphaned uncommitted dirs are never touched). */
  def readImages(spark: SparkSession, dir: String): DataFrame =
    currentSnapshot(dir) match {
      case Some(s) if s.dataDirs.nonEmpty => readFrom(spark, dir, s.dataDirs)
      case _ => spark.emptyDataFrame
    }

  /** Time-travel read (Iceberg's `VERSION AS OF`): the image table
    * exactly as snapshot `version` referenced it. Works for any
    * not-yet-expired version — commits, compactions and invalidations
    * all leave superseded data dirs on disk until [[expire]] reclaims
    * them, and invalidation drops partitions by reference, so the
    * dropped rows remain readable through older snapshots. Throws
    * (with the expire hint) when the snapshot json is gone. */
  def readImagesAt(spark: SparkSession, dir: String,
      version: Int): DataFrame = {
    val s = readSnapshot(dir, version)
    if (s.dataDirs.nonEmpty) readFrom(spark, dir, s.dataDirs)
    else spark.emptyDataFrame
  }

  /** Time-travel read of the URL-seen set as of snapshot `version` —
    * what a resume launched at that version would have skipped. */
  def readSeenAt(spark: SparkSession, dir: String,
      version: Int): Dataset[Long] = {
    import spark.implicits._
    val s = readSnapshot(dir, version)
    if (s.seenDirs.nonEmpty)
      spark.read.schema(SeenSchema)
        .parquet(s.seenDirs.map(d => s"$dir/$d"): _*).as[Long]
    else spark.emptyDataset[Long]
  }

  /** Read the committed URL-seen set. No dedup shuffle: committed
    * deltas are pairwise disjoint by construction — each delta holds
    * only that run's Success hashes, which the exact skip-flag join
    * proves absent from every earlier delta (CrawlJob.newSeenFrom,
    * StreamingCrawl.commitOutcomesBatch), and compact/invalidate
    * rewrite to a single dir. At the 10^10-key design point the old
    * unconditional `distinct()` was a full-table shuffle on every
    * resumable run.
    *
    * MIGRATION: tables whose streaming commits predate the
    * Success-only delta may hold OVERLAPPING deltas; duplicate seen
    * rows multiply frontier rows through the left_outer confirm join
    * (duplicated Skipped log rows, inflated metrics). Run [[compact]]
    * once on such a table before resuming against it — its seen
    * rewrite applies the migrating `distinct()`. */
  def readSeen(spark: SparkSession, dir: String): Dataset[Long] = {
    import spark.implicits._
    currentSnapshot(dir) match {
      case Some(s) if s.seenDirs.nonEmpty =>
        spark.read.schema(SeenSchema)
          .parquet(s.seenDirs.map(d => s"$dir/$d"): _*).as[Long]
      case _ => spark.emptyDataset[Long]
    }
  }

  /** The one column of every seen delta, and the one column
    * [[invalidatePeriods]] reads of the dropped image files; passing it
    * to the reader spares a footer-reading schema-inference job per
    * read. */
  private val SeenSchema = "urlHash BIGINT"

  /** The image table's columns, partition columns included. */
  private val ImageSchema = Encoders.product[ImageRecord].schema
}
