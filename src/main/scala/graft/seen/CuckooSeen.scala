package graft.seen

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.table.StateFiles
import graft.url.Hashing

/** Partitioned cuckoo-filter URL-seen set — the deletable alternative
  * to [[BloomSeen]] the north rule names ("bloom/cuckoo-filter
  * URL-seen set"). Design from the public cuckoo-filter paper (Fan,
  * Andersen, Kaminsky, Mitzenmacher, CoNEXT 2014): buckets of 4
  * 16-bit fingerprints, partial-key cuckoo hashing (the alternate
  * bucket is `i XOR hash(fp)`, an involution when the bucket count is
  * a power of two), bounded eviction kicks on insert.
  *
  * Why it earns its place next to the Bloom filter:
  *
  *  - **Deletion.** `invalidatePeriods` re-opens a crawl period by
  *    evicting its urlHashes from the committed seen set; a Bloom
  *    filter cannot unlearn them, so the persisted sketch goes stale
  *    and must be rebuilt from all 10^10 keys. The cuckoo filter
  *    deletes exactly the dropped hashes — O(dropped), not O(total).
  *  - **Incremental growth.** Each resumable run's seen delta is
  *    INSERTED into the persisted filter files; the Bloom path
  *    rebuilds the full filter set from the whole seen table every
  *    run. At the design point that turns a per-run full-corpus scan
  *    into a per-run delta pass ([[graft.jobs.CrawlJob.runResumable]]).
  *  - **Lookup cost.** Two bucket reads per probe vs k scattered bit
  *    probes; ~16.8 bits/key at 4-slot/16-bit geometry for an FPP of
  *    ~1.2e-4 (2·b/2^f = 8/65536), far below the Bloom's 1% at
  *    9.6 bits/key — the exact confirm join behind the sketch sees
  *    ~80× fewer false candidates.
  *
  * Deletion caveat (inherent to cuckoo filters): deleting a key that
  * was never inserted can strip a colliding key's fingerprint and
  * create a false negative. Every delete site must prove insertion;
  * here the proof is the coverage rule [[sync]] holds — it deletes
  * only keys of dirs the meta names as inserted, and drops the sketch
  * for rebuild when the meta names a dir the table no longer commits.
  * [[deleteFromDir]] additionally FAILS on any miss rather than
  * guessing.
  *
  * Distribution mirrors [[BloomSeen]]: P independent filters routed
  * by `floorMod(urlHash, P)`, each built/updated/probed by the one task
  * that owns its shuffle group, persisted one file per partition by
  * [[StateFiles.replaceFromTask]]. The driver holds only
  * [[CuckooMeta]], swapped by [[StateFiles.writeJson]].
  * Unlike Bloom bit-OR, cuckoo tables don't merge, so builds shuffle
  * keys to their owning task (a `pmod` repartition) instead of
  * partial-agg — the same data movement the Bloom UDAF's final merge
  * pays.
  */
object CuckooSeen {

  val SlotsPerBucket = 4
  val BytesPerSlot = 2 // 16-bit fingerprints
  val BytesPerBucket: Int = SlotsPerBucket * BytesPerSlot
  val MaxKicks = 500
  /** Sizing load factor — 4-slot tables sustain ~95% occupancy (paper
    * §5); sizing at 84% plus power-of-two rounding leaves kick room. */
  val TargetLoad = 0.84

  private val FpSeed = 0xA24BAED4963EE407L
  private val IdxSeed = 0x9FB21C651E98DF25L
  private val AltSeed = 0x1C69B3F74AC4AE35L

  /** 16-bit fingerprint in [1, 65535] (0 marks an empty slot). */
  @inline def fingerprintOf(x: Long): Int = {
    val f = (Hashing.mix(x, FpSeed) & 0xFFFFL).toInt
    if (f == 0) 1 else f
  }

  @inline private def mask(filter: Array[Byte]): Int =
    filter.length / BytesPerBucket - 1

  @inline def primaryIndex(x: Long, filter: Array[Byte]): Int =
    (Hashing.mix(x, IdxSeed) & mask(filter)).toInt

  /** Partial-key alternate bucket: involutive for power-of-two bucket
    * counts, so either resident bucket recovers the other. */
  @inline def altIndex(i: Int, fp: Int, filter: Array[Byte]): Int =
    i ^ (Hashing.mix(fp.toLong, AltSeed) & mask(filter)).toInt

  @inline private def slotGet(filter: Array[Byte], bucket: Int,
      slot: Int): Int = {
    val o = bucket * BytesPerBucket + slot * BytesPerSlot
    ((filter(o) & 0xFF) << 8) | (filter(o + 1) & 0xFF)
  }

  @inline private def slotSet(filter: Array[Byte], bucket: Int,
      slot: Int, fp: Int): Unit = {
    val o = bucket * BytesPerBucket + slot * BytesPerSlot
    filter(o) = (fp >>> 8).toByte
    filter(o + 1) = fp.toByte
  }

  private def tryPlace(filter: Array[Byte], bucket: Int, fp: Int): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      if (slotGet(filter, bucket, s) == 0) {
        slotSet(filter, bucket, s, fp); return true
      }
      s += 1
    }
    false
  }

  /** Insert `x`; false when the table is too full (caller must treat
    * the build as failed — a dropped insert would be a false negative,
    * which the seen-set contract forbids). Victim selection is a
    * deterministic splitmix draw over (kick, fp) — reproducible builds,
    * same spread as the paper's random choice. */
  def insert(filter: Array[Byte], x: Long): Boolean = {
    var fp = fingerprintOf(x)
    val i1 = primaryIndex(x, filter)
    if (tryPlace(filter, i1, fp)) return true
    if (tryPlace(filter, altIndex(i1, fp, filter), fp)) return true
    var i = if ((Hashing.mix(x, AltSeed) & 1L) == 0L) i1
            else altIndex(i1, fp, filter)
    var kick = 0
    while (kick < MaxKicks) {
      val victim = (Hashing.mix(kick.toLong * 0x10001L + fp, FpSeed)
        & (SlotsPerBucket - 1)).toInt
      val evicted = slotGet(filter, i, victim)
      slotSet(filter, i, victim, fp)
      fp = evicted
      i = altIndex(i, fp, filter)
      if (tryPlace(filter, i, fp)) return true
      kick += 1
    }
    false
  }

  def mightContain(filter: Array[Byte], x: Long): Boolean = {
    val fp = fingerprintOf(x)
    val i1 = primaryIndex(x, filter)
    var s = 0
    while (s < SlotsPerBucket) {
      if (slotGet(filter, i1, s) == fp) return true
      s += 1
    }
    val i2 = altIndex(i1, fp, filter)
    s = 0
    while (s < SlotsPerBucket) {
      if (slotGet(filter, i2, s) == fp) return true
      s += 1
    }
    false
  }

  /** Delete one previously-INSERTED `x` (see the class-level caveat);
    * false when no matching fingerprint exists in either bucket —
    * callers treat that as sketch corruption, not a soft miss. */
  def delete(filter: Array[Byte], x: Long): Boolean = {
    val fp = fingerprintOf(x)
    val i1 = primaryIndex(x, filter)
    var s = 0
    while (s < SlotsPerBucket) {
      if (slotGet(filter, i1, s) == fp) {
        slotSet(filter, i1, s, 0); return true
      }
      s += 1
    }
    val i2 = altIndex(i1, fp, filter)
    s = 0
    while (s < SlotsPerBucket) {
      if (slotGet(filter, i2, s) == fp) {
        slotSet(filter, i2, s, 0); return true
      }
      s += 1
    }
    false
  }

  /** Buckets (power of two) sized for `expectedKeys` at [[TargetLoad]]. */
  def bucketsFor(expectedKeys: Long): Int = {
    val slots = math.max(SlotsPerBucket.toLong,
      math.ceil(expectedKeys / TargetLoad).toLong)
    val buckets = math.max(1L, (slots + SlotsPerBucket - 1) / SlotsPerBucket)
    // cap at 2^27 buckets = 1 GiB/partition filter (byte arrays are
    // Int-indexed; partition count, not filter size, absorbs growth)
    java.lang.Long.highestOneBit(math.min(buckets * 2 - 1, 1L << 27)).toInt
  }

  // ---- partition-aligned persisted filters (the 10^10-key path) -----

  /** Driver-side descriptor; `covered` lists the seen-delta dirs whose
    * hashes the filters hold. It is trusted only while every dir it
    * names is committed in the table's current snapshot ([[sync]]). */
  final case class CuckooMeta(parts: Int, bucketBytes: Int,
      covered: Seq[String] = Nil)

  /** The sketch's location inside a crawl table's storage — the one
    * definition [[sync]] maintains and the resumable run probes. */
  def sketchDir(tableDir: String): String = s"$tableDir/_cuckoo"

  private def filterFile(dir: String, part: Int) =
    Paths.get(dir, f"part-$part%05d.cuckoo")
  private def metaFile(dir: String) = Paths.get(dir, "meta.json")

  def readMeta(dir: String): Option[CuckooMeta] =
    StateFiles.readJson[CuckooMeta](metaFile(dir))

  def writeMeta(dir: String, meta: CuckooMeta): Unit =
    StateFiles.writeJson(metaFile(dir), meta, pretty = true,
      tmpName = ".meta.json.tmp")

  /** Route `hashes` to their owning partition task and apply `op` to
    * that partition's filter file (created empty when absent), then
    * atomically rewrite it. Returns the summed failure count — ANY
    * failure poisons the sketch (failed insert = table overfull;
    * failed delete = the key was never inserted), so callers throw.
    *
    * Routing is a COLUMN `pmod` repartition + native
    * `sortWithinPartitions` + `mapPartitions`, not a typed
    * `groupByKey`: the exchange stays whole-stage-codegen'd on 8-byte
    * rows, where groupByKey's lambda key forces per-element boxing
    * plus an object sort — measured 592 s vs 38 s for an 80M-key
    * build. The native key sort ALSO bounds memory: a task may own
    * several pmod groups (hash-of-group routing), and key order lets
    * it hold exactly ONE filter at a time, flushing on group switch —
    * an unsorted per-task map would pin 2-4 filters (~0.5 GiB each at
    * design sizes) simultaneously. Task retries are
    * safe-by-degradation: re-applied inserts waste slots (duplicate
    * fingerprints, no false negatives); re-applied deletes read the
    * already-written file, miss, and fail the update — callers rebuild
    * instead of trusting the sketch. */
  private def updateDir(hashes: Dataset[Long], dir: String,
      meta: CuckooMeta, op: String): Long = {
    val spark = hashes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    Files.createDirectories(Paths.get(dir))
    val parts = meta.parts
    val bucketBytes = meta.bucketBytes
    val insertOp = op == "insert"
    val key = pmod(col("h"), lit(parts.toLong))
    hashes.toDF("h")
      .repartition(parts, key)
      .sortWithinPartitions(key)
      .as[Long]
      .mapPartitions { it =>
        var curPart = -1
        var filter: Array[Byte] = null
        var failed = 0L
        def flush(): Unit =
          if (filter != null) {
            StateFiles.replaceFromTask(filterFile(dir, curPart), filter)
            filter = null
          }
        it.foreach { h =>
          val part = java.lang.Math.floorMod(h, parts)
          if (part != curPart) {
            flush()
            curPart = part
            val f = filterFile(dir, part)
            filter =
              if (Files.exists(f)) Files.readAllBytes(f)
              else new Array[Byte](bucketBytes)
          }
          if (insertOp) { if (!insert(filter, h)) failed += 1 }
          else { if (!delete(filter, h)) failed += 1 }
        }
        flush()
        Iterator.single(failed)
      }
      .reduce(_ + _)
  }

  /** Build P partition filters from scratch (drops any existing set
    * first — a half-replaced set would mix geometries). */
  def write(hashes: Dataset[Long], dir: String, parts: Int,
      expectedKeys: Long, covered: Seq[String] = Nil): CuckooMeta = {
    StateFiles.delete(Paths.get(dir))
    val perPart = math.max(1024L, expectedKeys / parts)
    val meta = CuckooMeta(parts,
      bucketsFor(perPart) * BytesPerBucket, covered)
    val failed =
      if (hashes.isEmpty) 0L else updateDir(hashes, dir, meta, "insert")
    require(failed == 0L, s"cuckoo build dropped $failed inserts — " +
      "table overfull; raise parts or expectedKeys")
    writeMeta(dir, meta)
    meta
  }

  /** Insert a seen DELTA into the persisted set (the per-run
    * incremental path of [[sync]]). Throws when the filter can no
    * longer absorb the delta — callers fall back to a fresh [[write]]. */
  def insertIntoDir(hashes: Dataset[Long], dir: String,
      meta: CuckooMeta, nowCovered: Seq[String]): CuckooMeta = {
    val failed =
      if (hashes.isEmpty) 0L else updateDir(hashes, dir, meta, "insert")
    require(failed == 0L, s"cuckoo delta dropped $failed inserts — " +
      "filter overfull; rebuild with more capacity")
    val next = meta.copy(covered = nowCovered)
    writeMeta(dir, next)
    next
  }

  /** Evict previously-inserted hashes ([[sync]]: a period
    * invalidation, a rollback). Throws
    * on any miss: a miss means the sketch never held the key, and
    * blind deletion could strip a colliding key's fingerprint. */
  def deleteFromDir(hashes: Dataset[Long], dir: String,
      meta: CuckooMeta, nowCovered: Seq[String]): CuckooMeta = {
    val failed =
      if (hashes.isEmpty) 0L else updateDir(hashes, dir, meta, "delete")
    require(failed == 0L, s"cuckoo evict missed $failed keys — sketch " +
      "does not cover the committed seen set; rebuild instead")
    val next = meta.copy(covered = nowCovered)
    writeMeta(dir, next)
    next
  }

  // ---- the sketch of a crawl table ---------------------------------

  /** How a table operation turned the committed seen dirs `before`
    * into `after`. */
  sealed trait SeenChange

  /** `after` names committed dirs as they are (a run start, a
    * rollback): a covered dir it drops takes its keys out of the
    * filters, a dir it adds goes in. */
  case object Referenced extends SeenChange

  /** `after`'s new dirs rewrite all of `before`'s keys minus `removed`
    * (a compaction: None; a period invalidation: the dropped hashes,
    * each once). */
  final case class Rewritten(removed: Option[Dataset[Long]])
      extends SeenChange

  /** What a run start needs to (re)build the sketch: the whole
    * committed seen set, its size and the partition count for it. */
  final case class Build(keys: Dataset[Long], count: Long, parts: Int)

  /** The one rule of a crawl table's sketch: the filters hold the keys
    * of `covered`, and `covered` ⊆ the committed seen dirs. A meta
    * that names any other dir is stale and is never trusted.
    *
    * Called once the table committed `after` — by a maintenance
    * operation with its parent's dirs as `before`, by a run start with
    * `before == after` and `build`. When the meta is valid:
    *  1. insert the dirs it must cover and does not: a sketch that
    *     lags the last commit catches up in O(last delta);
    *  2. retract the coverage (delete `meta.json`, keep the filters),
    *     then delete the removed keys — a crash between the filter
    *     rewrite and the meta swap costs one rebuild, never a false
    *     negative;
    *  3. swap in the meta covering `after`.
    * An insert needs no retraction: a key no meta names costs at most a
    * false positive. A sketch that is absent, stale or past 95%
    * occupancy, and any failure, ends in a rebuild when `build` is
    * given and in a dropped sketch otherwise (none when the seen set is
    * empty). Returns the sketch to probe. */
  def sync(spark: SparkSession, tableDir: String, before: Seq[String],
      after: Seq[String], change: SeenChange,
      build: Option[Build] = None): Option[CuckooMeta] = {
    import spark.implicits._
    val dir = sketchDir(tableDir)
    def keysOf(dirs: Seq[String]): Dataset[Long] =
      spark.read.parquet(dirs.map(d => s"$tableDir/$d"): _*)
        .select($"urlHash").as[Long]
    def rebuildOrDrop(): Option[CuckooMeta] = build match {
      case Some(b) if b.count > 0 =>
        Some(write(b.keys, dir, b.parts, math.max(b.count * 2, 1024L),
          after))
      case _ =>
        StateFiles.delete(Paths.get(dir))
        None
    }
    readMeta(dir) match {
      case Some(m) if m.covered.toSet.subsetOf(before.toSet) &&
          build.forall(b => b.count > 0 && b.count <= 0.95 * m.parts *
            (m.bucketBytes / BytesPerBucket) * SlotsPerBucket) =>
        try {
          val (mustCover, removed) = change match {
            case Referenced => (after,
              Some(m.covered.filterNot(after.toSet)).filter(_.nonEmpty)
                .map(keysOf))
            case Rewritten(keys) => (before, keys)
          }
          val gap = mustCover.filterNot(m.covered.toSet)
          val caught =
            if (gap.isEmpty) m
            else insertIntoDir(keysOf(gap), dir, m, m.covered ++ gap)
          removed match {
            case Some(keys) =>
              StateFiles.delete(metaFile(dir))
              Some(deleteFromDir(keys, dir, caught, after))
            case None =>
              val next = caught.copy(covered = after)
              if (next != caught) writeMeta(dir, next)
              Some(next)
          }
        } catch { case _: Exception => rebuildOrDrop() }
      case _ => rebuildOrDrop()
    }
  }

  /** Partition-aligned probe — the routing contract of
    * [[BloomSeen.probeAligned]]: appends `maybeSeen` to `df` via
    * [[SketchProbe.probeAligned]]; "false" is exact for inserted keys,
    * "true" must be confirmed by the exact join (FPP ~1.2e-4). */
  def probeAligned(df: org.apache.spark.sql.DataFrame, hashCol: String,
      dir: String, meta: CuckooMeta): org.apache.spark.sql.DataFrame =
    SketchProbe.probeAligned(df, hashCol, meta.parts,
      part => filterFile(dir, part), mightContain)
}
