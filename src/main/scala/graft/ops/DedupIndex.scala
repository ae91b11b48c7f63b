package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

import graft.ops.DedupOps.{BandKeyBits, BandKeyMask}
import graft.table.StateFiles

/** Persisted MinHash-LSH signature index — INCREMENTAL near-duplicate
  * detection for a growing corpus.
  *
  * The batch dataflow ([[DedupOps.minhashPairs]]) recomputes the
  * signature pass over the WHOLE corpus and self-joins it every run —
  * the right shape for a one-shot curation pass, but O(corpus) CPU
  * per batch once documents arrive continuously (a crawl commits new
  * pages every run; re-shingling 10^10 settled documents to dedup one
  * day's 10^7 is the dominant waste). This index is the document-level
  * analog of the persisted cuckoo URL-seen sketch: signatures are
  * computed ONCE per document, persist in table storage as one
  * (id, bands) row per document — 6 B × bands + 8 per document before
  * compression, the 48-bit band keys packed into 64-bit words (~100 B
  * on disk at 16 bands), ~1% of a 10 KB document — and each new batch
  *
  *   1. computes signatures for ITS documents only (O(batch) CPU),
  *   2. probes the index with a BROADCAST hash join on bandHash —
  *      the index rows, exploded to (id, bandHash) in the scan's own
  *      projection, stream map-side in their parquet partition order
  *      together with the batch's own band rows against ONE broadcast
  *      of the batch's band rows, so cross and within-batch pairs
  *      come out of one join; the 10^10-row index is never shuffled
  *      and never sorted; pathologically large batches fall back to
  *      a shuffle merge join behind an EXPLICIT bloom prune: a filter
  *      built over the batch's band hashes drops non-candidate index
  *      rows before the exchange (measured: `merge_fallback_*` keys
  *      in the dedupindex bench mode),
  *   3. exact-verifies candidates through the same measured verify
  *      tail as the batch dataflow ([[DedupOps.exactVerifyPairs]]),
  *   4. appends its signatures as a new delta dir, so the next batch
  *      sees this one — the append-only delta chain with an
  *      atomically-swapped meta file of [[StateFiles.DeltaChain]].
  *
  * Determinism: signatures are one-permutation MinHash with optimal
  * densification ([[DedupOps.minhash]]: one splitmix64 mix per
  * shingle, empty bins filled along a data-independent probe
  * sequence), banded by [[DedupOps.bandKeys]] — a fixed function of
  * the document, so index contents are reproducible across runs,
  * partitionings and cluster sizes, and probe results equal the batch
  * recompute exactly (spec-pinned: probe ∪ within-batch pairs ==
  * full-recompute pairs touching a batch id, jaccard values included).
  *
  * Band keys are 48 bits ([[DedupOps.bandKeys]]): a key is only a
  * bucket id, and every candidate is exact-verified. Accidental
  * collisions stay negligible at the design point: the probe join
  * keys on the band key across 16 bands, so each batch document meets
  * 256·N/2^48 extra index rows (9×10⁻³ at N = 10^10 indexed
  * documents), and the batch pass over M documents adds 128·M²/2^48
  * candidate pairs (4.5×10³ at M = 10^8), each dropped by the verify.
  *
  * Persisted band keys are only comparable with keys computed by the
  * same signature scheme, so the meta carries a scheme stamp
  * ([[SigScheme]]) that [[init]]/[[write]] set; the stamp also names
  * the delta layout. An index without the current stamp — built by an
  * earlier signature kernel, or stored in an earlier layout — is
  * refused by [[append]], [[probePairs]], [[probeCandidates]],
  * [[readIndex]], [[compact]] and [[deleteIds]]: its keys would
  * silently never collide with new ones, or its rows would not read.
  * Rebuild it with [[write]].
  *
  * Caller contract: batch ids are NEW (not already indexed) — a
  * re-appended id would pair with itself across deltas. Single-writer,
  * like the table layer. Reference: the reference's dedup is a
  * per-listing in-memory seen set rebuilt per run
  * (portal_saude_mg.py:404-414); this is the corpus-scale
  * re-expression of "never pay for settled documents again".
  */
object DedupIndex {

  /** Index geometry + lineage. `kind`: "char" (k-shingles) or "word"
    * (k-grams). `deltas`: append-only list of signature dirs, oldest
    * first. `docs`: total indexed documents — the stored rows, one per
    * document; it sizes the files of a rewrite ([[compact]]).
    * `scheme`: the signature scheme the band keys were computed with
    * (null in metas written before the stamp existed).
    * `runIds`: ids of appended batches — the replay-idempotence guard
    * for streaming micro-batches (a replayed foreachBatch must not
    * re-append its signatures, which would self-pair every future
    * probe). Null-safe on read: metas written before the field existed
    * deserialize with null. */
  final case class IndexMeta(kind: String, k: Int, numHashes: Int,
      bands: Int, docs: Long, deltas: Seq[String], scheme: String,
      runIds: Seq[String] = Nil) extends StateFiles.ChainMeta[IndexMeta] {
    def withChain(docs: Long, deltas: Seq[String], runIds: Seq[String]) =
      copy(docs = docs, deltas = deltas, runIds = runIds)
  }

  /** Stamp of the band keys this build computes and of the delta layout
    * that stores them: one-permutation MinHash with optimal
    * densification, banded by splitmix folds kept to 48 bits, one
    * `(id, bands)` row per document with the keys packed six bytes
    * each ([[pack]]). `oph-densified-v2` stored 64-bit keys, one per
    * list element; `oph-densified-v1` one `(id, bandHash)` row per
    * key. */
  val SigScheme = "oph-densified-v3"

  private[graft] val chain = new StateFiles.DeltaChain[IndexMeta](
    "index-meta.json", "sig/", "index", "write()")

  def readMeta(dir: String): Option[IndexMeta] = chain.read(dir)

  /** The meta at `dir`, which must exist and carry [[SigScheme]]: an
    * index of another scheme must be rebuilt — probing or extending it
    * would mix band keys that never collide across schemes. */
  private def currentMeta(dir: String): IndexMeta = {
    val m = chain.current(dir)
    if (m.scheme != SigScheme) throw new IllegalStateException(
      s"index at $dir has signature scheme " +
        s"${Option(m.scheme).getOrElse("(unstamped)")}, this build " +
        s"computes $SigScheme — rebuild it with write()")
    m
  }

  /** Shingler of both the signature pass and the verify tail: the
    * raw (unsorted multiset) char variant, or word n-gram sets — MinHash
    * signatures, and therefore every band key stored or probed, and
    * every exact jaccard are bit-identical to the sorted-distinct form
    * (per-bin minima and [[DedupOps.jaccard]] are order- and
    * duplicate-invariant) without the per-document sort. */
  private def sigShinglerOf(m: IndexMeta): String => Array[Long] =
    m.kind match {
      case "char" => DedupOps.shinglesRaw(_, m.k)
      case "word" => DedupOps.wordNgrams(_, m.k)
      case other => throw new IllegalArgumentException(
        s"unknown index kind '$other' (expected char|word)")
    }

  /** Band keys of `textCol`, `m.bands` per document — the
    * shingle→minhash→band pass as one map-side UDF. A null text has no
    * shingles: callers drop it first, so it pairs with nothing and is
    * not indexed. */
  private def bandKeys(textCol: String, m: IndexMeta): Column =
    signatureUdf(textCol, m, "graft_band_keys")(identity)

  /** [[bandKeys]] in the stored layout ([[pack]]), in the same UDF. */
  private def packedBandKeys(textCol: String, m: IndexMeta): Column =
    signatureUdf(textCol, m, "graft_band_keys_packed")(pack)

  private def signatureUdf(textCol: String, m: IndexMeta, name: String)(
      f: Array[Long] => Array[Long]): Column = {
    val sh = sigShinglerOf(m)
    val nh = m.numHashes
    val nb = m.bands
    udf((t: String) => f(DedupOps.bandKeys(t, sh, nh, nb)))
      .withName(name).apply(col(textCol))
  }

  /** The stored layout of one document's band keys: key `i` takes bits
    * [48i, 48i + 48) of a little-endian bit string held in
    * `ceil(keys × 48 / 64)` longs (12 at 16 bands), so a key may
    * straddle two longs and the last long may end mid-key. Keys must
    * lie in [0, 2^48) ([[DedupOps.bandKeys]]). */
  private[graft] def pack(keys: Array[Long]): Array[Long] = {
    val out = new Array[Long]((keys.length * BandKeyBits + 63) / 64)
    var i = 0
    while (i < keys.length) {
      val w = i * BandKeyBits >>> 6
      val off = i * BandKeyBits & 63
      out(w) |= keys(i) << off
      if (off + BandKeyBits > 64) out(w + 1) |= keys(i) >>> (64 - off)
      i += 1
    }
    out
  }

  /** The `bands` keys [[pack]] stored in `packed`. */
  private[graft] def unpack(packed: Array[Long], bands: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var i = 0
    while (i < bands) {
      val w = i * BandKeyBits >>> 6
      val off = i * BandKeyBits & 63
      var v = packed(w) >>> off
      if (off + BandKeyBits > 64) v |= packed(w + 1) << (64 - off)
      out(i) = v & BandKeyMask
      i += 1
    }
    out
  }

  /** Initialize an EMPTY index (geometry only, no deltas) — the
    * streaming entry point: the first micro-batch probes an empty
    * index (within-batch pairs only) and appends itself. Drops any
    * existing index at `dir`. */
  def init(dir: String, kind: String = "char", k: Int = 5,
      numHashes: Int = 64, bands: Int = 16): IndexMeta = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    chain.drop(dir)
    val m = IndexMeta(kind, k, numHashes, bands, 0L, Nil, SigScheme)
    chain.write(dir, m)
    m
  }

  /** Initialize the index over a corpus (drops any existing index at
    * `dir` first — geometry must be uniform across deltas). */
  def write(docs: DataFrame, idCol: String, textCol: String, dir: String,
      kind: String = "char", k: Int = 5, numHashes: Int = 64,
      bands: Int = 16): IndexMeta = {
    init(dir, kind, k, numHashes, bands)
    append(docs, idCol, textCol, dir)
  }

  /** Append one batch's signatures as a new delta dir: one `(id, bands)`
    * row per document with a non-null text — 6 B × bands + 8 before
    * compression — computed in the batch's own partitions. One
    * exchange of those rows, keyed on id, sizes the files: adaptive
    * execution coalesces its partitions to the bytes they hold, so a
    * small batch lands as one file written by one task (a parquet-write
    * task pays a fixed ~20–40 ms to deserialize its Hadoop conf). No
    * count, no sort. O(batch) CPU — settled documents are never
    * re-shingled.
    *
    * A non-empty `runId` makes the append IDEMPOTENT, and a crash
    * before the meta swap leaves only an orphan delta the replay
    * rewrites ([[StateFiles.DeltaChain]]). */
  def append(docs: DataFrame, idCol: String, textCol: String,
      dir: String, runId: String = ""): IndexMeta = {
    val m = currentMeta(dir)
    chain.append(dir, m, runId) { delta =>
      writeSigs(docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), packedBandKeys(textCol, m).as("bands"))
        .repartition(col("id")), dir, delta)
    }
  }

  /** Land one signature delta and return the documents it holds: the
    * rows written, counted by the write itself — a separate count would
    * read the batch's text column once more. The counter sits above any
    * exchange in `sigs`, in the writing stage: adaptive execution
    * replaces an empty shuffle stage (and any counter inside it) by an
    * empty relation, so a counter below the exchange would report
    * nothing for exactly the empty case. Every stored value is a random
    * key or a unique id, so the write skips Parquet's dictionary
    * attempt: the writer would build one per column chunk and fall
    * back to plain encoding. */
  private def writeSigs(sigs: DataFrame, dir: String, delta: String): Long = {
    val rows = new Observation()
    sigs.observe(rows, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.enable.dictionary", "false")
      .parquet(s"$dir/$delta")
    rows.get("n").asInstanceOf[Long]
  }

  /** The full signature index as (id, bandHash) rows, `bands` per
    * indexed document (union of the delta dirs). */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val m = currentMeta(dir)
    if (m.deltas.isEmpty)
      spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Nil))
    else bandRows(spark, dir, m)
  }

  /** The stored rows of `m`'s deltas: (id, bands), one per document,
    * `bands` in the [[pack]]ed layout. */
  private def docRows(spark: org.apache.spark.sql.SparkSession, dir: String,
      m: IndexMeta): DataFrame =
    spark.read.schema(SigSchema).parquet(m.deltas.map(d => s"$dir/$d"): _*)

  /** [[docRows]] unpacked and exploded to (id, bandHash) in the scan's
    * own projection, one unpack per stored row: `explode_outer` emits
    * the same rows as `explode` (a stored row holds `m.bands` keys)
    * without the optimizer-inferred generator filter that could
    * evaluate its input again. */
  private def bandRows(spark: org.apache.spark.sql.SparkSession, dir: String,
      m: IndexMeta): DataFrame = {
    val nb = m.bands
    val unpacked = udf((p: Seq[Long]) => unpack(p.toArray, nb))
      .withName("graft_band_unpack")
    docRows(spark, dir, m)
      .select(col("id"), explode_outer(unpacked(col("bands"))).as("bandHash"))
  }

  /** Columns of every signature delta; passing them to the reader
    * spares a footer-reading schema-inference job per read. */
  private val SigSchema = "id BIGINT, bands ARRAY<BIGINT>"

  /** Compact the delta chain into ONE signature dir (a long-lived
    * stream appends one delta per micro-batch; without compaction
    * [[readIndex]] plans O(batches) scans). runIds and the docs count
    * survive — replay idempotence is unaffected. Old delta dirs are
    * deleted after the atomic meta swap (the index is derived data: no
    * time travel). */
  def compact(dir: String): IndexMeta = {
    val m = currentMeta(dir)
    if (m.deltas.size <= 1) m else rewrite(dir, m, identity)
  }

  /** Remove documents from the index (the revised-corpus workflow:
    * [[graft.table.TableIO.invalidatePeriods]] re-opens a period, and
    * its documents must stop pairing — a stale signature row would
    * emit phantom pairs against deleted docs on every future probe).
    * Rewrites the document rows anti-joined on id, copying their packed
    * keys as stored — O(index bytes), which is ~1% of a corpus of 10 KB
    * documents (6 B × bands + 8 per doc), not a corpus rewrite — and
    * recounts the indexed docs. Compacts as a side effect. */
  def deleteIds(ids: DataFrame, dir: String): IndexMeta = {
    val del = ids.toDF("del_id")
    rewrite(dir, currentMeta(dir),
      _.join(del, col("id") === col("del_id"), "left_anti"))
  }

  /** [[StateFiles.DeltaChain.rewrite]] of the document rows through `f`
    * into one delta of at most one file per ~4M band keys (250k
    * documents at 16 bands), sized from `m.docs`: the scan's partitions
    * are coalesced, so the rewrite moves no row across an exchange,
    * sorts nothing and never unpacks a key. */
  private def rewrite(dir: String, m: IndexMeta,
      f: DataFrame => DataFrame): IndexMeta =
    chain.rewrite(dir, m) { delta =>
      val spark = org.apache.spark.sql.SparkSession.active
      val files = math.max(1, math.ceil(m.docs.toDouble * m.bands / 4e6).toInt)
      writeSigs(f(docRows(spark, dir, m)).coalesce(files), dir, delta)
    }

  /** Near-dup pairs a NEW batch introduces: (batch ↔ indexed corpus)
    * cross pairs plus within-batch pairs, exact-verified at
    * `threshold` — exactly the pairs [[DedupOps.minhashPairs]] over
    * (corpus ∪ batch) would emit that touch ≥1 batch id. Does NOT
    * append — probe first, then [[append]] the batch (the order makes
    * a crashed run re-probe instead of self-pair).
    *
    * `corpusTexts` supplies (id → text) for indexed ids; only
    * candidate ids' texts ever leave the scan (the verify tail
    * filters it map-side against the broadcast candidate ids), so
    * passing the full corpus table is free.
    *
    * Scale: the batch side is broadcast when small (its signature
    * rows are counted by the job that pins them, so the decision is
    * measured, not estimated) — the index then streams map-side with
    * no exchange; a huge batch falls back to a shuffle merge join.
    */
  def probePairs(newDocs: DataFrame, corpusTexts: DataFrame,
      idCol: String, textCol: String, dir: String,
      threshold: Double = 0.6,
      maxBroadcastRows: Long = 4000000L): DataFrame = {
    val m = currentMeta(dir)
    val cand = probeCandidates(newDocs, idCol, textCol, dir, maxBroadcastRows)
    val texts = corpusTexts
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .unionByName(newDocs
        .select(col(idCol).as("id"), col(textCol).as("text")))
    DedupOps.exactVerifyPairs(cand, texts, sigShinglerOf(m), threshold)
  }

  /** Candidate pairs of [[probePairs]] WITHOUT the exact verify —
    * (id_a, id_b) sharing ≥1 band bucket, cross ∪ within-batch,
    * distinct. ONE join finds both kinds: the index's band rows and the
    * batch's own stream, as one union, against the batch's band rows;
    * a row pairs with every batch row of its bucket but itself, each
    * pair is emitted as (least, greatest) and `distinct` folds the
    * repeats (a within-batch pair meets from both sides, and a pair
    * sharing several buckets meets once per bucket). Public for callers
    * that run their own verification (or want bucket-collision stats)
    * and for the plan-audit spec, which asserts the index side streams
    * into the probe join with no exchange. */
  def probeCandidates(newDocs: DataFrame, idCol: String, textCol: String,
      dir: String, maxBroadcastRows: Long = 4000000L): DataFrame = {
    val m = currentMeta(dir)
    val spark = newDocs.sparkSession
    import spark.implicits._
    // one stored row per document, exploded on read (see
    // DedupOps.lshJaccardPairs): every stored document has `m.bands`
    // band keys, so the signature row count is docs × bands, and
    // `explode_outer` emits the same rows as `explode` without the
    // inferred filter that `materialize=none` would push below the
    // projection as two more UDF calls per document
    val (newSigs, batchDocs) = DedupOps.materializeCounted(newDocs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), bandKeys(textCol, m).as("bands")))
    val batchSigRows = batchDocs * m.bands
    val newBanded =
      newSigs.select($"id", explode_outer($"bands").as("bandHash"))
    val nb = newBanded.select($"id".as("n_id"), $"bandHash")
    val index = if (m.deltas.isEmpty) None else Some(bandRows(spark, dir, m))
    def withBatch(ix: Option[DataFrame]) =
      ix.fold(newBanded)(_.union(newBanded))
    val joined =
      if (batchSigRows <= maxBroadcastRows)
        withBatch(index).join(broadcast(nb), Seq("bandHash"))
      else {
        // pathological batch (> broadcast cap): shuffle merge join.
        // Prune the index EXPLICITLY before the exchange with a
        // bloom built over the batch's band hashes — Spark's own
        // InjectRuntimeFilter cannot help here (the creation side
        // is materialized, so the selective filter it requires is
        // no longer visible in the plan), and without pruning the
        // whole index (10^11 band rows) streams through the shuffle
        // to match a batch that touches a sliver of its buckets. The
        // bloom costs one cheap pass over the ALREADY-materialized
        // signatures; sizing is measured (batchSigRows).
        // Capped: past ~2^27 distinct hashes the filter itself is
        // driver-heavy (~200 MB); such a "batch" is a backfill —
        // run the batch dataflow instead. A 3% false positive only
        // forwards an index row the join drops.
        val pruned =
          if (batchSigRows > (1L << 27)) index
          else index.map { ix =>
            val bloom = spark.sparkContext.broadcast(
              nb.stat.bloomFilter("bandHash", batchSigRows, 0.03))
            ix.filter(udf((h: Long) => bloom.value.mightContainLong(h))
              .withName("graft_bloom_prune")($"bandHash"))
          }
        withBatch(pruned).hint("merge").join(nb.hint("merge"), Seq("bandHash"))
      }
    joined
      .filter($"id" =!= $"n_id")
      .select(least($"id", $"n_id").as("id_a"),
        greatest($"id", $"n_id").as("id_b"))
      .distinct()
  }
}
