package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.url.Hashing

/** Near-duplicate detection for large text corpora — the operations a
  * 100 TB training-data pipeline runs between crawl and training:
  * exact dedup, MinHash+LSH, SimHash (Charikar), and exact n-gram
  * Jaccard verification. All signatures are fixed functions of the
  * document (splitmix64 mixes with fixed seeds, no sampled state), so
  * results are reproducible across runs, partitionings and cluster
  * sizes.
  *
  * Scale shape (standard MinHash-LSH dataflow):
  *   shingle → minhash signature (map-side, no shuffle)
  *   → explode to (band, bandHash) keys → shuffle ONLY on bucket keys
  *   → sorted run scan within buckets (candidates ≪ n²)
  *   → exact Jaccard verify on the candidate pairs only.
  */
object DedupOps {

  // ---- shingling ----------------------------------------------------

  // precompiled hot-path patterns: String.replaceAll/split(regex)
  // re-compile their pattern on EVERY call — per-document cost on the
  // corpus hot path (semantics identical: same regex, same engine)
  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  /** Character k-shingle hash set of a document (lowercased,
    * whitespace-collapsed), returned sorted + distinct: the fresh array
    * of [[shinglesRaw]], sorted and deduplicated in place — no boxing,
    * no tree: this runs once per document per stage on the corpus hot
    * path. */
  def shingles(text: String, k: Int): Array[Long] = {
    val all = shinglesRaw(text, k)
    java.util.Arrays.sort(all)
    var w = 1
    var i = 1
    while (i < all.length) {
      if (all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    if (w == all.length) all else java.util.Arrays.copyOf(all, w)
  }

  /** [[shingles]] WITHOUT the sort + dedup — the multiset of window
    * hashes in text order. Both consumers are multiset-invariant, so
    * the two forms are interchangeable there: for MinHash signatures
    * ([[bandKeys]]) each bin's `min` over a multiset equals its `min`
    * over the distinct set and bin occupancy (so densification) is the
    * same; [[jaccard]] counts distinct values. Every signature, band
    * key, emitted pair and jaccard value is bit-identical, and neither
    * the signature pass nor the verify tail pays a per-document sort.
    *
    * The normalized text is `text.toLowerCase` with every run of the
    * six `\s` characters (space, `\t \n \x0B \f \r`) replaced by one
    * space. ASCII documents (the overwhelming mass of a web corpus) are
    * normalized in ONE pass straight into a byte array — no lowercased
    * copy, no regex (it was ~60% of the kernel), no UTF-8 encode — and
    * every window hashes a byte RANGE of it ([[Hashing.xxh64Range]]):
    * byte offsets equal char offsets, so the hashes are bit-identical to
    * the substring form, without two allocations per window. Non-ASCII
    * text, and a default locale whose lowercase of ASCII is not plain
    * A–Z → a–z (`tr`/`az` map 'I' to 'ı'), take the regex form, whose
    * non-ASCII results hash substrings: the same UTF-8 bytes of the same
    * normalized text. */
  private[graft] def shinglesRaw(text: String, k: Int): Array[Long] = {
    val n = text.length
    val buf = new Array[Byte](n)
    var len = 0
    var inWs = false
    var ascii = plainAsciiLower()
    var i = 0
    while (ascii && i < n) {
      val c = text.charAt(i)
      if (c >= 0x80) ascii = false
      else if (c == ' ' || (c >= '\t' && c <= '\r')) {
        if (!inWs) { buf(len) = ' '; len += 1; inWs = true }
      } else {
        buf(len) = (if (c >= 'A' && c <= 'Z') c + 32 else c).toByte
        len += 1
        inWs = false
      }
      i += 1
    }
    if (ascii) windowHashes(buf, len, k)
    else {
      val t = WsRun.matcher(text.toLowerCase).replaceAll(" ")
      val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (bytes.length == t.length) windowHashes(bytes, bytes.length, k)
      else if (t.length < k) Array(Hashing.xxh64(t))
      else Array.tabulate(t.length - k + 1)(j =>
        Hashing.xxh64(t.substring(j, j + k)))
    }
  }

  /** xxh64 of every `k`-byte window of `bytes[0, len)`, in order; the
    * whole range when it is shorter than `k`. */
  private def windowHashes(bytes: Array[Byte], len: Int, k: Int)
      : Array[Long] =
    if (len < k) Array(Hashing.xxh64Range(bytes, 0, len, Hashing.SparkSeed))
    else {
      val all = new Array[Long](len - k + 1)
      var i = 0
      while (i < all.length) {
        all(i) = Hashing.xxh64Range(bytes, i, k, Hashing.SparkSeed)
        i += 1
      }
      all
    }

  /** Whether `String.toLowerCase` under the current default locale maps
    * ASCII exactly A–Z → a–z. */
  private def plainAsciiLower(): Boolean =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ".toLowerCase == "abcdefghijklmnopqrstuvwxyz"

  /** Word n-gram hash set (n consecutive whitespace tokens),
    * lowercased, sorted + distinct — the token-level alternative to
    * character [[shingles]] (catches reorder/near-copy at phrase
    * granularity; insensitive to intra-token edits). */
  def wordNgrams(text: String, n: Int): Array[Long] = {
    val toks = WsRun.split(text.toLowerCase).filter(_.nonEmpty)
    if (toks.length < n) Array(Hashing.xxh64(toks.mkString(" ")))
    else {
      val m = toks.length - n + 1
      val all = new Array[Long](m)
      // hash each n-gram over a reused byte buffer instead of
      // slice+mkString+getBytes per gram (two array and one string
      // allocation each): xxh64 of "tokᵢ tokᵢ₊₁…" UTF-8 bytes is
      // assembled in place — bit-identical to hashing the joined string
      val tokBytes = new Array[Array[Byte]](toks.length)
      var ti = 0
      while (ti < toks.length) {
        tokBytes(ti) = toks(ti)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ti += 1
      }
      var maxLen = 0
      ti = 0
      while (ti < m) {
        var wl = 0
        var j = ti
        while (j < ti + n) { wl += tokBytes(j).length + 1; j += 1 }
        if (wl > maxLen) maxLen = wl
        ti += 1
      }
      val buf = new Array[Byte](maxLen)
      var i = 0
      while (i < m) {
        var len = 0
        var j = i
        while (j < i + n) {
          if (j > i) { buf(len) = ' '; len += 1 }
          val tb = tokBytes(j)
          System.arraycopy(tb, 0, buf, len, tb.length)
          len += tb.length
          j += 1
        }
        all(i) = Hashing.xxh64Range(buf, 0, len, Hashing.SparkSeed)
        i += 1
      }
      java.util.Arrays.sort(all)
      var w = 1
      i = 1
      while (i < m) {
        if (all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
        i += 1
      }
      if (w == m) all else java.util.Arrays.copyOf(all, w)
    }
  }

  /** Exact Jaccard similarity of two documents' shingle sets, given as
    * UNSORTED MULTISETS (the [[shinglesRaw]] form; sorted-distinct
    * arrays are a special case): |distinct(a) ∩ distinct(b)| over
    * |distinct(a) ∪ distinct(b)|, 1.0 when both are empty. One
    * open-addressing table takes a's distinct values, then b's lookups
    * count the intersection and insert b-only values once — no sort,
    * and the two integer counts (so the Double) equal a merge walk over
    * the sorted distinct sets. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    // load factor ≤ 1/2: 2^bits ≥ 2·(|a| + |b|)
    val bits = math.max(4,
      64 - java.lang.Long.numberOfLeadingZeros(2L * (a.length + b.length)))
    val shift = 64 - bits
    val mask = (1 << bits) - 1
    val keys = new Array[Long](1 << bits)
    // slot state: 0 empty, 1 in a only, 2 in a and b, 3 in b only
    val state = new Array[Byte](1 << bits)
    def slot(x: Long): Int = {
      var s = ((x * 0x9E3779B97F4A7C15L) >>> shift).toInt
      while (state(s) != 0 && keys(s) != x) s = (s + 1) & mask
      s
    }
    var distinctA = 0
    var i = 0
    while (i < a.length) {
      val s = slot(a(i))
      if (state(s) == 0) { keys(s) = a(i); state(s) = 1; distinctA += 1 }
      i += 1
    }
    var inter = 0; var onlyB = 0
    i = 0
    while (i < b.length) {
      val s = slot(b(i))
      if (state(s) == 0) { keys(s) = b(i); state(s) = 3; onlyB += 1 }
      else if (state(s) == 1) { state(s) = 2; inter += 1 }
      i += 1
    }
    val union = distinctA + onlyB
    if (union == 0) 1.0 else inter.toDouble / union
  }

  // ---- MinHash ------------------------------------------------------

  /** Banded MinHash bucket keys of one document: shingle → signature
    * → per-band key in one call, primitive end to end. Chaining
    * separate shingle, signature and band UDFs paid three Catalyst↔JVM
    * array conversions per document (boxing 1k+ longs per crossing)
    * plus a string build per band. Band key = splitmix fold of the
    * band's `numHashes / bands` adjacent signature components — a run
    * of adjacent [[minhash]] bins — salted by band index, kept to its
    * low [[BandKeyBits]] bits. A key is only a bucket id and every
    * candidate it yields is exact-verified, so the truncation changes
    * no emitted pair: equal keys stay equal, and the few accidental
    * collisions it adds are dropped by the verify (bound in
    * [[DedupIndex]], which stores each key in 6 bytes). The batch pass
    * and the index both bucket on these keys. */
  def bandKeys(text: String, shingler: String => Array[Long],
      numHashes: Int, bands: Int): Array[Long] = {
    val sig = minhash(shingler(text), numHashes)
    val rowsPer = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Hashing.mix(0xBAD5EEDL + b)
      var j = b * rowsPer
      while (j < (b + 1) * rowsPer) { h = Hashing.mix(h ^ sig(j)); j += 1 }
      out(b) = h & BandKeyMask
      b += 1
    }
    out
  }

  /** Width of a [[bandKeys]] key. */
  private[graft] final val BandKeyBits = 48
  private[graft] val BandKeyMask = (1L << BandKeyBits) - 1

  /** MinHash signature of a shingle (multi)set by one-permutation
    * hashing (Li, Owen & Zhang, NIPS 2012) with optimal densification
    * (Shrivastava, ICML 2017): `numHashes` components from ONE hash
    * per shingle, where the k-permutation form it replaces ran
    * `numHashes` splitmix steps per shingle.
    *
    *  - Each shingle hash is mixed once by splitmix64. The mixed
    *    value's high 32 bits pick one of k bins by multiply-shift range
    *    reduction (any k, not only powers of two), and each bin keeps
    *    its minimum mixed value.
    *  - A bin no shingle reached copies the value of the first filled
    *    bin on the probe sequence `mix(bin, attempt)`, attempt = 1, 2,
    *    … The sequence depends on the bin index and the attempt only,
    *    never on the document, so two sets with the same bin occupancy
    *    densify the same way and every component still collides with
    *    probability equal to their Jaccard similarity.
    *
    * Per-bin minima are order- and duplicate-invariant, so a multiset
    * gives the signature of its distinct set. An empty input gives
    * all-`Long.MaxValue`. */
  def minhash(sh: Array[Long], numHashes: Int): Array[Long] = {
    val k = numHashes
    val sig = new Array[Long](k)
    val filled = new Array[Boolean](k)
    var nFilled = 0
    val n = sh.length
    var i = 0
    while (i < n) {
      // splitmix64 of the shingle hash, inlined (the one hot loop of
      // the signature pass)
      var z = sh(i) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      val bin = (((z >>> 32) * k) >>> 32).toInt
      if (!filled(bin)) { filled(bin) = true; sig(bin) = z; nFilled += 1 }
      else if (z < sig(bin)) sig(bin) = z
      i += 1
    }
    if (nFilled == 0) java.util.Arrays.fill(sig, Long.MaxValue)
    else if (nFilled < k) {
      var b = 0
      while (b < k) {
        if (!filled(b)) {
          var attempt = 1L
          var src = densifyProbe(b, attempt, k)
          while (!filled(src)) {
            attempt += 1
            src = densifyProbe(b, attempt, k)
          }
          sig(b) = sig(src)
        }
        b += 1
      }
    }
    sig
  }

  /** Bin the densification of empty bin `bin` reads at `attempt`. */
  private def densifyProbe(bin: Int, attempt: Long, k: Int): Int =
    (((Hashing.mix(bin.toLong, attempt) >>> 32) * k) >>> 32).toInt

  /** MinHash-LSH near-duplicate pairs over character k-shingles.
    * @param df (id BIGINT, text STRING)
    * @return (id_a, id_b, jaccard) with id_a < id_b and
    *         jaccard ≥ threshold, exact-verified. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5,
      threshold: Double = 0.6): DataFrame =
    lshJaccardPairs(df, idCol, textCol, shinglesRaw(_, shingleK),
      numHashes, bands, threshold)

  /** Word n-gram Jaccard near-duplicate pairs: same
    * signature→band→verify dataflow, over [[wordNgrams]] sets —
    * phrase-granular duplicate detection with ~one set element per
    * TOKEN instead of one per character (≈8× smaller sets and
    * signatures than char shingles at the same corpus, the standard
    * trade for long documents). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.6): DataFrame =
    lshJaccardPairs(df, idCol, textCol, wordNgrams(_, n),
      numHashes, bands, threshold)

  /** EXACT containment near-duplicate pairs over word n-gram sets —
    * the asymmetric companion to [[ngramJaccardPairs]] (Broder 1997,
    * "On the resemblance and containment of documents": containment
    * `C(A,B) = |A∩B| / |A|`): a short document pasted inside a long
    * one scores containment ≈ 1 while its Jaccard stays LOW (the
    * union in `|A∩B|/|A∪B|` is dominated by the long side), so every
    * threshold-Jaccard family here — MinHash-LSH, n-gram, SimHash —
    * structurally misses it. Quote/boilerplate/snippet inclusion is
    * the training-data case: the contained text IS duplicated even
    * though the host page is not a near-duplicate of anything.
    *
    * Semantics (exact, no sketching, integer-only verdicts): over the
    * stop-gram-pruned universe `U = {n-grams with document frequency
    * ≤ freqCap}`, `size(d) = |ngrams(d) ∩ U|`, `shared(a,b) =
    * |ngrams(a) ∩ ngrams(b) ∩ U|`, and a pair is emitted when
    * `shared·100 ≥ min(size_a, size_b)·pct` — cross-multiplied, so
    * the pair SET is bit-identical on any engine and a DuckDB oracle
    * can re-derive it two-sided from raw text. The freqCap prune is
    * what makes exactness affordable: a shared-gram self-join
    * explodes on stop phrases ("of the" would pair every document
    * with every document); capping df bounds each gram's pair
    * contribution at freqCap², Broder's common-shingle cut. Unique
    * grams (df = 1) still count toward sizes — they cannot pair, so
    * they are dropped from the join side only. Docs with fewer than
    * `minSize` surviving grams are excluded entirely: containment on
    * a near-empty set is meaningless (any shared gram scores 100 %),
    * and since the verdict keys on min(size), a sub-minSize doc can
    * never appear in a qualifying pair anyway — so the exclusion is
    * a pure pre-join prune, not a semantic change. The default n = 4
    * (not the Jaccard family's bigrams) keeps gram entropy above
    * low-vocabulary corpora where every bigram is a stop-gram.
    *
    * Scale shape: one (id, 8-byte gram-hash) explode (distinct by
    * [[wordNgrams]] construction), one gram-keyed df aggregation, one
    * gram-keyed self-join bounded by freqCap per gram, one (id_a,
    * id_b) count aggregation, two O(docs) size joins. No driver
    * collect, no n² anywhere; the exploded gram table is materialized
    * once (referenced by the df agg and the universe join).
    * @return (id_a, id_b, shared, size_a, size_b, cont_x1000) with
    *         id_a < id_b. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, freqCap: Long = 64, pct: Int = 90,
      minSize: Long = 4): DataFrame = {
    require(n >= 1 && freqCap >= 2 && pct >= 1 && pct <= 100 &&
      minSize >= 1)
    val gramsUdf = udf((t: String) => wordNgrams(t, n))
    val grams = materialize(
      df.select(col(idCol).as("id"),
        explode(gramsUdf(coalesce(col(textCol), lit("")))).as("g")))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("dfreq"))
    val kept = materialize(
      grams.join(dfreq, "g").filter(col("dfreq") <= freqCap))
    val sizes = materialize(
      kept.groupBy(col("id")).agg(count(lit(1)).as("sz")))
    val pairable = kept.filter(col("dfreq") >= 2)
      .join(sizes.filter(col("sz") >= minSize).select(col("id")), "id")
      .select(col("id"), col("g"))
    // per-gram member lists + in-partition pair explode instead of a
    // self-join: the gram-keyed table crosses ONE exchange (unsorted)
    // rather than two sort-merge sides; lists are bounded by freqCap,
    // so no row outgrows 64 ids (the lshJaccardPairs candidate-stage
    // rationale, here with the df cap making the bound a hard one)
    val shared = pairable.groupBy(col("g"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("sz").as("size_a")),
        "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("size_b")),
        "id_b")
      .filter(col("shared") * 100 >=
        least(col("size_a"), col("size_b")) * pct)
      .select(col("id_a"), col("id_b"), col("shared"),
        col("size_a"), col("size_b"),
        expr("(shared * 1000) div least(size_a, size_b)")
          .as("cont_x1000"))
  }

  /** Materialize an intermediate the LSH dataflow references several
    * times, per `spark.graft.dedup.materialize`:
    *  - `auto` (default): `local` when the session is a single
    *    in-process JVM (`sc.isLocal`), `cache` on any multi-executor
    *    master — each is the MEASURED winner on its side (below).
    *  - `cache`: MEMORY_AND_DISK persist (columnar, compressed),
    *    lineage retained — lost blocks recompute instead of failing
    *    under executor churn. The multi-executor winner by a wide
    *    margin: at 480k docs on a 4×2-core local-cluster the minhash
    *    pass runs 25 s cached vs 183 s localCheckpointed — scanning
    *    MEMORY_AND_DISK *deserialized* checkpoint blocks across
    *    executor JVMs burned 380-607 s of executor CPU in the
    *    band-shuffle stage (event-log stage 42) vs 17 s for the
    *    identical work in one JVM, while the columnar cache ships
    *    compact serialized batches and decodes vectorized. N→4N
    *    efficiency: 0.94 cached vs 0.40 checkpointed.
    *  - `local`: eager `localCheckpoint` — blocks live only on
    *    executors with NO recompute path (an executor loss mid-job
    *    fails the run). The single-JVM winner: no columnar encode and
    *    one less action — e.g. the sf0.1 battery's minhash entry runs
    *    2.6 s vs 6.0 s cached.
    *  - `reliable`: eager `checkpoint` to the SparkContext checkpoint
    *    dir (caller must `sc.setCheckpointDir` to HDFS/object
    *    storage) — survives driver-visible block loss too.
    *  - `none`: recompute per reference (measurement aid only: the
    *    plan tree re-runs the whole signature pass per reference —
    *    5+× the dominant CPU stage; a 480k-doc run that takes ~127 s
    *    cached did not finish in 10 min).
    * Note on `cache` residency: persisted DataFrames register with the
    * session's CacheManager and stay pinned until `clearCache()` or
    * session stop (localCheckpoint RDDs, by contrast, are freed by the
    * ContextCleaner on GC). One-shot batch jobs — the dedup family's
    * shape — are unaffected; a long-lived session calling these
    * repeatedly should `spark.catalog.clearCache()` between corpora,
    * as Bench does between measured runs. */
  private[graft] def materialize(df: DataFrame): DataFrame =
    materializeWith(df, counted = false)._1

  /** [[materialize]], plus the row count of the frame, counted by the
    * materializing job itself: the `cache` mode's count action returns
    * it, and the checkpoint modes observe it in the checkpoint job
    * ([[Observation]]), so no second job counts the pinned frame. Under
    * `none` nothing is pinned and a count job runs. */
  private[graft] def materializeCounted(df: DataFrame): (DataFrame, Long) =
    materializeWith(df, counted = true)

  /** The pinned frame and, when `counted`, its row count (else -1). */
  private def materializeWith(df: DataFrame, counted: Boolean)
      : (DataFrame, Long) = {
    val spark = df.sparkSession
    val rows = new Observation()
    lazy val observed =
      if (counted) df.observe(rows, count(lit(1)).as("n")) else df
    def checkpointed(out: DataFrame): (DataFrame, Long) =
      (out, if (counted) rows.get("n").asInstanceOf[Long] else -1L)
    def cachePersist(): (DataFrame, Long) = {
      val p = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }
    val (out, n) =
      spark.conf.get("spark.graft.dedup.materialize", "auto") match {
        case "reliable" => checkpointed(observed.checkpoint(eager = true))
        case "local" => checkpointed(observed.localCheckpoint(eager = true))
        case "cache" => cachePersist()
        case "none" => (df, if (counted) df.count() else -1L)
        case _ => // auto
          if (spark.sparkContext.isLocal)
            checkpointed(observed.localCheckpoint(eager = true))
          else cachePersist()
      }
    if (out ne df) Option(matScope.get()).foreach(_ += out)
    (out, n)
  }

  // ---- materialization scopes ----------------------------------------
  // `materialize` pins blocks: CacheManager entries on multi-executor
  // masters (held until clearCache/session stop), localCheckpoint RDDs
  // in one JVM (freed only when the frame goes unreachable). One-shot
  // batch jobs are fine, but a LONG-LIVED caller — a streaming
  // foreachBatch probing an index every micro-batch — would accumulate
  // pinned blocks without bound and eventually exhaust executor
  // storage/disk. A scope records every frame `materialize` produces
  // on this thread and releases their blocks on exit.
  //
  // Contract: the scope must enclose EVERY action that reads the
  // materialized frames (release severs localCheckpoint lineage — a
  // later read would fail, and a cached frame would silently recompute
  // its whole upstream). Scopes nest; each releases only its own.
  private val matScope = new ThreadLocal[
    scala.collection.mutable.ListBuffer[DataFrame]]()

  /** Run `body` with a materialization scope: every intermediate the
    * dedup/index dataflows pin inside it is released on exit — the
    * long-lived-session complement of the one-shot contract documented
    * on [[materialize]]. */
  def withMaterializeScope[T](body: => T): T = {
    val outer = matScope.get()
    val mine = scala.collection.mutable.ListBuffer.empty[DataFrame]
    matScope.set(mine)
    try body
    finally {
      matScope.set(outer)
      mine.foreach(releaseBlocks)
    }
  }

  /** Shared MinHash-LSH dataflow, parameterized by the set builder.
    * `shingler` feeds both the signature pass and the exact verify, so
    * it may return an unsorted multiset (the [[shinglesRaw]] form):
    * MinHash per-bin minima and [[jaccard]] are both order- and
    * duplicate-invariant. Rows with a null text have no shingles:
    * they pair with nothing and are dropped before the signature pass.
    * @param df (id BIGINT, text STRING) */
  private[graft] def lshJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, shingler: String => Array[Long],
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    // shingle arrays are computed per document, never per PAIR: one
    // full-corpus pass feeds the signature stage map-side; the verify
    // stage recomputes arrays for CANDIDATE documents only (see
    // exactVerifyPairs). Deliberately NOT persisted: the hash array is
    // ~8x the text size, so at corpus scale caching it would spill
    // multiples of the input to executor disk.
    val bandsUdf = udf((t: String) =>
      bandKeys(t, shingler, numHashes, bands)).withName("graft_band_keys")
    val docs = df.filter(col(textCol).isNotNull)
    // candidate pairs: ids sharing any band bucket, in ONE sorted pass.
    // The signature rows (id, bandHash) cross one exchange on bandHash
    // and are sorted by (bandHash, id) within each partition, so every
    // bucket is one run of ascending ids; the run scan (the domain-run
    // idiom of CrawlJob.scheduleAndFetchFlagged) emits each run's
    // (smaller, larger) id pairs, and singleton buckets — almost all of
    // them — emit nothing. The signature rows are read once, so nothing
    // is pinned before the candidates. A sort, not a hash aggregation,
    // groups the band keys: they are nearly unique, so a partial
    // aggregation would save nothing. One bucket's distinct ids are
    // held in one long array while its pairs stream out: a bucket large
    // enough to threaten executor memory has long made its quadratic
    // pair output unrunnable under any shape (exactDedup upstream
    // removes the identical-content mass that creates such buckets).
    // Adaptive execution may coalesce the bandHash exchange: it merges
    // whole hash partitions, so a bucket never splits. The explode sits
    // in the UDF's own projection: a generator over a projected column
    // makes the optimizer infer `isnotnull`/`size > 0` filters on it,
    // pushed below the projection as two more signature-UDF calls per
    // document.
    val cand = docs
      .select(col(idCol).as("id"),
        explode(bandsUdf(col(textCol))).as("bandHash"))
      .repartition(col("bandHash"))
      .sortWithinPartitions("bandHash", "id")
      .select(col("bandHash"), col("id")).as[(Long, Long)]
      .mapPartitions(bucketPairs)
      .toDF("id_a", "id_b")
      .distinct()
    exactVerifyPairs(cand,
      docs.select(col(idCol).as("id"), col(textCol).as("text")),
      shingler, threshold)
  }

  /** Every (smaller, larger) id pair of each bucket in `rows`, which
    * are (bandHash, id) sorted by bandHash, then id: each bucket is one
    * run, its repeated ids count once, and a run of one id emits
    * nothing. */
  private def bucketPairs(rows: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    val buf = rows.buffered
    new Iterator[Iterator[(Long, Long)]] {
      def hasNext: Boolean = buf.hasNext
      def next(): Iterator[(Long, Long)] = {
        val key = buf.head._1
        val ids = new scala.collection.mutable.ArrayBuilder.ofLong
        var last = 0L
        var n = 0
        while (buf.hasNext && buf.head._1 == key) {
          val id = buf.next()._2
          if (n == 0 || id != last) { ids += id; last = id; n += 1 }
        }
        val run = ids.result()
        Iterator.range(0, n - 1).flatMap(i =>
          Iterator.range(i + 1, n).map(j => (run(i), run(j))))
      }
    }.flatten
  }

  /** Exact-Jaccard verification of candidate pairs against document
    * texts — the shared verify tail of every Jaccard family (the
    * batch LSH dataflow above and [[DedupIndex.probePairs]]).
    * `candidates`: distinct (id_a, id_b) candidate pairs, pinned here
    * by [[materializeCounted]], whose job also counts them; `texts`:
    * (id, text) for every id the pairs may reference. `shingler` may
    * return an unsorted multiset ([[jaccard]] counts distinct values).
    *
    * Two scale rules, both measured on multi-executor runs:
    *  1. shrink FIRST, map-side: the corpus is semi-joined down to ids
    *     that appear in some candidate pair before any text moves or
    *     any shingle array is computed. Under the candidate cap the
    *     candidate-id set is broadcast into the text scan, so the
    *     filter runs in the scan's own tasks and non-candidate texts
    *     never cross an exchange; only past the cap (pathological
    *     near-dup mass, up to 2 × 5M ids) does the semi-join shuffle
    *     the texts. The verify stage therefore moves O(candidate)
    *     texts, not the corpus (the all-rows join was
    *     shuffle-I/O-bound: 1 and 4 executors took the SAME wall time
    *     moving ~GBs of arrays);
    *  2. never broadcast the array side: its logical estimate is a
    *     few bytes/row (the planner can't see the arrays a UDF
    *     adds — ~8x the text), so the static planner would build a
    *     multi-hundred-MB hash relation and ship it to EVERY
    *     executor, which anti-scales with cluster size (measured:
    *     4 executors 2x SLOWER than 1, and 1-GiB executors die
    *     building it). The merge hint forces the shuffle join. */
  private[ops] def exactVerifyPairs(candidates: DataFrame,
      texts: DataFrame, shingler: String => Array[Long],
      threshold: Double): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // the candidate pairs are read three times below (both id scans
    // and the pair join), and Spark plans are trees: unpinned, each
    // read would rerun the whole candidate pass. Join shapes are picked
    // by the MEASURED candidate count, taken by the pinning job: under
    // the cap the candidate ids filter the text scan map-side (rule 1)
    // and side A attaches by broadcasting PAIRS into the text stream —
    // texts never shuffle for that side; a huge candidate set falls
    // back to a shuffle semi-join and two shuffle merge joins.
    val (cand, nCand) = materializeCounted(candidates)
    val candSmall = nCand <= 5000000L
    val candIds = cand.select($"id_a".as("id"))
      .union(cand.select($"id_b".as("id"))).distinct()
    // candidate TEXTS materialized once (~the candidate fraction of
    // the corpus). Two measured lessons shape
    // the verify stage:
    //  - ship texts, not shingle arrays: the hash array is ~8.5x the
    //    text, and moving arrays through the checkpoint + two join
    //    shuffles made the verify tail shuffle-I/O-bound (1 and 4
    //    executors at the same wall time);
    //  - materialize, don't recompute: left lazy, per-row UDFs get
    //    woven into the join's sort/merge machinery and re-evaluate
    //    far beyond once per row (profiled at ~80x expected CPU).
    // The exact Jaccard is then computed per ASSEMBLED PAIR — each
    // candidate doc is shingled ~once per pair it appears in, bounded
    // by the candidate count, never by the corpus.
    val prepCand = texts
      .join(if (candSmall) broadcast(candIds) else candIds, Seq("id"),
        "left_semi")
      .transform(materialize)
    val jacTextUdf = udf((ta: String, tb: String) =>
      jaccard(shingler(ta), shingler(tb)))
    val out =
      if (candSmall)
        prepCand.join(broadcast(cand), $"id" === $"id_a")
          .select($"id_a", $"id_b", $"text".as("text_a"))
          .hint("merge")
          .join(prepCand.select($"id".as("id_b"), $"text".as("text_b"))
            .hint("merge"), Seq("id_b"))
      else
        cand
          .join(prepCand.select($"id".as("id_a"), $"text".as("text_a"))
            .hint("merge"), Seq("id_a"))
          .join(prepCand.select($"id".as("id_b"), $"text".as("text_b"))
            .hint("merge"), Seq("id_b"))
    // no global orderBy: determinism of presentation belongs to
    // callers/tests (the SketchIndex probe rule). In the curation
    // pipeline the pairs feed connectedComponents' distinct, which
    // re-shuffles anyway — a baked-in range-partition+sort stage on
    // every pair emission is pure waste at corpus scale.
    out
      .withColumn("jaccard", round(jacTextUdf($"text_a", $"text_b"), 6))
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  // ---- SimHash ------------------------------------------------------

  /** 64-bit Charikar SimHash over whitespace tokens. */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    WsRun.split(text.toLowerCase).foreach { tok =>
      if (tok.nonEmpty) {
        val h = Hashing.xxh64(tok)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Near-dup pairs over ANY precomputed 64-bit sketch column with
    * Hamming distance ≤ maxDist, via the pigeonhole banding trick:
    * split 64 bits into (maxDist+1) chunks — any pair within maxDist
    * shares at least one exact chunk, so the join key space is tiny
    * and no n² scan happens. The sketch rides along to the candidate
    * join (8 bytes/row), so verification needs no second corpus join.
    * Backs both SimHash text dedup and perceptual image dedup
    * ([[graft.ops.MultimodalOps.imageNearDup]]). */
  def hammingPairs64(df: DataFrame, idCol: String, hashCol: String,
      maxDist: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val chunks = maxDist + 1
    val width = 64 / chunks
    // banding and verification are built-in codegen expressions, not
    // UDFs: the chunk keys come from shift/mask/concat and the exact
    // Hamming verify is bit_count(a^b) — the whole pass stays inside
    // WholeStageCodegen (the only UDFs in the dedup family are the
    // sketchers themselves, which are irreducibly JVM code)
    val chunkCols = (0 until chunks).map { c =>
      concat_ws(":", lit(c),
        shiftrightunsigned($"sim", c * width)
          .bitwiseAND(lit((1L << width) - 1)))
    }
    // materialize the 16-byte (id, sketch) rows BEFORE the self-join:
    // Spark plans are trees, so both join sides would otherwise
    // re-run the sketch pass — for the image path that is the decode,
    // the dominant cost (exchange reuse does not fire across the
    // realiased subtrees; same finding as lshJaccardPairs)
    val sketches = materialize(
      df.select(col(idCol).as("id"), col(hashCol).as("sim")))
    val sigs = sketches
      .select($"id", $"sim", explode(array(chunkCols: _*)).as("chunk"))
    // one chunk-keyed aggregation + in-partition pair explode instead
    // of a self-join — same pair set, half the exchanges, no sorts
    // (the lshJaccardPairs candidate-stage rationale)
    val cand = sigs.groupBy($"chunk")
      .agg(collect_list(struct($"id", $"sim")).as("xs"))
      .filter(size($"xs") >= 2)
      .select(explode($"xs").as("l"), $"xs")
      .select($"l", explode($"xs").as("r"))
      .filter($"l.id" < $"r.id")
      .select($"l.id".as("id_a"), $"r.id".as("id_b"),
        $"l.sim".as("sim_a"), $"r.sim".as("sim_b"))
      .distinct()
    // no global orderBy (see exactVerifyPairs)
    cand.withColumn("hamming",
        bit_count($"sim_a".bitwiseXOR($"sim_b")).cast("int"))
      .filter($"hamming" <= maxDist)
      .select($"id_a", $"id_b", $"hamming")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val shUdf = udf((t: String) => simhash64(t))
    hammingPairs64(
      df.select(col(idCol).as("id"), shUdf(col(textCol)).as("sim")),
      "id", "sim", maxDist)
  }

  // ---- embedding cosine near-dup -------------------------------------

  /** Pairs of vectors with cosine ≥ threshold. Multi-table sign-bit
    * LSH prefilter (independent random-hyperplane tables; a pair is a
    * candidate when ANY table gives both vectors the same sketch)
    * keeps the self-join off n²; exact cosine verifies candidates.
    *
    * Recall per pair ≈ 1-(1-p^planes)^tables with
    * p = 1 - arccos(cos)/π — e.g. cos 0.95, 16 planes: one table
    * recalls ~0.19, the default 4 tables ~0.56, 8 tables ~0.81. Raise
    * `tables` (cost: one candidate-join row per table) when hunting
    * looser duplicates; exact near-copies (cos→1) are caught by any
    * table. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 16,
      tables: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the table tag lives in the top byte of the packed key: more than
    // 56 planes would overlap it and silently merge buckets across
    // tables (results stay correct via exact verify, but the prefilter
    // degrades toward one shared table)
    require(planes >= 1 && planes <= 56,
      s"planes must be in [1,56], got $planes")
    val sketchUdf = udf((v: Seq[Float]) => {
      val a = v.toArray
      (0 until tables).map(t =>
        (t.toLong << 56) | AnnOps.signSketch(a, planes, t)).toArray
    })
    // norms once per ROW map-side; the per-PAIR verify is then a single
    // native codegen dot product (VecExpressions.FloatVecDot)
    val sk = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", graft.functions.VecExpressions.vec_norm($"vec"))
      .withColumn("sketch", explode(sketchUdf($"vec")))
    val cand = sk.as("l").join(sk.as("r"),
        col("l.sketch") === col("r.sketch") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.vec").as("vec_a"), col("r.vec").as("vec_b"),
        col("l.nrm").as("nrm_a"), col("r.nrm").as("nrm_b"))
      // a pair can collide in several tables — dedup on ids only
      .dropDuplicates("id_a", "id_b")
    // no global orderBy (see exactVerifyPairs)
    cand.withColumn("cosine",
        round(graft.functions.VecExpressions.vec_cosine(
          $"vec_a", $"vec_b", $"nrm_a", $"nrm_b"), 6))
      .filter($"cosine" >= threshold)
      .select($"id_a", $"id_b", $"cosine")
  }

  /** Exact dedup: keep the lowest id per identical content hash.
    * Keyed on 128-bit md5 — a 64-bit key silently merges distinct
    * docs by birthday collision at ~10^10-doc corpus scale. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  // ---- duplicate-cluster resolution ---------------------------------
  // Near-duplicate similarity is not transitive, but duplicate REMOVAL
  // must be: if A~B and B~C the corpus should keep one of {A,B,C}, not
  // two. Every pair family above emits edges; this resolves them into
  // clusters and survivors.

  /** Connected components over a pair list, as `(id, component)` with
    * `component` = the minimum node id of the cluster. Covers every
    * node that appears in at least one pair (singletons never enter
    * the edge list — [[dedupSurvivors]] keeps them by anti-join).
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): O(log n) rounds
    * regardless of component diameter, each round two keyed shuffles
    * of the CURRENT edge set (which only shrinks toward one edge per
    * non-root node) — the standard corpus-scale formulation. A
    * label-propagation loop would need diameter rounds (a 10^6-doc
    * chain = 10^6 shuffles); GraphX would leave the DataFrame world
    * and its columnar shuffle. Convergence is detected by a
    * (count, hash-sum) signature of the edge set, and each round is
    * materialized through [[materialize]] so the plan does not grow
    * exponentially across iterations. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // ids keep their NATIVE type end-to-end: the star loop only needs
    // an ordering (least/min/compare work on strings and numerics
    // alike), and a cast("long") here would null out string ids —
    // image_id keys — and silently drop every edge
    val idType = pairs.schema(aCol).dataType
    val edges0 = pairs
      .select(col(aCol).as("u"), col(bCol).cast(idType).as("v"))
      .filter($"u" =!= $"v")
      .distinct()
    // Adaptive execution: near-dup edge sets are usually TINY relative
    // to the corpus that produced them (pairs ≈ dup-rate · n, 16 bytes
    // each) — a bounded driver-side union-find resolves up to the
    // threshold (default 2^20 edges ≈ 16 MB collected) in milliseconds
    // where the iterative loop pays ~10 Spark jobs per round in pure
    // scheduling latency (measured: 45 s for a 6k-edge graph on a
    // 4-executor cluster). Past the threshold — the 100 TB corpus
    // case — the log-round distributed loop takes over. Override via
    // spark.graft.dedup.cc.localThreshold (0 forces distributed).
    //
    // The size test IS the collect: one bounded limit(max+1) probe
    // fetches the whole edge set when it fits (upstream shuffle map
    // stages are shared with any fallback read, so the probe wastes
    // nothing) — the previous persist→count→collect protocol paid a
    // full extra pass plus a cache round-trip just to learn the size,
    // a fixed ~seconds tax on EVERY small graph (measured against the
    // 4-executor dedup pipeline where it diluted N→4N scaling).
    val localMax = math.min(spark.conf
        .get("spark.graft.dedup.cc.localThreshold", (1 << 20).toString)
        .toLong,
      Int.MaxValue - 2L)
    val probe = edges0.limit(localMax.toInt + 1).collect()
    if (probe.length <= localMax) {
      val es = probe.map(r => (r.get(0), r.get(1)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType)))
      import scala.jdk.CollectionConverters._
      // LocalRelation result: downstream survivor anti-joins broadcast
      // it instead of shuffling the corpus
      return spark.createDataFrame(
        localComponents(es).map { case (a, b) =>
          org.apache.spark.sql.Row(a, b) }.asJava, schema)
    }
    // past the threshold: persist the edge set for the iterative loop
    // (round 1 reads it up to 3 times; the probe's partial result-stage
    // work is discarded but its shuffle map outputs are reused)
    val edgesP = edges0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var edges: DataFrame = edgesP
    var prevSig = (-1L, -1L)
    var prevMat: DataFrame = edgesP // unpersisted after round 1 consumes it
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: every neighbor LARGER than u re-points to the
      // minimum m of u's closed neighborhood. Each output edge has
      // m <= u < v, so the result is already oriented big→small with
      // no self-loops — no distinct/filter/re-orientation round-trips
      // (duplicates fold into the next aggregation; every removed
      // shuffle is measurable round latency in an iterative loop)
      val sym = edges.union(edges.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(least(min($"v"), $"u").as("m"))
      val large = sym.join(mins, "u").where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
      // small-star over the down-oriented edges: u and all its smaller
      // neighbors re-point to the neighborhood minimum
      val mins2 = large.groupBy($"u").agg(min($"v").as("m"))
      val small = large.join(mins2, "u")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins2.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v").distinct()
      // TRUE lineage truncation, not the cache-mode materialize: each
      // round references the previous round's plan ~6 times (sym
      // doubles it, both stars join it), so a lineage-retaining
      // persist grows the LOGICAL plan exponentially — measured as an
      // explain-string OOM by round ~4 on a local-cluster. Edge rows
      // are 16 bytes and the loop is short; on executor churn the
      // bounded CC job restarts (`reliable` mode checkpoints to the
      // configured dir instead and survives block loss).
      // LAZY checkpoint: the signature aggregation right below is the
      // round's single action — it computes AND caches the blocks in
      // one pass instead of paying a separate materialization job per
      // round (each saved job is fixed latency × rounds)
      val mat = spark.conf.get("spark.graft.dedup.materialize", "auto") match {
        case "reliable" => small.checkpoint(eager = false)
        case _ => small.localCheckpoint(eager = false)
      }
      // bit_xor, not sum: order-independent like sum but cannot hit
      // the ANSI-mode long-overflow error at any edge count
      val sigRow = mat.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      // the previous round's blocks fed this round's materialization
      // and are dead now — release them eagerly instead of waiting on
      // the ContextCleaner (Dataset.unpersist alone is a no-op for
      // checkpoint-backed frames: their blocks belong to the
      // checkpointed RDD, not a CacheManager entry)
      if (prevMat != null) releaseBlocks(prevMat)
      prevMat = mat
      converged = sig == prevSig
      prevSig = sig
      edges = mat
      iter += 1
    }
    // the projection below is only valid on a CONVERGED star edge set;
    // emitting it after a truncated loop would return mislabeled
    // components with no error signal
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          s"(> $localMax input edges); raise maxIter")
    // converged: every non-root points directly at its component root
    edges.select($"u".as("id"), $"v".as("component"))
      .union(edges.select($"v".as("id"), $"v".as("component")).distinct())
  }

  /** Free a dead intermediate's storage whatever produced it: cached
    * frames unpersist through the CacheManager; (local)checkpoint-
    * backed frames hold their blocks on the materialized RDD inside
    * the plan's LogicalRDD leaf, which `Dataset.unpersist` never
    * touches. */
  private def releaseBlocks(df: DataFrame): Unit = {
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
    df.unpersist(blocking = false)
  }

  /** Ordering consistent with Spark's `min`/`least` for the id types
    * the pair families emit: UTF8 BYTE order for strings (UTF8String
    * compares bytewise, which differs from String.compareTo past the
    * BMP), natural order for numerics and other Comparables. */
  private def idLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    case (x: Comparable[_], _) =>
      x.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    case _ => false
  }

  /** Driver-side union-find with min-id canonical labels — the
    * bounded small-graph path of [[connectedComponents]]. Generic over
    * the id type so string keys (image_id) resolve exactly. */
  private def localComponents(edges: Array[(Any, Any)]): Seq[(Any, Any)] = {
    val index = new java.util.HashMap[Any, Integer]()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    def id(x: Any): Int = {
      val got = index.get(x)
      if (got != null) got.intValue
      else { val i = nodes.length; index.put(x, i); nodes += x; i }
    }
    edges.foreach { case (a, b) => id(a); id(b) }
    val parent = Array.tabulate(nodes.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(id(a)), find(id(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min node ID (not index) per component
    val minOf = new java.util.HashMap[Integer, Any]()
    var i = 0
    while (i < nodes.length) {
      val r: Integer = find(i)
      val cur = minOf.get(r)
      if (cur == null || idLt(nodes(i), cur)) minOf.put(r, nodes(i))
      i += 1
    }
    nodes.indices.map(i => (nodes(i), minOf.get(find(i): Integer)))
  }

  /** Keep one document per duplicate cluster (the minimum id) plus
    * every unpaired document: `docs` anti-joined against the non-root
    * members of [[connectedComponents]] of `pairs`. Works unchanged
    * over any pair family above — text MinHash, word n-gram, SimHash,
    * embedding, or perceptual image pairs. */
  def dedupSurvivors(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }
}
