package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{DedupIndex, DedupOps}
import graft.url.Hashing

/** The one-permutation MinHash kernel (DedupOps.minhash): set/multiset
  * invariance, densification of sparse sets, the per-component
  * collision probability against known Jaccard (including a
  * non-power-of-two k), the index's signature-scheme stamp, the
  * shingle kernel against its regex reference, and the LSH candidate
  * pass against a brute-force band-key reference. */
class MinHashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("bandKeys over raw (multiset) shingles == over sorted-distinct shingles") {
    val texts = docs.select("text").collect().map(_.getString(0)) ++ Seq(
      "", "abc", "aaaaaaaaaaaaaaaaaaaa", "ação revisão ção ção ção ção",
      "the the the the the the the the quick quick quick fox")
    for ((nh, nb) <- Seq((64, 16), (48, 12))) texts.foreach { t =>
      val raw = DedupOps.bandKeys(t, DedupOps.shinglesRaw(_, 5), nh, nb)
      val set = DedupOps.bandKeys(t, DedupOps.shingles(_, 5), nh, nb)
      assert(raw.toSeq === set.toSeq, s"k=$nh bands=$nb text='$t'")
    }
  }

  test("every band key lies in [0, 2^48)") {
    val texts = docs.select("text").collect().map(_.getString(0)) ++ Seq(
      "", "abc", "ação revisão ção ção ção ção")
    for ((nh, nb) <- Seq((64, 16), (48, 12), (64, 64))) texts.foreach { t =>
      val keys = DedupOps.bandKeys(t, DedupOps.shinglesRaw(_, 5), nh, nb)
      assert(keys.length === nb)
      assert(keys.forall(h => h >= 0L && h < (1L << 48)),
        s"k=$nh bands=$nb text='$t': ${keys.mkString(",")}")
    }
  }

  test("sparse sets densify fully; identical sets give identical signatures") {
    val rnd = new scala.util.Random(11)
    // a single shingle: every component is that shingle's mixed value
    val one = DedupOps.minhash(Array(42L), 64)
    assert(one.toSet === Set(Hashing.mix(42L)))
    // fewer shingles than k (most bins empty before densification):
    // every component is the mixed value of some member
    for (k <- Seq(48, 64); n <- Seq(2, 5, 17, 47)) {
      val sh = Array.fill(n)(rnd.nextLong())
      val sig = DedupOps.minhash(sh, k)
      val mixed = sh.map(Hashing.mix(_: Long)).toSet
      assert(sig.length === k)
      assert(sig.forall(mixed.contains), s"k=$k n=$n: undensified bin")
      // order and duplicates do not matter
      val shuffled = rnd.shuffle((sh ++ sh.take(3)).toSeq).toArray
      assert(DedupOps.minhash(shuffled, k).toSeq === sig.toSeq)
    }
    // an empty input keeps the all-max sentinel signature
    assert(DedupOps.minhash(Array.empty[Long], 16).forall(_ == Long.MaxValue))
  }

  test("component collision rate tracks Jaccard (k = 64 and k = 48)") {
    val rnd = new scala.util.Random(2017)
    // sparse: unions below k, where most components are densified
    // copies; dense: unions of k to 8k, where most bins are filled
    for (k <- Seq(64, 48); target <- Seq(0.2, 0.5, 0.8);
         (regime, pairs, minU, spanU) <- Seq(("sparse", 2000, 8, k - 8),
           ("dense", 300, k, 7 * k))) {
      var sumEq = 0.0
      var sumJ = 0.0
      for (_ <- 0 until pairs) {
        val union = minU + rnd.nextInt(spanU)
        val shared = math.max(1, math.round(union * target).toInt)
        val onlyA = (union - shared) / 2
        val onlyB = union - shared - onlyA
        val common = Array.fill(shared)(rnd.nextLong())
        val a = common ++ Array.fill(onlyA)(rnd.nextLong())
        val b = common ++ Array.fill(onlyB)(rnd.nextLong())
        val sa = DedupOps.minhash(a, k)
        val sb = DedupOps.minhash(b, k)
        sumEq += sa.indices.count(i => sa(i) == sb(i)).toDouble / k
        sumJ += shared.toDouble / union
      }
      val meanEq = sumEq / pairs
      val meanJ = sumJ / pairs
      // the expected share is exactly J per pair; the mean's std is
      // ≤ ~0.005 here (per-pair std ≤ 0.08 dense over 300 pairs, ≤ 0.2
      // sparse over 2000), so 0.02 is a ≥4-sigma band
      assert(math.abs(meanEq - meanJ) <= 0.02,
        f"$regime k=$k J=$meanJ%.3f: mean equal-component share $meanEq%.3f")
    }
  }

  test("minhashPairs with a non-power-of-two signature (48 hashes, 12 bands)") {
    val planted = docs.orderBy("doc_id").limit(20)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("text", concat(col("text"), lit(" documento duplicado")))
    val all = docs.unionByName(planted)
    val found = DedupOps.minhashPairs(all, "doc_id", "text",
        numHashes = 48, bands = 12, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 20).map(i => (i.toLong, i + 1000000L)).toSet
    assert((expected -- found).isEmpty, s"missed: ${expected -- found}")
  }

  /** The regex normalization `shinglesRaw` replaced, kept as its
    * reference: lowercase, collapse `\s+` runs, hash substrings. */
  private def regexShingles(text: String, k: Int): Array[Long] = {
    val t = java.util.regex.Pattern.compile("\\s+")
      .matcher(text.toLowerCase).replaceAll(" ")
    if (t.length < k) Array(Hashing.xxh64(t))
    else Array.tabulate(t.length - k + 1)(i =>
      Hashing.xxh64(t.substring(i, i + k)))
  }

  test("shinglesRaw equals the regex reference bit for bit, under the default and the Turkish locale") {
    val rnd = new scala.util.Random(8)
    val ascii = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "  ", " \t\n ",
      "\r\n", "a", "Z", "I", "i", "Hello", "WORLD", "x9", "-_.", "QUICK fox")
    val other = Seq("\u00A0", "\u0085", "\u2028", "\u00C9", "\u00C7",
      "\u0130", "\u0131", "a\u00E7\u00E3o", "\u00C0\u00C9\u00CE")
    def piece(): String =
      if (rnd.nextInt(5) == 0) other(rnd.nextInt(other.size))
      else ascii(rnd.nextInt(ascii.size))
    val texts = Seq("", " ", "\t\n", "A", "Ab", "  Lead AND trail \t ",
      "I I I", "\u00A0 \u00A0") ++
      Seq.fill(3000)(Seq.fill(rnd.nextInt(14))(piece()).mkString)
    assert(texts.count(_.forall(_ < 0x80)) > 1000)
    def check(locale: String): Unit = for (t <- texts; k <- Seq(1, 3, 5, 9)) {
      val got = DedupOps.shinglesRaw(t, k)
      assert(got.sameElements(regexShingles(t, k)),
        s"$locale k=$k text=${t.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.ROOT)
      check("root")
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      // the reference itself differs under tr: ASCII 'I' lowercases to 'ı'
      assert(!regexShingles("I", 1).sameElements(Array(Hashing.xxh64("i"))))
      check("tr")
    } finally java.util.Locale.setDefault(saved)
    check("default")
  }

  test("LSH candidates equal the shares-a-band-key reference, one 300-member bucket included") {
    import spark.implicits._
    val rnd = new scala.util.Random(300)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(400)}").mkString(" ")
    val base = (0L until 120L).map(i => i -> words(20 + rnd.nextInt(30)))
    // near copies: one word replaced, or a few appended
    val near = base.take(40).map { case (i, t) =>
      val ws = t.split(" ")
      (i + 1000L,
        if (i % 2 == 0) ws.updated(ws.length / 2, "zz").mkString(" ")
        else t + " extra words")
    }
    val same = words(25)
    val bucket = (0L until 300L).map(i => (5000L + i, same))
    val short = Seq(9000L -> "ab", 9001L -> "AB", 9002L -> "a \t b",
      9003L -> "")
    val corpus = base ++ near ++ bucket ++ short
    val text = corpus.toMap
    val df = corpus.toDF("doc_id", "text")
    for ((family, shingler, pairs) <- Seq[(String, String => Array[Long],
        org.apache.spark.sql.DataFrame)](
      ("minhashPairs", DedupOps.shinglesRaw(_, 5),
        DedupOps.minhashPairs(df, "doc_id", "text", threshold = 0.0)),
      ("ngramJaccardPairs", DedupOps.wordNgrams(_, 2),
        DedupOps.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.0)))) {
      // threshold 0 keeps every candidate: the verified pairs ARE them
      val keys = corpus.map { case (id, t) =>
        id -> DedupOps.bandKeys(t, shingler, 64, 16).toSet }
      val want = (for ((a, ka) <- keys; (b, kb) <- keys
        if a < b && ka.exists(kb.contains)) yield (a, b)).toSet
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(want.size >= 300 * 299 / 2 + 40, family)
      assert(got.length === want.size, s"$family: repeated pairs")
      assert(got.map(p => (p._1, p._2)).toSet === want, family)
      got.foreach { case (a, b, j) =>
        val exact = DedupOps.jaccard(shingler(text(a)), shingler(text(b)))
        assert(math.abs(j - exact) <= 5e-7, s"$family ($a, $b)")
      }
    }
  }

  test("DedupIndex refuses a meta without the current signature-scheme stamp") {
    val dir = Files.createTempDirectory("graft-dedup-idx-scheme").toString
    val corpus = docs.orderBy("doc_id").limit(40)
    val batch = corpus.limit(5)
      .withColumn("doc_id", col("doc_id") + lit(900000L))
    assert(DedupIndex.write(corpus, "doc_id", "text", dir).scheme ===
      DedupIndex.SigScheme)
    // an index written before the stamp existed: same meta, no field
    val meta = Paths.get(dir, "index-meta.json")
    val stamped = Files.readString(meta)
    val unstamped = stamped.replace(
      "\"scheme\":\"" + DedupIndex.SigScheme + "\",", "")
    assert(unstamped !== stamped)
    Files.writeString(meta, unstamped)
    assert(DedupIndex.readMeta(dir).get.scheme === null)
    val refusals = Seq[() => Any](
      () => DedupIndex.append(batch, "doc_id", "text", dir),
      () => DedupIndex.probePairs(batch, corpus, "doc_id", "text", dir),
      () => DedupIndex.probeCandidates(batch, "doc_id", "text", dir),
      () => DedupIndex.compact(dir))
    refusals.foreach { call =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("write()"), e.getMessage)
    }
    // nothing was written past the refusal; a rebuild is accepted
    assert(Files.readString(meta) === unstamped)
    DedupIndex.write(corpus, "doc_id", "text", dir)
    assert(DedupIndex.probePairs(batch, corpus, "doc_id", "text", dir,
      threshold = 0.9).count() >= 5)
  }

  test("null-text rows pair with nothing and are not indexed (batch and index paths)") {
    val base = docs.filter(col("doc_id") < 60)
    val planted = base.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("text", concat(col("text"), lit(" documento duplicado")))
    def nulls(from: Long) = spark.range(from, from + 4).select(
      col("id").as("doc_id"), lit(null).cast("string").as("text"))
    val clean = base.unionByName(planted)
    val dirty = nulls(3000000L).unionByName(base).unionByName(planted)
      .unionByName(nulls(3000010L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mh = pairs(DedupOps.minhashPairs(clean, "doc_id", "text",
      threshold = 0.5))
    assert(mh.size >= 10)
    assert(pairs(DedupOps.minhashPairs(dirty, "doc_id", "text",
      threshold = 0.5)) === mh)
    val ng = pairs(DedupOps.ngramJaccardPairs(clean, "doc_id", "text",
      threshold = 0.5))
    assert(ng.size >= 10)
    assert(pairs(DedupOps.ngramJaccardPairs(dirty, "doc_id", "text",
      threshold = 0.5)) === ng)
    // index: write → probePairs → append, null rows on both sides
    val cleanDir = Files.createTempDirectory("graft-idx-null-ref").toString
    val dir = Files.createTempDirectory("graft-idx-null").toString
    DedupIndex.write(base, "doc_id", "text", cleanDir)
    val corpusDirty = base.unionByName(nulls(3000000L))
    val batchDirty = planted.unionByName(nulls(3000010L))
    assert(DedupIndex.write(corpusDirty, "doc_id", "text", dir).docs === 60)
    val want = pairs(DedupIndex.probePairs(planted, base, "doc_id", "text",
      cleanDir, threshold = 0.5))
    assert(want.size >= 10)
    assert(pairs(DedupIndex.probePairs(batchDirty, corpusDirty, "doc_id",
      "text", dir, threshold = 0.5)) === want)
    assert(DedupIndex.append(batchDirty, "doc_id", "text", dir).docs === 70)
  }
}
