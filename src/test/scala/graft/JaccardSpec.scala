package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupOps

/** The exact-Jaccard contract: `DedupOps.jaccard` takes unsorted
  * multisets and returns, bit for bit, the Double a merge walk over the
  * two sorted distinct sets gives — on generated multisets, on raw
  * character shingles, and in the `jaccard` column `minhashPairs`
  * emits. */
class JaccardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** 200 generated documents of 40–80 words (ASCII and accented), and
    * 30 near-copies of the first 30 (a few words replaced, a phrase
    * appended), ids 1000000+. */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(97)
    val vocab = Seq("dados", "saúde", "portal", "relatório", "ação",
      "município", "crawler", "index", "página", "arquivo", "mensal",
      "tabela", "revisão", "coleta", "url", "site", "ano", "mês", "pdf",
      "planilha", "região", "hospital", "leito", "vacina", "boletim") ++
      (0 until 200).map(i => s"w$i")
    val docs = (0L until 200L).map { id =>
      id -> Seq.fill(40 + rnd.nextInt(41))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val copies = docs.take(30).map { case (id, t) =>
      val ws = t.split(" ")
      (0 until 3).foreach(_ => ws(rnd.nextInt(ws.length)) = "alterado")
      (id + 1000000L) -> (ws.mkString(" ") + " cópia revisada")
    }
    docs ++ copies
  }

  /** Merge walk over two sorted, distinct arrays. */
  private def reference(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private def set(a: Array[Long]): Array[Long] = a.distinct.sorted

  private def sameBits(x: Double, y: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(x) ==
      java.lang.Double.doubleToRawLongBits(y)

  test("jaccard over multisets == merge walk over sorted distinct sets") {
    val rnd = new scala.util.Random(4242)
    // a small value range forces duplicates and overlap; the full Long
    // range (and its extremes, 0 included) exercises the table's hash
    def draw(n: Int, range: Int): Array[Long] =
      if (range == 0) Array.fill(n)(rnd.nextLong())
      else Array.fill(n)(rnd.nextInt(range).toLong - range / 2)
    val fixed = Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array.empty[Long], Array(1L, 1L, 2L)),
      (Array(7L), Array(7L)),
      (Array(7L), Array(8L)),
      (Array(0L, 0L, 0L), Array(0L)),
      (Array(Long.MinValue, Long.MaxValue, 0L), Array(Long.MaxValue, -1L)),
      (Array(3L, 1L, 2L, 3L, 1L), Array(1L, 2L, 3L)),
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L, 4L)))
    val generated = for {
      range <- Seq(0, 4, 64, 5000)
      (na, nb) <- Seq((0, 5), (1, 1), (1, 30), (17, 23), (400, 380),
        (2000, 10))
    } yield {
      val a = draw(na, range)
      // identical, shuffled copy with duplicates, and independent draws
      val b = rnd.nextInt(3) match {
        case 0 => a.clone()
        case 1 => rnd.shuffle((a ++ a.take(na / 3)).toSeq).toArray
        case _ => draw(nb, range)
      }
      (a, b)
    }
    for ((a, b) <- fixed ++ generated) {
      val got = DedupOps.jaccard(a, b)
      val want = reference(set(a), set(b))
      assert(sameBits(got, want),
        s"|a|=${a.length} |b|=${b.length}: $got != $want")
      assert(sameBits(DedupOps.jaccard(b, a), want), "not symmetric")
    }
  }

  test("jaccard of raw shingles == merge walk over sorted-distinct shingles (k = 3, 5)") {
    val texts = (corpus.take(40) ++ corpus.takeRight(10)).map(_._2) ++ Seq(
      "", "ab", "abcde", "abcde abcde abcde",
      "ação revisão ção ção ção", "ação revisão ção ção",
      "日本語のテキスト、日本語のテキスト", "日本語のテキスト",
      "the the the the quick quick fox", "the quick fox")
    for (k <- Seq(3, 5); i <- texts.indices; j <- texts.indices
         if i <= j && (i + j) % 3 == 0) {
      val (a, b) = (texts(i), texts(j))
      val got = DedupOps.jaccard(DedupOps.shinglesRaw(a, k),
        DedupOps.shinglesRaw(b, k))
      val want = reference(DedupOps.shingles(a, k), DedupOps.shingles(b, k))
      assert(sameBits(got, want), s"k=$k '$a' vs '$b': $got != $want")
    }
  }

  test("minhashPairs' jaccard column == round(merge-walk reference, 6)") {
    import spark.implicits._
    val text = corpus.toMap
    val pairs = DedupOps.minhashPairs(corpus.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.length >= 30)
    pairs.foreach { r =>
      val (a, b, got) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val ref = reference(DedupOps.shingles(text(a), 5),
        DedupOps.shingles(text(b), 5))
      val want = BigDecimal(ref)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(sameBits(got, want), s"($a, $b): $got != round($ref, 6)")
    }
  }
}
