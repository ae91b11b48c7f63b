package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.frontier.DustDetect
import graft.ops.{GraphOps, InvertedIndex, TextOps}

/** Property pins for the retrieval/graph/pathology operators (BM25,
  * HITS, DUST rules, trap hosts, rarity scoring). Their cross-engine
  * value parity is the DuckDB gates' job (q64-q68); these tests pin
  * the SEMANTIC properties a parity check can't express: ranking
  * monotonicity, length normalization, graph-role separation,
  * rule/non-rule discrimination, and partitioning-independence of the
  * fixed-point integer chains. */
class RetrievalGraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- BM25 ----------------------------------------------------------

  private def bm25Corpus = Seq(
    (1L, "spark spark spark alpha beta gamma"), // tf 3, short
    (2L, "spark alpha beta gamma delta"), // tf 1, short
    (3L, "spark " + Seq.fill(40)("pad").mkString(" ")), // tf 1, long
    (4L, "alpha beta gamma delta epsilon"), // no term
    (5L, "spark alpha beta gamma delta") // tf 1, identical stats to 2
  ).toDF("doc_id", "text")

  test("bm25: tf raises the score, doc length lowers it, non-matches absent") {
    val top = InvertedIndex
      .bm25TopK(bm25Corpus, "doc_id", "text", Seq("spark"), 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(!top.contains(4L), "doc without the term was scored")
    assert(top(1L) > top(2L), "higher tf must outscore lower tf")
    assert(top(3L) < top(2L),
      "same tf in a longer doc must score lower (length normalization)")
    assert(top(2L) == top(5L), "identical (tf, dl) must tie exactly")
  }

  test("bm25: rank is deterministic with ascending-id tie-break and honors k") {
    val rows = InvertedIndex
      .bm25TopK(bm25Corpus, "doc_id", "text", Seq("spark"), 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.length == 3)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    // docs 2 and 5 tie on score; 2 wins the tie by ascending id
    assert(rows.map(_._2).toSeq == Seq(1L, 2L, 5L))
  }

  test("bm25: score is bit-identical under repartitioning") {
    val a = InvertedIndex
      .bm25TopK(bm25Corpus, "doc_id", "text", Seq("spark"), 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = InvertedIndex
      .bm25TopK(bm25Corpus.repartition(7), "doc_id", "text",
        Seq("spark"), 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a == b)
  }

  // ---- HITS ----------------------------------------------------------

  private def hitsGraph = {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    // 1 and 2 are pure hubs; 3 (two in-links) and 4 (one) authorities
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    (nodes, edges)
  }

  test("hits: hubs and authorities separate on a star graph") {
    val (nodes, edges) = hitsGraph
    val r = GraphOps.hitsFixedPoint(nodes, edges, 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    assert(r(3L)._1 > r(4L)._1, "authority(3) must exceed authority(4)")
    assert(r(1L)._1 == 0 && r(2L)._1 == 0, "pure hubs have authority 0")
    assert(r(1L)._2 > r(2L)._2,
      "hub pointing at both authorities must exceed the single-link hub")
    assert(r(3L)._2 == 0 && r(4L)._2 == 0, "pure authorities have hub 0")
    // L1 normalization: each vector sums to scale minus floor slack
    val aSum = r.values.map(_._1).sum
    val hSum = r.values.map(_._2).sum
    assert(aSum > 999990L && aSum <= 1000000L, s"auth L1 sum $aSum")
    assert(hSum > 999990L && hSum <= 1000000L, s"hub L1 sum $hSum")
  }

  test("hits: fixed point is bit-identical under repartitioning") {
    val (nodes, edges) = hitsGraph
    val a = GraphOps.hitsFixedPoint(nodes, edges, 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sorted.toSeq
    val b = GraphOps
      .hitsFixedPoint(nodes.repartition(5), edges.repartition(3), 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sorted.toSeq
    assert(a == b)
  }

  // ---- TrustRank -----------------------------------------------------

  private def trustGraph = {
    // 0 (seed) → 1 → 2 form a trusted chain; 3 → 4, 4 → 3 is a spam
    // island with no path from the seed
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    (nodes, edges, seeds)
  }

  test("trustrank: unseeded spam islands settle at exactly 0; trust decays along the chain") {
    val (nodes, edges, seeds) = trustGraph
    val r = GraphOps.trustRankFixedPoint(nodes, edges, seeds, 3, 1L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(3L) == 0L && r(4L) == 0L,
      "no path from the seed set must mean exactly zero trust")
    assert(r(0L) > r(1L) && r(1L) > r(2L),
      "trust must decay with distance from the seed")
    assert(r(2L) > 0L, "reachable nodes accumulate positive trust")
  }

  test("trustrank: seed-biased base differs from pagerank's uniform base") {
    val (nodes, edges, seeds) = trustGraph
    val pr = GraphOps.pageRankFixedPoint(nodes, edges, 3, 5L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // PageRank gives the spam cycle rank (uniform teleport feeds it)
    assert(pr(3L) > 0L && pr(4L) > 0L)
    val tr = GraphOps.trustRankFixedPoint(nodes, edges, seeds, 3, 1L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(tr(3L) == 0L)
  }

  test("trustrank: fixed point is bit-identical under repartitioning") {
    val (nodes, edges, seeds) = trustGraph
    val a = GraphOps.trustRankFixedPoint(nodes, edges, seeds, 3, 1L)
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val b = GraphOps.trustRankFixedPoint(nodes.repartition(5),
        edges.repartition(3), seeds.repartition(2), 3, 1L)
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(a == b)
  }

  // ---- DUST ----------------------------------------------------------

  test("dust: same-content param deletion mines a rule; different content and unfetched targets do not") {
    val pages = Seq(
      ("http://a.test/p", "c1"),
      ("http://a.test/p?sid=1", "c1"), // alias of /p → rule (a.test, sid)
      ("http://a.test/q", "c2"),
      ("http://a.test/q?x=9", "DIFFERENT"), // content differs → no rule
      ("http://b.test/r?sid=2", "c3"),
      // stripping lang lands on the fetched ?sid=2 (same content) →
      // rule (b.test, lang); stripping sid lands on ?lang=en which was
      // never fetched → no sid rule on b.test
      ("http://b.test/r?sid=2&lang=en", "c3")
    ).toDF("url", "content_hash")
    val rules = DustDetect.paramAliasRules(pages)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(rules == Set(("a.test", "sid", 1L), ("b.test", "lang", 1L)))
  }

  test("dust apply: rule params stripped, other hosts/params/bare urls untouched") {
    val rules = Seq(("a.test", "sid"), ("a.test", "utm"),
      ("b.test", "lang")).toDF("host", "param")
    val urls = Seq(
      "http://a.test/p?sid=1", // whole query stripped → bare base
      "http://a.test/p?sid=1&x=2", // x survives
      "http://a.test/p?utm=z&sid=1", // both rules fire
      "http://a.test/plain", // no query
      "http://b.test/r?sid=2", // sid is not a rule on b.test
      "http://c.test/s?sid=3" // no rules on c.test at all
    ).toDF("url")
    val r = DustDetect.applyParamRules(urls, rules)
      .collect()
      .map(x => x.getAs[String]("url") -> x.getAs[String]("canonical"))
      .toMap
    assert(r("http://a.test/p?sid=1") == "http://a.test/p")
    assert(r("http://a.test/p?sid=1&x=2") == "http://a.test/p?x=2")
    assert(r("http://a.test/p?utm=z&sid=1") == "http://a.test/p")
    assert(r("http://a.test/plain") == "http://a.test/plain")
    assert(r("http://b.test/r?sid=2") == "http://b.test/r?sid=2")
    assert(r("http://c.test/s?sid=3") == "http://c.test/s?sid=3")
  }

  // ---- k-hop BFS -------------------------------------------------------

  test("k-hop reachability: depths are minimum hop counts, bounded at k, seeds at 0") {
    // chain 0→1→2→3→4 plus shortcut 0→3
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val r = GraphOps.kHopReachable(seeds, edges, 2)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    // the shortcut puts 3 at depth 1, so 4 is reachable at depth 2;
    // the 3-hop chain path to 3 never surfaces
    assert(r == Map(0L -> 0, 1L -> 1, 3L -> 1, 2L -> 2, 4L -> 2))
    val r0 = GraphOps.kHopReachable(seeds, edges, 0)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(r0 == Map(0L -> 0))
  }

  test("trap hosts: low content diversity flags, diverse host does not, depth counted") {
    val trap = (0 until 6).map(i =>
      (s"http://trap.test/cal/2024/$i", "same"))
    val ok = (0 until 6).map(i =>
      (s"http://ok.test/page$i", s"c$i"))
    val r = DustDetect
      .trapHosts((trap ++ ok).toDF("url", "content_hash"),
        minUrls = 5L, dupFactor = 4L)
      .collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4)))
      .toMap
    assert(r("trap.test") == ((6L, 1L, 3L, true)))
    assert(r("ok.test") == ((6L, 6L, 1L, false)))
  }

  // ---- anchor text ---------------------------------------------------

  test("top anchors: per-target count ranking with (count DESC, anchor ASC) tie-break, capped at k") {
    val links = Seq(
      (1L, 9L, "home"), (2L, 9L, "home"), (3L, 9L, "start"),
      (4L, 9L, "begin"), (5L, 9L, "alpha"), // 4 distinct anchors on 9
      (6L, 7L, "solo")
    ).toDF("src", "dst", "anchor")
    val r = GraphOps.topAnchors(links, 3)
      .collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getInt(3)))
      .toSet
    // target 9: "home"(2) first, then alphabetical among the 1-counts;
    // "start" (4th) is cut by k=3
    assert(r == Set(
      (9L, "home", 2L, 1), (9L, "alpha", 1L, 2), (9L, "begin", 1L, 3),
      (7L, "solo", 1L, 1)))
  }

  // ---- rarity --------------------------------------------------------

  test("rarity score: hand-computed fixed point on a three-doc corpus") {
    val docs = Seq((1L, "a a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val r = TextOps.rarityScore(docs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    // df: a=3, b=2, c=1; rarity_u: a=1000000, b=1500000, c=3000000
    assert(r(1L) == ((3L, (2L * 1000000L + 1500000L) / 3L)))
    assert(r(2L) == ((2L, 1250000L)))
    assert(r(3L) == ((2L, 2000000L)))
  }

  test("rarity score: rare-token docs outscore common-token docs and survive repartitioning") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val planted = Seq(
      (2000001L, "zzqx1 zzqx2 zzqx3 zzqx4"), // all-unique tokens
      (2000002L, "the a table value row part")) // corpus-common tokens
      .toDF("doc_id", "text")
    val corpus = docs.unionByName(planted)
    val r = TextOps.rarityScore(corpus)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(2000001L) > r(2000002L))
    val r2 = TextOps.rarityScore(corpus.repartition(11))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r == r2, "rarity fixed point must be partitioning-independent")
  }

  test("spam-aware budget: the planted farm is flagged and starved, the budget stays exact") {
    val out = graft.queries.RelationalQueries
      .queries("q80_spam_aware_budget")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(4), r.getLong(5)))).toMap
    // the 100↔101 farm: positive rank (uniform teleport feeds it),
    // zero trust → flagged → starved to exactly 0 fetches
    Seq(100L, 101L).foreach { id =>
      val (pr, tr, spam, alloc) = out(id)
      assert(pr > 0L && tr == 0L && spam && alloc == 0L,
        s"farm host $id: pr=$pr tr=$tr spam=$spam alloc=$alloc")
    }
    // Hamilton exactness survives the exclusion: Σalloc == budget
    assert(out.values.map(_._4).sum == 997L)
    // seed hosts are never flagged and keep a positive allocation
    out.keys.filter(id => id % 7 == 0 && id < 100).foreach { id =>
      assert(!out(id)._3 && out(id)._4 > 0L, s"seed host $id starved")
    }
  }

  // ---- OPIC ----------------------------------------------------------

  test("opic: hand-computed cash/history on a 2-cycle + dangler, root redistributes") {
    // nodes {0,1,2}, edges 0↔1, node 2 dangling; scale 9 → cash₀ = 3.
    // r1: hist {3,3,3}→banked; inflow 0←1:3, 1←0:3; root = 3, div 3 = 1
    //     → cash {4,4,1}
    // r2: hist {7,7,4}; inflow {4,4}; root = 1, div 3 = 0 → cash {4,4,0}
    // r3: hist {11,11,4}; cash {4,4,0}; imp {15,15,4}
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val out = GraphOps.opicFixedPoint(nodes, edges, 3, 3, scale = 9L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) === ((4L, 11L, 15L)))
    assert(out(1L) === ((4L, 11L, 15L)))
    assert(out(2L) === ((0L, 4L, 4L)))
  }

  test("opic: fixed point is bit-identical under repartitioning") {
    val nodes = spark.range(60).select($"id")
    val edges = GraphOps.syntheticEdges(nodes, 60)
    def run(parts: Int): Map[Long, (Long, Long)] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        GraphOps.opicFixedPoint(nodes.repartition(parts), edges, 3, 60)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(run(2) === run(7))
  }
}
