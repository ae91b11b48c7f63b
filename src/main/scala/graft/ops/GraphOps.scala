package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over link-shaped edge tables. The
  * connected-components family lives in [[DedupOps]] (dedup cluster
  * resolution); this object holds rank-style iteration — the frontier
  * prioritization signal a crawl scheduler feeds on (PageRank; Page et
  * al. 1999, "The PageRank Citation Ranking").
  */
object GraphOps {

  /** Shared (src, dst, outdeg) edge projection, materialized once —
    * every fixed point here reads the edge table `iters` times, so
    * the outdeg join must not re-derive per iteration. */
  private def withOutdeg(edges: DataFrame): DataFrame = {
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    DedupOps.materialize(
      edges.join(outdeg, "src")
        .select(col("src"), col("dst"), col("outdeg")))
  }

  /** PageRank in FIXED-POINT integer arithmetic: ranks are `scale`-
    * denominated micro-units (BIGINT), per-edge contributions are
    * `floor(pr·d/(100·outdeg))` with damping `d`/100, and the damping
    * base is `floor(scale·(100-d)/(100·n))`. Exact integer summation
    * makes every iteration ORDER-INDEPENDENT — the result is
    * bit-identical under any partitioning, shuffle order, or engine
    * (a float PageRank's `sum(double)` drifts with aggregation order,
    * which breaks cross-engine value oracles and run-to-run
    * reproducibility at scale). Nodes without in-links settle at the
    * damping base; dangling mass (nodes without out-links) is dropped,
    * not redistributed — callers wanting the redistribution variant
    * add a sink edge per dangling node.
    *
    * Scale shape: the per-iteration dataflow is one join of the
    * (src, dst, outdeg) edge table against the rank vector plus one
    * hash aggregation on dst — both shuffle on node id, so a
    * pre-partitioned/bucketed edge table makes every iteration
    * exchange-free on the edge side. The edge table is materialized
    * ONCE up front (it is read `iters` times); ranks are O(nodes),
    * never collected to the driver.
    *
    * `nodes` must carry an `id` column, `edges` must carry `src`/`dst`
    * (self-loops and duplicate edges should be pre-filtered). Returns
    * (id, pr) with `pr` in micro-units of `scale`. */
  def pageRankFixedPoint(nodes: DataFrame, edges: DataFrame, iters: Int,
      nNodes: Long, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && nNodes >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val e = withOutdeg(edges)
    val base = math.floor(
      scale.toDouble * (100 - dampingPct) / (100.0 * nNodes)).toLong
    var pr = nodes.select(col("id"),
      lit(math.floor(scale.toDouble / nNodes).toLong).as("pr"))
    for (it <- 1 to iters) {
      val contrib = e
        .join(pr.select(col("id").as("pid"), col("pr")),
          col("src") === col("pid"))
        .select(col("dst"),
          floor(col("pr") * lit(dampingPct.toDouble) /
            (lit(100.0) * col("outdeg"))).cast("long").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      pr = nodes.select(col("id"))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("inflow"), lit(0L))).as("pr"))
    }
    pr
  }

  /** TrustRank in FIXED-POINT integer arithmetic (Gyöngyi,
    * Garcia-Molina & Pedersen, VLDB 2004, "Combating Web Spam with
    * TrustRank") — the spam-resistance companion to
    * [[pageRankFixedPoint]]: trust mass originates ONLY at a curated
    * seed set and decays outward through links, so link farms with no
    * path from a trusted page settle at exactly 0 and a crawl
    * scheduler can starve them. Identical integer discipline to the
    * PageRank fixed point: trust is `scale`-denominated micro-units,
    * per-edge propagation is `floor(t·d/(100·outdeg))`, and the
    * teleport base — `floor(scale·(100-d)/(100·nSeeds))` — lands on
    * SEED rows only (PageRank's uniform base is what lets spam pages
    * accumulate rank; TrustRank's biased base is the whole point).
    * Exact integer summation keeps every iteration order-independent
    * and the result bit-identical under any partitioning or engine.
    *
    * Scale shape: the same one-join-one-agg iteration as
    * [[pageRankFixedPoint]] (edge table materialized once, ranks
    * O(nodes), nothing collected); the seed membership flag rides a
    * BROADCAST join — trust seeds are a hand-curated whitelist,
    * orders of magnitude smaller than the graph by construction.
    *
    * `seeds` carries the trusted `id`s (deduplicated here; `nSeeds`
    * must equal its distinct count). Returns (id, trust_u). */
  def trustRankFixedPoint(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int, nSeeds: Long, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && nSeeds >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val e = withOutdeg(edges)
    val sd = seeds.select(col("id")).distinct()
      .withColumn("is_seed", lit(true))
    val marked = nodes.select(col("id"))
      .join(broadcast(sd), Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    val base = math.floor(
      scale.toDouble * (100 - dampingPct) / (100.0 * nSeeds)).toLong
    val init = math.floor(scale.toDouble / nSeeds).toLong
    var tr = marked.select(col("id"), col("is_seed"),
      when(col("is_seed"), lit(init)).otherwise(lit(0L)).as("trust_u"))
    for (it <- 1 to iters) {
      val contrib = e
        .join(tr.select(col("id").as("tid"), col("trust_u")),
          col("src") === col("tid"))
        .select(col("dst"),
          floor(col("trust_u") * lit(dampingPct.toDouble) /
            (lit(100.0) * col("outdeg"))).cast("long").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      tr = marked
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"), col("is_seed"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            coalesce(col("inflow"), lit(0L))).as("trust_u"))
    }
    tr.select(col("id"), col("trust_u"))
  }

  /** Spam-mass estimation (Gyöngyi, Berkhin, Garcia-Molina &
    * Pedersen, VLDB 2006, "Link Spam Detection Based on Mass
    * Estimation"): how much of a page's PageRank is NOT explained by
    * trust flowing from the curated seed set. Composes
    * [[pageRankFixedPoint]] and [[trustRankFixedPoint]] at the same
    * damping/scale/iterations — both vectors are integer micro-units
    * on the same scale, so the mass `max(0, pr − trust)` and the
    * verdict `mass·100 >= pr·spamPct` (integer cross-multiplication)
    * are bit-exact on any engine. A link farm with no trusted in-path
    * has trust exactly 0, hence mass == pr and a certain flag; a
    * well-linked trusted page's rank is covered by trust and never
    * flags. Returns `(id, pr, trust_u, mass_u, spam)`.
    *
    * Scale shape: the two fixed points are FUSED — both vectors ride
    * one (id, pr, trust_u) frame, so each iteration is ONE edge join
    * plus ONE dst-keyed aggregation carrying both contribution
    * columns (half the shuffles of running the chains separately),
    * over one shared materialized (src, dst, outdeg) table. Per
    * column the arithmetic is exactly [[pageRankFixedPoint]]'s /
    * [[trustRankFixedPoint]]'s, so the fused result stays
    * bit-identical to composing them. */
  def spamMass(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      iters: Int, nNodes: Long, nSeeds: Long, dampingPct: Int = 85,
      scale: Long = 1000000000000L, spamPct: Int = 90): DataFrame = {
    require(spamPct >= 1 && spamPct <= 100)
    require(iters >= 1 && nNodes >= 1 && nSeeds >= 1 &&
      dampingPct >= 0 && dampingPct <= 100)
    val e = withOutdeg(edges)
    val sd = seeds.select(col("id")).distinct()
      .withColumn("is_seed", lit(true))
    val marked = nodes.select(col("id"))
      .join(broadcast(sd), Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    val prBase = math.floor(
      scale.toDouble * (100 - dampingPct) / (100.0 * nNodes)).toLong
    val trBase = math.floor(
      scale.toDouble * (100 - dampingPct) / (100.0 * nSeeds)).toLong
    val prInit = math.floor(scale.toDouble / nNodes).toLong
    val trInit = math.floor(scale.toDouble / nSeeds).toLong
    var v = marked.select(col("id"), col("is_seed"),
      lit(prInit).as("pr"),
      when(col("is_seed"), lit(trInit)).otherwise(lit(0L)).as("trust_u"))
    for (iter <- 1 to iters) {
      val contrib = e
        .join(v.select(col("id").as("vid"), col("pr"), col("trust_u")),
          col("src") === col("vid"))
        .select(col("dst"),
          floor(col("pr") * lit(dampingPct.toDouble) /
            (lit(100.0) * col("outdeg"))).cast("long").as("cp"),
          floor(col("trust_u") * lit(dampingPct.toDouble) /
            (lit(100.0) * col("outdeg"))).cast("long").as("ct"))
        .groupBy(col("dst"))
        .agg(sum(col("cp")).as("ip"), sum(col("ct")).as("it"))
      v = marked
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"), col("is_seed"),
          (lit(prBase) + coalesce(col("ip"), lit(0L))).as("pr"),
          (when(col("is_seed"), lit(trBase)).otherwise(lit(0L)) +
            coalesce(col("it"), lit(0L))).as("trust_u"))
    }
    v.select(col("id"), col("pr"), col("trust_u"),
      greatest(lit(0L), col("pr") - col("trust_u")).as("mass_u"),
      (greatest(lit(0L), col("pr") - col("trust_u")) * 100 >=
        col("pr") * spamPct).as("spam"))
  }

  /** OPIC — On-line Page Importance Computation (Abiteboul, Preda &
    * Cobéna, WWW 2003) in FIXED-POINT integer arithmetic: the classic
    * crawl-frontier prioritization signal that, unlike PageRank,
    * needs no damping parameter and models importance as circulating
    * CASH. Each synchronous round: every node banks its cash into its
    * history (`hist += cash`), distributes it equally to its
    * out-links (`cash div outdeg`, integer floor), and dangling
    * nodes' cash flows to the VIRTUAL ROOT, which redistributes it
    * uniformly (`root div n`) next round — the OPIC-distinctive
    * treatment that keeps total cash (minus floor dust) circulating
    * instead of leaking. Importance estimate after k rounds is
    * `hist + cash` (the paper's H+C numerator; the shared
    * denominator G is rank-irrelevant). All-integer micro-units make
    * every round order-independent and the full vector bit-identical
    * across engines and partitionings, same discipline as
    * [[pageRankFixedPoint]].
    *
    * Scale shape: per round, ONE edge join + ONE dst-keyed
    * aggregation (identical dataflow to the PageRank iteration) plus
    * one single-row dangling-cash aggregate broadcast back (a scalar,
    * never a vector collect). The shared (src, dst, outdeg) table is
    * materialized once.
    * @return (id, cash_u, hist_u, imp_u = hist_u + cash_u). */
  def opicFixedPoint(nodes: DataFrame, edges: DataFrame, iters: Int,
      nNodes: Long, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && nNodes >= 1 && scale > 0)
    val e = withOutdeg(edges)
    val hasOut = e.select(col("src")).distinct()
      .withColumn("has_out", lit(true))
    val marked = DedupOps.materialize(
      nodes.select(col("id"))
        .join(hasOut, col("id") === col("src"), "left")
        .select(col("id"),
          coalesce(col("has_out"), lit(false)).as("has_out")))
    var v = marked.select(col("id"), col("has_out"),
      lit(scale / nNodes).as("cash"), lit(0L).as("hist"))
    for (it <- 1 to iters) {
      val prev = v
      val inflow = e
        .join(prev.select(col("id").as("vid"), col("cash").as("vc")),
          col("src") === col("vid"))
        .select(col("dst"), expr("vc div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      val root = prev.filter(!col("has_out"))
        .agg(coalesce(sum(col("cash")), lit(0L)).as("root"))
      v = prev
        .join(inflow, prev("id") === inflow("dst"), "left")
        .crossJoin(broadcast(root))
        .select(prev("id"), prev("has_out"),
          (coalesce(col("inflow"), lit(0L)) +
            expr(s"root div ${nNodes}L")).as("cash"),
          (prev("hist") + prev("cash")).as("hist"))
    }
    v.select(col("id"), col("cash").as("cash_u"),
      col("hist").as("hist_u"),
      (col("cash") + col("hist")).as("imp_u"))
  }

  /** HITS hubs-and-authorities in FIXED-POINT integer arithmetic
    * (Kleinberg 1999, "Authoritative Sources in a Hyperlinked
    * Environment") — the second classic frontier-prioritization
    * signal next to [[pageRankFixedPoint]]: authorities are the
    * fetch-worthy pages, hubs the link pages worth re-parsing. Scores
    * are `scale`-denominated micro-units; each half-iteration sums
    * exact integers and then renormalizes by the L1 total with floor
    * division (`a = a'·scale div sum(a')`), so every iteration is
    * order-independent and the result bit-identical across engines
    * and partitionings — same rationale as the PageRank fixed point.
    * Nodes never linked to (from) settle at authority (hub) 0.
    *
    * Overflow headroom at the default `scale` 1e6: a raw authority is
    * ≤ indeg·scale and the normalization multiplies it by `scale` —
    * safe in int64 to indeg ≈ 9e6 within one normalization group; a
    * 10^10-page deployment shards the graph (e.g. by host) and runs
    * per-shard, which also keeps the L1-sum scalar cheap.
    *
    * Scale shape: each half-iteration is one node-keyed join of the
    * edge table against the current score vector plus one hash
    * aggregation on the opposite endpoint — shuffle on node id both
    * times, so bucketed edges make iterations exchange-free on the
    * edge side; the L1 total is a scalar aggregate broadcast back
    * (never a driver collect of the vector). The edge table is
    * materialized once (read `2·iters` times). Returns
    * (id, auth_u, hub_u). */
  def hitsFixedPoint(nodes: DataFrame, edges: DataFrame, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale > 0)
    val e = DedupOps.materialize(edges.select(col("src"), col("dst")))
    val ids = nodes.select(col("id"))
    var hub = ids.select(col("id"), lit(scale).as("h"))
    var auth = ids.select(col("id"), lit(scale).as("a"))
    def renorm(raw: DataFrame, c: String): DataFrame = {
      // L1-normalize in exact integers: x·scale div sum — the sum is
      // a one-row aggregate, cross-joined broadcast, never collected
      val tot = raw.agg(sum(col(c)).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("id"),
          expr(s"CASE WHEN tot > 0 THEN $c * ${scale}L div tot " +
            s"ELSE 0 END").as(c))
    }
    for (it <- 1 to iters) {
      val rawA = ids
        .join(e.join(hub.select(col("id").as("hid"), col("h")),
          col("src") === col("hid"))
          .groupBy(col("dst")).agg(sum(col("h")).as("a")),
          col("id") === col("dst"), "left")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("a"))
      auth = renorm(rawA, "a")
      val rawH = ids
        .join(e.join(auth.select(col("id").as("aid"), col("a")),
          col("dst") === col("aid"))
          .groupBy(col("src")).agg(sum(col("a")).as("h")),
          col("id") === col("src"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("h"))
      hub = renorm(rawH, "h")
    }
    auth.join(hub, "id")
      .select(col("id"), col("a").as("auth_u"), col("h").as("hub_u"))
  }

  /** Anchor-text aggregation — the relevance signal a link graph
    * carries about its TARGETS (how the web describes a page is often
    * a better retrieval key than the page's own text; classic use in
    * web search since Brin & Page 1998 §2.2). `links` carries one row
    * per harvested link: `dst` (target key) and `anchor` (the link's
    * anchor text, pre-normalized by the caller). Returns the top-`k`
    * anchors per target by count — `(dst, anchor, n, rk)` — with the
    * deterministic (count DESC, anchor ASC) tie-break.
    *
    * Scale shape: one (dst, anchor) exchange for the count, then the
    * dst-keyed rank window; the `rk <= k` filter is a rank-limit
    * predicate Spark pushes INTO the window (WindowGroupLimit), so no
    * task ever materializes a popular target's full anchor list
    * beyond k — the same bounded-state argument as the dictionary's
    * capped sample. */
  def topAnchors(links: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(col("dst"))
      .orderBy(col("n").desc, col("anchor"))
    links.groupBy(col("dst"), col("anchor"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(grp))
      .where(col("rk") <= k)
  }

  /** Bounded-depth BFS reachability from a seed set — the crawl's
    * discovery footprint question ("what does depth-k from these seeds
    * reach?") asked of a harvested link graph; reference analog: the
    * reference's crawl IS a k-bounded frontier expansion from its seed
    * portals (its max-depth cap), here re-expressed over an edge table.
    * Returns `(id, depth)` with `depth` the BFS level (= minimum hop
    * count from any seed; seeds are depth 0). Nodes unreachable within
    * `k` hops are absent.
    *
    * Scale shape: frontier-DELTA iteration — each hop joins only the
    * newly-discovered frontier (not the whole reached set) against the
    * edge table, then anti-joins the accumulated reach to keep first
    * discoveries; both are node-id-keyed shuffles, so bucketed edges
    * make the probe side exchange-free. The edge table is materialized
    * once (read `k` times), each frontier is materialized to truncate
    * lineage (the reach union otherwise re-derives every level per
    * action), and nothing is ever collected to the driver. The
    * monotone-frontier argument is the same one Kiveris et al. make
    * for large-star/small-star rounds: work per hop is proportional to
    * NEW discoveries, so the total is O(edges within k hops), not
    * O(k · reached). */
  def kHopReachable(seeds: DataFrame, edges: DataFrame, k: Int)
      : DataFrame = {
    require(k >= 0)
    val e = DedupOps.materialize(edges.select(col("src"), col("dst")))
    var reach = DedupOps.materialize(
      seeds.select(col("id")).distinct()
        .select(col("id"), lit(0).as("depth")))
    var frontier = reach.select(col("id"))
    for (d <- 1 to k) {
      val nxt = frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id")).distinct()
        .join(reach.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(d).as("depth"))
      val level = DedupOps.materialize(nxt)
      reach = reach.unionByName(level)
      frontier = level.select(col("id"))
    }
    reach
  }

  /** Deterministic web-shaped edge list derived from consecutive node
    * ids `[0, n)` by pure integer arithmetic (the sandbox stand-in for
    * a harvested link graph — no external data): 2-4 out-links per
    * node plus a 10-hub backbone, self-loops and duplicates removed.
    * Expressible identically in any SQL engine, so a value oracle can
    * rebuild the exact same edge set. */
  def syntheticEdges(nodes: DataFrame, n: Long,
      idCol: String = "id"): DataFrame = {
    val id = col(idCol)
    val cand = array(
      (id * 7 + 3) % n,
      when(id % 2 === 0, (id * 13 + 5) % n),
      when(id % 5 === 0, (id * 31 + 11) % n),
      id % 10)
    nodes.select(id.as("src"),
      explode(filter(array_distinct(cand),
        d => d.isNotNull && d =!= id)).as("dst"))
  }
}
