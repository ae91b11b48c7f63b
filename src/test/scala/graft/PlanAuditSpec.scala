package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression gates: the scale-critical plan properties
  * (scan pushdown, column pruning, broadcast of small sides, top-k
  * window pushdown, no cartesian blowups) are asserted in CI, not just
  * eyeballed in ExplainMain output — a refactor that silently drops
  * one of them fails here before it costs anything at scale. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def plan(name: String): String =
    formatted(SparkEntry.queries(name)(spark, sf))

  /** Hash-exchange nodes of a plan string, robust to BOTH explain
    * shapes: `toString` puts "Exchange hashpartitioning(...)" on one
    * line; `formatted` (AQE) prints a bare "Exchange (n)" node with
    * its keys on a separate "Arguments: hashpartitioning(...)" line —
    * a filter on the former alone silently matches NOTHING there,
    * turning the count assertions vacuous (found when the
    * duplicateWindows exactly-1 gate read zero). */
  private def hashExchanges(p: String): Seq[String] =
    p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") ||
        l.trim.startsWith("Arguments: hashpartitioning")).toSeq

  test("q06: filters are pushed into the parquet scan; scan reads only needed columns") {
    val p = plan("q06_filtered_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filters in:\n$p")
    // projection pruning: the lineitem scan must not read all 16 cols
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = readSchema.split(",").length
    assert(cols <= 4, s"scan reads $cols columns, expected <=4: $readSchema")
  }

  test("q19: the filtered manifest side is broadcast, not shuffled") {
    val p = plan("q19_manifest_join")
    assert(p.contains("BroadcastHashJoin"), s"manifest join not broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_acctbal)"),
      "manifest filter not pushed to scan")
  }

  test("q36 top-k: ranking window uses WindowGroupLimit pushdown; query side broadcast") {
    val p = plan("q36_knn_top5")
    assert(p.contains("WindowGroupLimit"),
      s"top-k filter not pushed below the window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "small query side not broadcast")
  }

  test("q03 top-n: global order+limit plans as TakeOrderedAndProject, no global sort") {
    val p = plan("q03_top_orders")
    assert(p.contains("TakeOrderedAndProject"), s"top-n not pushed:\n$p")
  }

  test("image near-dup: payload bytes never enter an exchange (only 8-byte sketches shuffle)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // a binary-typed payload column wide enough that shuffling it
    // would be the dominant cost — the plan must project it away
    // before every Exchange (PayloadStage rule applied to dedup)
    val imgs = spark.range(50)
      .select($"id", lit(Array.fill[Byte](4096)(7)).as("bytes"))
    val p = formatted(
      graft.ops.MultimodalOps.imageNearDup(imgs, "id", "bytes"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, s"expected a shuffle in the pair join:\n$p")
    // the formatted plan prints each operator's output schema;
    // no Exchange's input/arguments may mention the binary column
    val badSection = "(?s)\\(\\d+\\) Exchange.*?(?=\\(\\d+\\)|$)".r
      .findAllIn(p).filter(_.contains("bytes"))
    assert(badSection.isEmpty,
      s"payload bytes cross a shuffle boundary:\n$p")
  }

  test("mirror near-dup: payload bytes never enter an exchange (two sketches, one decode)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val imgs = spark.range(50)
      .select($"id", lit(Array.fill[Byte](4096)(7)).as("bytes"))
    val p = formatted(
      graft.ops.MultimodalOps.mirrorNearDup(imgs, "id", "bytes"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, s"expected a shuffle in the pair join:\n$p")
    val badSection = "(?s)\\(\\d+\\) Exchange.*?(?=\\(\\d+\\)|$)".r
      .findAllIn(p).filter(_.contains("bytes"))
    assert(badSection.isEmpty,
      s"payload bytes cross a shuffle boundary:\n$p")
  }

  test("containment pairs: no exchange carries document text — only gram hashes and ids travel") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.range(100).select($"id",
      concat_ws(" ", (0 until 12).map(i =>
        xxhash64($"id" * lit(i + 1)).cast("string")): _*).as("text"))
    val p = formatted(graft.ops.DedupOps.containmentPairs(
      docs, "id", "text"))
    val sections = "(?s)\\(\\d+\\) (?:Broadcast)?Exchange.*?(?=\\(\\d+\\)|$)".r
      .findAllIn(p).toSeq
    assert(sections.nonEmpty, s"expected df/pair exchanges:\n$p")
    val textCol = "(?<![a-zA-Z_])text#".r
    assert(sections.forall(s => textCol.findFirstIn(s).isEmpty),
      "document text crosses a shuffle/broadcast boundary:\n" +
        sections.filter(s => textCol.findFirstIn(s).isDefined)
          .mkString("\n----\n"))
  }

  test("host boilerplate: the distinct-doc counting exchange carries only the 128-bit hash, never the paragraph text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.range(200).select($"id",
      concat_ws("\n\n", (0 until 5).map(i =>
        xxhash64($"id" * lit(i + 1)).cast("string")): _*).as("text"),
      ($"id" % 3).cast("string").as("host"))
    val p = formatted(graft.ops.ParagraphDedup
      .hostBoilerplateOccurrences(docs, "id", "text", "host"))
    // the planner partial-aggregates the distinct BELOW the shuffle
    // and the verdict join back to occurrences is a broadcast of the
    // (host, h, count) side — so NO exchange in this plan, hash or
    // broadcast, may materialize the paragraph text at all
    val sections = "(?s)\\(\\d+\\) (?:Broadcast)?Exchange.*?(?=\\(\\d+\\)|$)".r
      .findAllIn(p).toSeq
    assert(sections.nonEmpty, s"expected counting exchanges:\n$p")
    // bare `para#N` only — n_docs_with_para#N is a count, not text
    val paraCol = "(?<![a-zA-Z_])para#".r
    assert(sections.forall(s => paraCol.findFirstIn(s).isEmpty),
      "paragraph text crosses a shuffle/broadcast boundary:\n" +
        sections.filter(s => paraCol.findFirstIn(s).isDefined)
          .mkString("\n----\n"))
  }

  test("caption filter: no exchange carries caption text — only the 16-byte hash travels") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val imgs = spark.range(500).select(
      concat(lit("img"), $"id").as("image_id"),
      concat(lit("legenda "), ($"id" % 7).cast("string")).as("caption"),
      $"id".cast("string").cast("binary").as("bytes"))
    val p = formatted(graft.ops.MultimodalOps.captionTemplateFilter(imgs))
    val sections = "(?s)\\(\\d+\\) (?:Broadcast)?Exchange.*?(?=\\(\\d+\\)|$)".r
      .findAllIn(p).toSeq
    assert(sections.nonEmpty, s"expected the frequency-count exchange:\n$p")
    val textCols = "(?<![a-zA-Z_])(?:caption|bytes)#".r
    assert(sections.forall(s => textCols.findFirstIn(s).isEmpty),
      "caption text or payload bytes cross a shuffle boundary:\n" +
        sections.filter(s => textCols.findFirstIn(s).isDefined)
          .mkString("\n----\n"))
  }

  test("aspect batches: the rank and count windows share ONE exchange; payload bytes are pruned") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val imgs = spark.range(500).select(
      concat(lit("img"), $"id").as("image_id"),
      (lit(64) + ($"id" % 3) * 32).cast("int").as("w"),
      (lit(64) + ($"id" % 2) * 128).cast("int").as("h"),
      $"id".cast("string").cast("binary").as("bytes"))
    val p = formatted(graft.ops.MultimodalOps.aspectBatches(imgs))
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(shuffles == 1,
      s"bucket packing must reuse one bucket-keyed exchange, got $shuffles:\n$p")
    assert(!"(?<![a-zA-Z_])bytes#".r.findFirstIn(p).isDefined,
      s"payload bytes must be pruned from the packing plan:\n$p")
  }

  test("trustrank: seed membership joins broadcast; no cartesian in the iteration") {
    import spark.implicits._
    val nodes = spark.range(500).toDF("id")
    val edges = graft.ops.GraphOps.syntheticEdges(nodes, 500)
    val seeds = nodes.where($"id" % 23 === 0)
    val p = formatted(graft.ops.GraphOps.trustRankFixedPoint(
      nodes, edges, seeds, 2, 22L))
    assert(p.contains("BroadcastHashJoin"),
      s"seed whitelist must join broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"trust iteration must never go cartesian:\n$p")
  }

  test("pair emission bakes no global sort (ordering belongs to callers)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.range(100).select($"id",
      concat_ws(" ", (0 until 20).map(i =>
        xxhash64($"id" + lit(i)).cast("string")): _*).as("text"))
    val e = spark.range(40).select($"id".as("vec_id"),
      expr("array(cast(id as float), cast(id+1 as float), 1.0f)")
        .as("embedding"))
    for (df <- Seq(
        graft.ops.DedupOps.minhashPairs(docs, "id", "text",
          threshold = 0.5),
        graft.ops.DedupOps.simhashPairs(docs, "id", "text", maxDist = 3),
        graft.ops.DedupOps.embeddingNearDup(e, "vec_id", "embedding"))) {
      val p = formatted(df)
      assert(!p.contains("Exchange rangepartitioning"),
        s"pair op bakes a global sort into its plan:\n$p")
    }
  }

  test("survivor anti-join broadcasts the driver-resolved loser set") {
    import spark.implicits._
    // the bounded-CC path returns a LocalRelation, so the corpus-side
    // anti-join must plan as a broadcast, never a corpus shuffle
    val docs = spark.range(2000).select($"id", ($"id" % 7).as("w"))
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 7L)).toDF("id_a", "id_b")
    val p = formatted(graft.ops.DedupOps.dedupSurvivors(docs, "id", pairs))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"survivor anti-join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"survivor selection shuffles the corpus:\n$p")
  }

  test("robots filter stays broadcast + native codegen (frontier never shuffles for robots)") {
    import spark.implicits._
    val raw = graft.jobs.CrawlJob.harvest(spark,
      graft.queries.CrawlQueries.demoConfig,
      graft.frontier.SeedExpansion.expand(
        graft.queries.CrawlQueries.demoConfig))
    val p = formatted(
      graft.jobs.CrawlJob.buildFrontier(spark, raw).toDF())
    assert(p.contains("BroadcastHashJoin"),
      s"robots rules join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"robots filter shuffles the frontier:\n$p")
    assert(p.contains("robots_permits"),
      s"RFC 9309 precedence filter (native expression) missing:\n$p")
  }

  test("harvest slices the seed list straight into tasks: no exchange, no constant partition floor") {
    val demo = graft.queries.CrawlQueries.demoConfig
    val seeds = graft.frontier.SeedExpansion.expand(demo)
    val raw = graft.jobs.CrawlJob.harvest(spark, demo, seeds)
    val p = formatted(raw.toDF())
    assert(!p.contains("Exchange") && !p.contains("RoundRobinPartitioning"),
      s"harvest shuffles its seed list:\n$p")
    assert(raw.rdd.getNumPartitions <= seeds.size)
    val three = demo.copy(sites = Seq("portal_saude_mg"),
      months = graft.model.MonthSelector.Multiple(Seq(1, 2, 3)))
    val seeds3 = graft.frontier.SeedExpansion.expand(three)
    assert(seeds3.size === 3)
    val parts3 = graft.jobs.CrawlJob.harvest(spark, three, seeds3)
      .rdd.getNumPartitions
    assert(parts3 >= 1 && parts3 <= 3,
      s"a 3-seed harvest runs $parts3 tasks")
  }

  test("aligned sketch probe: pmod exchange + native key sort; the typed groupByKey shape is banned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-cuckoo").toString
    val keys = spark.range(1000).as[Long]
      .map(graft.url.Hashing.mix(_, 7L))
    val meta = graft.seen.CuckooSeen.write(keys, dir, parts = 4,
      expectedKeys = 1000L)
    val p = formatted(graft.seen.CuckooSeen.probeAligned(
      keys.toDF("urlHash"), "urlHash", dir, meta))
    // AppendColumns is the typed-keyer marker (per-row object encode +
    // object sort); the allowed shape is a pmod column exchange plus a
    // native long-key sort (which bounds per-task filter residency to 1)
    assert(!p.contains("AppendColumns"),
      s"aligned probe fell back to the typed groupByKey shape:\n$p")
    assert(p.contains("pmod"), s"probe exchange is not pmod-keyed:\n$p")
  }

  test("pii scrub is map-side: no hash exchange, regexp stays in codegen") {
    val p = plan("q49_pii_scrub")
    // the scrub itself must not shuffle — the only allowed exchange is
    // the caller-requested final orderBy (rangepartitioning)
    assert(hashExchanges(p).isEmpty,
      s"pii scrub shuffles:\n$p")
    // the detection/redaction must be native regexp expressions in one
    // Project (codegen'd), never a UDF
    assert(p.contains("regexp_extract_all") && p.contains("regexp_replace"),
      s"pii ops are not native expressions:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"pii scrub fell back to a UDF:\n$p")
    // column pruning: only doc_id + text reach the scan
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length <= 2,
      s"scan reads more than (doc_id, text): $readSchema")
  }

  test("repetition stats: the per-doc rollup reuses the window's doc_id partitioning") {
    val p = plan("q48_repetition_stats")
    val hashEx = hashExchanges(p)
    // allowed: (doc_id, bg) for the bigram count + (doc_id) for the
    // rank window; the final groupBy(doc_id) must NOT add a third
    assert(hashEx.size <= 2,
      s"expected <=2 hash exchanges, got ${hashEx.size}:\n$p")
  }

  test("sessionization: one user_id exchange feeds window and rollup") {
    val p = plan("q50_event_sessions")
    val hashEx = hashExchanges(p)
    // allowed: user_id for the lag/running-sum windows, plus the
    // (user_id, sess) agg exchange; never a third
    assert(hashEx.size <= 2,
      s"expected <=2 hash exchanges, got ${hashEx.size}:\n$p")
  }

  test("decontamination: benchmark side broadcasts, corpus never sort-merge-joins") {
    val p = plan("q51_decontamination")
    // the eval set is tiny vs a 100 TB corpus: the gram join must be
    // a broadcast hash join, never a corpus-shuffling sort-merge join
    assert(p.contains("BroadcastHashJoin"),
      s"gram join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the gram join:\n$p")
    // n-gram construction is pure array expressions, not a UDF
    assert(!p.contains("ScalaUDF"), s"n-grams fell back to a UDF:\n$p")
    // r6: the per-doc counting runs as a two-level aggregation (pre-agg
    // on (doc_id, gram) first), NOT as three countDistinct's whose
    // multi-distinct planning Expands the exploded gram stream 3×
    // before the dominant shuffle
    assert(!p.contains("Expand"),
      s"multi-distinct Expand is back in the decontamination plan:\n$p")
  }

  test("stratified sample is a map-side filter: no exchange, no UDF, pruned scan") {
    val p = plan("q52_stratified_sample")
    // sampling must not shuffle — only the caller's final orderBy
    assert(hashExchanges(p).isEmpty,
      s"stratified sample shuffles:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"sampling draw fell back to a UDF:\n$p")
    // column pruning: only (doc_id, lang) reach the scan
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length <= 2,
      s"scan reads more than (doc_id, lang): $readSchema")
  }

  test("c4 cleaning is map-side: no exchange beyond the caller's orderBy, no UDF") {
    val p = plan("q54_c4_clean")
    assert(hashExchanges(p).isEmpty,
      s"c4 cleaning shuffles:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"c4 cleaning fell back to a UDF:\n$p")
  }

  test("source quota cap: WindowGroupLimit bounds each group's materialization") {
    val p = plan("q55_source_quota")
    // the rank<=n filter must push into the window sort so no source
    // ever materializes beyond its cap — the 100 TB skew guard
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window:\n$p")
  }

  test("full pipeline: four exchanges total — map stages fuse, rollup reuses the pack partitioning") {
    val p = plan("q56_full_pipeline")
    val hashEx = hashExchanges(p)
    // allowed: md5 dedup window, source cap window, lang pack window,
    // and at most one more for the rollup; the plant/clean/redact/gate
    // stages must all fuse map-side (no exchange of their own)
    assert(hashEx.size <= 4,
      s"expected <=4 hash exchanges, got ${hashEx.size}:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"pipeline fell back to a UDF:\n$p")
    assert(!p.contains("SinglePartition"),
      s"pipeline collapsed to a single partition:\n$p")
  }

  test("shard packing: windows partition by lang — never a global single-partition window") {
    val p = plan("q53_shard_pack")
    assert(!p.contains("SinglePartition"),
      s"shard packing collapsed to a single partition:\n$p")
    val hashEx = hashExchanges(p)
    // one lang exchange feeds both the window and the rollup
    assert(hashEx.size <= 2,
      s"expected <=2 hash exchanges, got ${hashEx.size}:\n$p")
  }

  test("substring dedup: one hash exchange finds duplicates; the merge reuses the doc partitioning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = formatted(graft.ops.SubstringDedup
      .duplicateWindows(docs, "doc_id", "text", 8))
    val wEx = hashExchanges(w)
    // count + keep-first rank share the single window-hash exchange
    assert(wEx.size == 1,
      s"expected exactly 1 hash exchange in duplicateWindows:\n$w")
    // the window TEXT never shuffles — only its 16-byte hash + offsets
    assert(!wEx.head.contains("sub"),
      s"window text entered the exchange:\n${wEx.head}")
    val s = formatted(graft.ops.SubstringDedup
      .duplicateSpans(docs, "doc_id", "text", 8))
    val sEx = hashExchanges(s)
    // allowed: (h) for dup detection + (id) for the interval merge;
    // the final groupBy(id, grp) must reuse the id partitioning
    assert(sEx.size <= 2,
      s"expected <=2 hash exchanges in duplicateSpans:\n$s")
  }

  test("semantic index probe: the index scan is partition-pruned to the batch's cells") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semidx-plan").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").as("cid"),
        org.apache.spark.sql.functions.col("embedding").as("cv"))
    graft.ops.AnnIndex.build(e.limit(400), dir, nlist = 16, iters = 2)
    val p = formatted(graft.ops.AnnIndex.probePairs(
      e.orderBy("cid").limit(5), dir, threshold = 0.9))
    assert(p.contains("PartitionFilters: [cl"),
      s"no partition filter on the semantic probe's index scan:\n$p")
  }

  test("crawl budget: the winner set joins back broadcast, never sort-merge") {
    val p = plan("q62_crawl_budget")
    assert(p.contains("BroadcastHashJoin"),
      s"winner join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"apportionment must never sort-merge-join the host table:\n$p")
  }

  test("inverted index: rank window and dictionary agg share the term exchange") {
    val p = plan("q61_inverted_index")
    val hashEx = hashExchanges(p)
    // allowed: (term, doc_id) for the postings agg + (term) feeding
    // BOTH the rank window and the final dictionary agg; a third hash
    // exchange would mean the agg re-shuffled what the window keyed
    assert(hashEx.size <= 2,
      s"expected <=2 hash exchanges, got ${hashEx.size}:\n$p")
  }

  test("bm25: top-k plans as TakeOrderedAndProject, query-term filter below the postings agg, df side broadcast") {
    val p = plan("q64_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k not a per-partition heap merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian blowup:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"df/corpus-stat sides not broadcast:\n$p")
    // the isin filter sits on a grouping key, so Catalyst must push
    // it below the postings aggregation into the exploded stream —
    // the (term, doc_id) exchange then carries ONLY query-term rows
    val gen = "(?s)\\(\\d+\\) Generate.*?(?=\\(\\d+\\) Exchange)".r
      .findFirstIn(p).getOrElse("")
    assert(gen.contains("Filter"),
      s"query-term filter not pushed below the postings agg:\n$p")
  }

  test("dust rules: witness check is one equi-join, never cartesian") {
    val p = plan("q66_dust_rules")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"DUST witness join degenerated:\n$p")
  }

  test("dust apply: the rule join is an explicit broadcast — canonicalizing never shuffles the frontier") {
    val p = plan("q71_dust_apply")
    assert(p.contains("BroadcastHashJoin"),
      s"per-host strip-set join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"rule application degenerated:\n$p")
  }

  test("k-hop: every BFS level is materialized — the final plan unions level scans, re-deriving nothing") {
    val p = plan("q72_khop")
    // each hop's join+anti-join ran INSIDE the loop against a
    // materialized level; if lineage leaked, the final plan would
    // re-derive the joins per action (and k-fold per level)
    assert(p.contains("Union"), s"reach is not a union of levels:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("InMemoryTableScan")
      || p.contains("TableCacheQueryStage"),
      s"levels not materialized — lineage re-derives every hop:\n$p")
    assert(!p.contains("Join"),
      s"final reach plan re-derives per-hop joins (lineage leak):\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian blowup:\n$p")
  }

  test("phrase: term filters sit below the position joins, top-k is a heap merge") {
    val p = plan("q73_phrase_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k not a per-partition heap merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian blowup:\n$p")
  }

  test("anchor texts: rank filter pushes into the window as WindowGroupLimit") {
    val p = plan("q69_anchor_texts")
    assert(p.contains("WindowGroupLimit"),
      s"per-target anchor list not bounded by the rank limit:\n$p")
  }

  test("frontier policy: trap exclusion broadcasts, apportionment never sort-merges") {
    val p = plan("q70_frontier_policy")
    assert(p.contains("BroadcastHashJoin"),
      s"trap anti-join / alloc join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"policy-loop joins must stay broadcast at host cardinality:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian blowup:\n$p")
  }

  test("hits: per-half-step L1 totals are broadcast scalars, never a driver collect") {
    // 3 iterations × 2 half-steps = 6 L1 normalizations, each a
    // one-row aggregate crossed back in as a BroadcastNestedLoopJoin
    // over a single-row build side (the only NLJ shape allowed here)
    val p = plan("q65_hits")
    assert(p.contains("BroadcastExchange"), s"L1 total not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian blowup:\n$p")
  }

  test("exact verify: the corpus text scan meets the candidate semi-join map-side (broadcast ids, no exchange)") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions._
    import graft.ops.{DedupIndex, DedupOps}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-verify")
    DedupIndex.write(corpus, "doc_id", "text", dir.toString)
    /** The physical plan before execution, exchanges included. */
    def physical(df: DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    def textScan(p: SparkPlan): Boolean = p.collectFirst {
      case s: FileSourceScanExec if s.output.exists(_.name == "text") => s
    }.nonEmpty
    // `none` keeps the whole lineage in the returned plan, so the text
    // scan feeding the verify tail is visible
    spark.conf.set("spark.graft.dedup.materialize", "none")
    try for ((name, df) <- Seq(
        "minhashPairs" -> DedupOps.minhashPairs(docs, "doc_id", "text",
          threshold = 0.5),
        "probePairs" -> DedupIndex.probePairs(batch, corpus, "doc_id",
          "text", dir.toString, threshold = 0.5))) {
      val p = physical(df)
      val semis = p.collect {
        case j: SortMergeJoinExec if j.joinType == LeftSemi => j
        case j: ShuffledHashJoinExec if j.joinType == LeftSemi => j
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
      }
      assert(semis.nonEmpty, s"$name: no semi-join in the plan:\n$p")
      semis.foreach {
        case j: BroadcastHashJoinExec =>
          assert(j.buildSide.toString == "BuildRight" &&
              j.right.output.map(_.name) == Seq("id"),
            s"$name: semi-join build side is not the candidate ids:\n$j")
          assert(textScan(j.left),
            s"$name: the semi-join's stream side is not the text scan:\n$j")
          assert(j.left.collectFirst { case e: Exchange => e }.isEmpty,
            s"$name: the text scan crosses an exchange before the " +
              s"candidate semi-join:\n$j")
        case j => fail(s"$name: candidate semi-join is not a broadcast " +
          s"hash join:\n$j")
      }
    } finally spark.conf.unset("spark.graft.dedup.materialize")
  }

  test("signature pass: the band-key UDF runs once per document, never inside a pushed filter") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.functions._
    import graft.ops.{DedupIndex, DedupOps}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-sig")
    DedupIndex.write(corpus, "doc_id", "text", dir.toString)
    def bandUdf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.exists {
        case u: ScalaUDF => u.udfName.contains("graft_band_keys")
        case _ => false
      }
    // `none` keeps the signature projection and the explode of its
    // stored `bands` column in one plan: an optimizer-inferred
    // generator filter pushed below that projection would call the
    // UDF again from the filter
    spark.conf.set("spark.graft.dedup.materialize", "none")
    try for ((name, df) <- Seq(
        "minhashPairs" -> DedupOps.minhashPairs(docs, "doc_id", "text",
          threshold = 0.5),
        "probeCandidates" -> DedupIndex.probeCandidates(batch, "doc_id",
          "text", dir.toString))) {
      val p = df.queryExecution.optimizedPlan
      assert(p.exists(_.expressions.exists(bandUdf)),
        s"$name: no band-key UDF in the plan:\n$p")
      val filtered = p.collect {
        case f: Filter if bandUdf(f.condition) => f.condition
      }
      assert(filtered.isEmpty,
        s"$name: band-key UDF evaluated inside a filter: $filtered\n$p")
    } finally spark.conf.unset("spark.graft.dedup.materialize")
  }

  test("index scan: the band-key unpack runs once per stored row, in the scan's own generator") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    import org.apache.spark.sql.functions._
    import graft.ops.DedupIndex
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-unpack")
    DedupIndex.write(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      dir.toString)
    def unpacks(e: Expression): Seq[Expression] = e.collect {
      case u: ScalaUDF if u.udfName.contains("graft_band_unpack") => u
    }
    spark.conf.set("spark.graft.dedup.materialize", "none")
    try for ((name, df) <- Seq(
        "readIndex" -> DedupIndex.readIndex(spark, dir.toString),
        "probeCandidates" -> DedupIndex.probeCandidates(
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
          dir.toString))) {
      val p = df.queryExecution.optimizedPlan
      val calls = p.collect { case n => n.expressions.flatMap(unpacks) }.flatten
      assert(calls.size === 1, s"$name: unpack evaluated ${calls.size} times:\n$p")
      val gens = p.collect {
        case g: Generate if unpacks(g.generator).nonEmpty => g
      }
      assert(gens.size === 1 && gens.head.outer,
        s"$name: the unpack is not the input of one outer generator:\n$p")
      assert(p.collect { case f: Filter if unpacks(f.condition).nonEmpty => f }
        .isEmpty, s"$name: unpack evaluated inside a filter:\n$p")
    } finally spark.conf.unset("spark.graft.dedup.materialize")
  }
}
