package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

import graft.table.StateFiles

/** Persisted containment index — INCREMENTAL exact containment
  * dedup ([[DedupOps.containmentPairs]]) for a growing corpus, the
  * fourth member of the index family ([[DedupIndex]] MinHash text,
  * [[SketchIndex]] 64-bit sketches, [[AnnIndex]] IVF vectors).
  *
  * The batch op re-shingles the ENTIRE corpus per run to recompute
  * document frequencies and gram postings — at 10^10 docs that pass
  * is the dominant cost and is pure recomputation for settled
  * documents. Here each document is shingled once, ever: the index
  * persists its kept gram postings ((g, id), 16 bytes/gram) and its
  * pruned size ((id, sz)), and a new batch
  *
  *   1. shingles ITS documents only (O(batch)),
  *   2. drops grams in the FROZEN stop set (anti-join; the stop set
  *      is the df > freqCap grams — tiny by construction, AQE
  *      broadcasts it),
  *   3. pairs batch grams against the postings with one g-keyed join
  *      (batch side broadcast when small, merge-join fallback),
  *      aggregates shared counts, applies the integer
  *      cross-multiplied containment verdict against persisted
  *      corpus sizes + batch sizes,
  *   4. appends its postings + sizes as a new delta, runId-guarded
  *      for streaming replay idempotence ([[StateFiles.DeltaChain]]).
  *
  * FROZEN-universe semantics (the [[AnnIndex]] frozen-quantizer
  * precedent): the stop-gram set is fixed at [[build]] time, so an
  * append cannot retroactively push a gram over the cap and change
  * settled documents' sizes — probes stay exact against the frozen
  * universe, and [[compact]] re-derives document frequencies over
  * everything indexed and RE-FREEZES, restoring exact equivalence
  * with the batch op's unfrozen semantics as of that corpus. Probe
  * results equal the frozen-universe recompute over corpus ∪ batch
  * restricted to batch-touching pairs (oracle-gated two-sided by
  * `containment_index_parity`: DuckDB re-derives the stop set, the
  * postings, and every pair from raw text). Caller contract: batch
  * ids are new; single-writer.
  */
object ContainmentIndex {

  final case class Meta(n: Int, freqCap: Long, pct: Int, minSize: Long,
      docs: Long, deltas: Seq[String], runIds: Seq[String] = Nil,
      stopsVer: Int = 1) extends StateFiles.ChainMeta[Meta] {
    def withChain(docs: Long, deltas: Seq[String], runIds: Seq[String]) =
      copy(docs = docs, deltas = deltas, runIds = runIds)
  }

  private[graft] val chain = new StateFiles.DeltaChain[Meta](
    "cont-meta.json", "", "containment index", "init()/build()",
    d => Seq(s"grams/$d", s"sizes/$d"))

  def readMeta(dir: String): Option[Meta] = chain.read(dir)

  private def gramsOf(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val gramsUdf = udf((t: String) => DedupOps.wordNgrams(t, n))
    docs.select(col(idCol).as("id"),
      explode(gramsUdf(coalesce(col(textCol), lit("")))).as("g"))
  }

  // the stop set is meta-versioned like the deltas: a rewrite writes
  // stops-v{N+1}, commits it via the atomic meta swap, THEN drops the
  // old dir — no crash window ever leaves the index without a
  // readable stop set
  private def stopsDir(ver: Int) = s"stops-v$ver"
  private def stopsPath(dir: String, ver: Int) = s"$dir/${stopsDir(ver)}"
  private def gramsPath(dir: String, d: String) = s"$dir/grams/$d"
  private def sizesPath(dir: String, d: String) = s"$dir/sizes/$d"

  /** One delta's physical layout, shared by append and rewrite so the
    * two write sites can never drift: g-partitioned sorted postings +
    * id-partitioned sizes (each O(corpus) at scale — never a
    * single-task write). Returns the count of docs WITH postings —
    * the sizes rows, counted by their own write (observed above the
    * exchange, in the writing stage). */
  private def writeDelta(kept: DataFrame, dir: String,
      v: String): Long = {
    val spark = kept.sparkSession
    val parts = math.max(1,
      spark.sessionState.conf.numShufflePartitions / 4)
    kept.repartition(parts, col("g")).sortWithinPartitions("g")
      .write.mode(SaveMode.Overwrite).parquet(gramsPath(dir, v))
    val docs = new Observation()
    kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      .repartition(parts, col("id"))
      .observe(docs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(sizesPath(dir, v))
    docs.get("n").asInstanceOf[Long]
  }

  /** Initialize an EMPTY index (streaming-start mode): the stop set
    * starts empty — nothing is frozen until enough corpus exists to
    * judge document frequencies, so the cap engages via the first
    * [[compact]] (which re-freezes over everything appended).
    * Batch-corpus starts should prefer [[build]], which freezes from
    * real df immediately. */
  def init(dir: String, n: Int = 4, freqCap: Long = 64, pct: Int = 90,
      minSize: Long = 4): Meta = {
    require(n >= 1 && freqCap >= 2 && pct >= 1 && pct <= 100 &&
      minSize >= 1)
    chain.drop(dir)
    val spark = org.apache.spark.sql.SparkSession.active
    spark.range(0).select(col("id").as("g"))
      .write.mode(SaveMode.Overwrite).parquet(stopsPath(dir, 1))
    val m = Meta(n, freqCap, pct, minSize, 0L, Nil)
    chain.write(dir, m)
    m
  }

  /** Build the index over an initial corpus: derives document
    * frequencies, freezes the stop-gram set (df > freqCap), and
    * writes the kept postings + pruned sizes as the first delta.
    * Drops any existing index at `dir`. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dir: String, n: Int = 4, freqCap: Long = 64, pct: Int = 90,
      minSize: Long = 4): Meta = {
    require(n >= 1 && freqCap >= 2 && pct >= 1 && pct <= 100 &&
      minSize >= 1)
    chain.drop(dir)
    val grams = DedupOps.materialize(gramsOf(docs, idCol, textCol, n))
    grams.groupBy(col("g")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") > freqCap)
      .select(col("g"))
      .write.mode(SaveMode.Overwrite).parquet(stopsPath(dir, 1))
    val m = Meta(n, freqCap, pct, minSize, 0L, Nil)
    chain.write(dir, m)
    appendGrams(grams, dir, m, runId = "")
  }

  /** Append one batch's postings + sizes as a new delta (batch grams
    * minus the FROZEN stop set). Non-empty `runId` = idempotent
    * streaming replay guard ([[StateFiles.DeltaChain]]). */
  def append(batch: DataFrame, idCol: String, textCol: String,
      dir: String, runId: String = ""): Meta = {
    val m = chain.current(dir)
    if (chain.committed(m, runId)) m
    else appendGrams(
      DedupOps.materialize(gramsOf(batch, idCol, textCol, m.n)),
      dir, m, runId)
  }

  // docs counts documents WITH postings (a doc whose every gram is
  // stopped contributes none) — the same rule rewrite() uses, so a
  // no-op compact never changes the count
  private def appendGrams(grams: DataFrame, dir: String, m: Meta,
      runId: String): Meta =
    chain.append(dir, m, runId) { v =>
      val stops = grams.sparkSession.read
        .parquet(stopsPath(dir, m.stopsVer))
      writeDelta(DedupOps.materialize(
        grams.join(stops, Seq("g"), "left_anti")), dir, v)
    }

  /** Containment pairs a NEW batch introduces: (batch ↔ indexed)
    * cross pairs plus within-batch pairs, under the index's frozen
    * stop set and pruning parameters — exactly the frozen-universe
    * [[DedupOps.containmentPairs]] over (corpus ∪ batch) restricted
    * to batch-touching pairs. Probe first, then [[append]].
    *
    * `dfGuard` (OFF by default, which preserves exact frozen-universe
    * parity): the frozen stop set cannot see grams that became
    * stop-worthy AFTER build — a same-template batch, or a gram whose
    * accumulated df crossed the cap across appends, would fan the
    * pair joins out unboundedly (the explosion freqCap exists to
    * prevent). With the guard ON, grams whose batch df + CURRENT
    * postings df together exceed freqCap are excluded from pairing (sizes
    * stay as persisted, so guarded probes emit a conservative
    * subset); the unfrozen batch op would have stopped those grams
    * anyway. Production streams between compacts — and any
    * `init()`-started stream, whose frozen set is empty — should
    * run guarded; [[compact]] folds the crossings into the real
    * stop set.
    * @return (id_a, id_b, shared, size_a, size_b, cont_x1000). */
  def probePairs(batch: DataFrame, idCol: String, textCol: String,
      dir: String, maxBroadcastRows: Long = 4000000L,
      dfGuard: Boolean = false): DataFrame = {
    val m = chain.current(dir)
    val spark = batch.sparkSession
    import spark.implicits._
    val stops = spark.read.parquet(stopsPath(dir, m.stopsVer))
    val bg = DedupOps.materialize(
      gramsOf(batch, idCol, textCol, m.n)
        .join(stops, Seq("g"), "left_anti"))
    val bSizes = DedupOps.materialize(
      bg.groupBy($"id").agg(count(lit(1)).as("sz"))
        .filter($"sz" >= m.minSize))
    // post-build cap crossings (guard mode): count batch df directly
    // and CURRENT corpus df restricted to the probed grams — the
    // restriction flows into an aggregation, so the counting pass is
    // O(occurrences), never O(occurrences²) like the pair join it
    // protects
    val guarded: Option[DataFrame] =
      if (!dfGuard) None
      else {
        val bDf = bg.groupBy($"g").agg(count(lit(1)).as("bc"))
        val withC =
          if (m.deltas.isEmpty) bDf.withColumn("cc", lit(0L))
          else bDf.join(
            spark.read
              .parquet(m.deltas.map(d => gramsPath(dir, d)): _*)
              .join(bDf.select($"g"), Seq("g"))
              .groupBy($"g").agg(count(lit(1)).as("cc")),
            Seq("g"), "left")
            .select($"g", $"bc", coalesce($"cc", lit(0L)).as("cc"))
        Some(DedupOps.materialize(
          withC.filter($"bc" + $"cc" > m.freqCap).select($"g")))
      }
    val bKept0 = bg.join(bSizes.select($"id"), "id")
    val bKept = guarded.fold(bKept0)(gx =>
      bKept0.join(gx, Seq("g"), "left_anti"))
    def verdict(df: DataFrame): DataFrame = df
      .filter($"shared" * 100 >= least($"size_a", $"size_b") * m.pct)
      .select($"id_a", $"id_b", $"shared", $"size_a", $"size_b",
        expr("(shared * 1000) div least(size_a, size_b)")
          .as("cont_x1000"))
    // grouped pair explode instead of a self-join — one exchange, no
    // sorts (the containmentPairs candidate-stage shape; within-batch
    // gram lists are bounded by the batch itself and the df guard)
    val within = verdict(
      bKept.groupBy($"g")
        .agg(collect_list($"id").as("ids"))
        .filter(size($"ids") >= 2)
        .select(explode($"ids").as("id_a"), $"ids")
        .select($"id_a", explode($"ids").as("id_b"))
        .filter($"id_a" < $"id_b")
        .groupBy($"id_a", $"id_b")
        .agg(count(lit(1)).as("shared"))
        .join(bSizes.select($"id".as("id_a"), $"sz".as("size_a")), "id_a")
        .join(bSizes.select($"id".as("id_b"), $"sz".as("size_b")), "id_b"))
    val cross =
      if (m.deltas.isEmpty) within.limit(0)
      else {
        val postings = spark.read
          .parquet(m.deltas.map(d => gramsPath(dir, d)): _*)
          .select($"g", $"id".as("cid"))
        val cSizes = spark.read
          .parquet(m.deltas.map(d => sizesPath(dir, d)): _*)
          .filter($"sz" >= m.minSize)
        val probe = bKept.select($"g", $"id".as("bid"))
        val bGramRows = bg.count() // free: materialized
        val joined =
          if (bGramRows <= maxBroadcastRows)
            postings.join(broadcast(probe), Seq("g"))
          else postings.hint("merge").join(probe.hint("merge"), Seq("g"))
        verdict(joined
          .groupBy($"cid", $"bid").agg(count(lit(1)).as("shared"))
          .join(cSizes.select($"id".as("cid"), $"sz".as("csz")), "cid")
          .join(bSizes.select($"id".as("bid"), $"sz".as("bsz")), "bid")
          .select(least($"cid", $"bid").as("id_a"),
            greatest($"cid", $"bid").as("id_b"), $"shared",
            when($"cid" < $"bid", $"csz").otherwise($"bsz").as("size_a"),
            when($"cid" < $"bid", $"bsz").otherwise($"csz").as("size_b")))
      }
    // no global orderBy (library contract, as the other indexes)
    cross.unionByName(within)
  }

  /** Fold the delta chain into one and RE-FREEZE the stop set:
    * grams whose accumulated document frequency crossed the cap are
    * ADDED to it, their postings leave the index, and every affected
    * size shrinks accordingly. The stop set is a one-way ratchet —
    * un-stopping a gram would need postings that were never stored,
    * so only a [[build]] from text can shrink it (same one-way shape
    * as AnnIndex's frozen quantizer). After compact, probes equal
    * the unfrozen batch op over the current corpus unless a
    * [[deleteIds]] pulled a stopped gram back under the cap. runIds
    * survive; O(index bytes). */
  def compact(dir: String): Meta = rewrite(dir, identity)

  /** Remove documents by id (revised-corpus workflow — stale
    * postings would emit phantom pairs on every probe). Re-freezes
    * like [[compact]]; O(index bytes). */
  def deleteIds(ids: DataFrame, dir: String): Meta = {
    val del = ids.toDF("del_id")
    rewrite(dir, _.join(del, col("id") === col("del_id"), "left_anti"))
  }

  private def rewrite(dir: String, f: DataFrame => DataFrame): Meta = {
    val m = chain.current(dir)
    val nextVer = m.stopsVer + 1
    chain.rewrite(dir, m, _.copy(stopsVer = nextVer),
        superseded = Seq(stopsDir(m.stopsVer))) { v =>
      val spark = org.apache.spark.sql.SparkSession.active
      // postings hold every kept gram occurrence, so df re-derives from
      // them alone — no text is ever re-shingled here. Stopped grams
      // have no stored rows to re-count, so the frozen stop set persists
      // ACROSS rewrites: un-stopping a gram would need its postings
      // back, which only a rebuild from text can provide (documented
      // one-way ratchet, same shape as AnnIndex's frozen quantizer).
      val rows = DedupOps.materialize(f(spark.read
        .parquet(m.deltas.map(d => gramsPath(dir, d)): _*)))
      val newStops = rows.groupBy(col("g"))
        .agg(count(lit(1)).as("dfreq"))
        .filter(col("dfreq") > m.freqCap).select(col("g"))
      val oldStops = spark.read.parquet(stopsPath(dir, m.stopsVer))
      val stops = DedupOps.materialize(
        oldStops.unionByName(newStops).distinct())
      val docs = writeDelta(DedupOps.materialize(
        rows.join(stops, Seq("g"), "left_anti")), dir, v)
      stops.write.mode(SaveMode.Overwrite)
        .parquet(stopsPath(dir, nextVer))
      docs
    }
  }
}
