package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

import graft.table.StateFiles

/** Persisted 64-bit-sketch index — INCREMENTAL Hamming near-dup
  * detection for a growing corpus, the [[DedupIndex]] analog for the
  * sketch families ([[MultimodalOps]] perceptual image dHash,
  * [[DedupOps.simhashPairs]] SimHash).
  *
  * For images the amortized cost is the DECODE: the batch path
  * ([[MultimodalOps.imageNearDup]]) re-decodes every settled image to
  * recompute its dHash each run — at 10^10 images that pass alone is
  * unrunnable. Here each image is decoded once, ever: the index stores
  * its pigeonhole chunk rows ((chunkKey, id, sim) — `maxDist+1` rows
  * of ~24 bytes per sketch), and a new batch
  *
  *   1. sketches ITS payloads only (O(batch) decodes),
  *   2. probes the index with a BROADCAST join on chunkKey — the
  *      index streams map-side (never shuffled, never sorted; only
  *      its three fixed-width columns are read), with a shuffle
  *      merge-join fallback for pathologically large batches,
  *   3. verifies candidates INLINE — unlike text, the verify needs
  *      nothing but the two sketches already on the joined row:
  *      `bit_count(sim ^ n_sim) <= maxDist`, whole-stage codegen —
  *   4. appends its chunk rows as a new delta, runId-guarded for
  *      streaming replay idempotence ([[StateFiles.DeltaChain]]).
  *
  * Same pigeonhole soundness as [[DedupOps.hammingPairs64]]: with
  * `maxDist+1` disjoint chunks, any pair within `maxDist` shares at
  * least one chunk verbatim, so banding loses nothing and the inline
  * verify removes every false bucket collision. Probe results equal
  * the batch recompute exactly (spec-pinned, pairs and distances).
  * Caller contract: batch ids are new; single-writer. */
object SketchIndex {

  final case class Meta(maxDist: Int, docs: Long, deltas: Seq[String],
      runIds: Seq[String] = Nil) extends StateFiles.ChainMeta[Meta] {
    def withChain(docs: Long, deltas: Seq[String], runIds: Seq[String]) =
      copy(docs = docs, deltas = deltas, runIds = runIds)
  }

  private[graft] val chain = new StateFiles.DeltaChain[Meta](
    "sketch-meta.json", "chunk/", "sketch index", "init()")

  def readMeta(dir: String): Option[Meta] = chain.read(dir)

  /** Initialize an empty index for sketches verified at `maxDist`
    * (drops any existing index — chunk geometry derives from it and
    * must be uniform across deltas). */
  def init(dir: String, maxDist: Int): Meta = {
    // maxDist 0 would mean one 64-bit chunk, whose mask (1<<64)-1
    // degenerates under JVM shift-mod-64 — exact sketch equality is a
    // plain groupBy, not an index problem
    require(maxDist >= 1 && maxDist < 64, "maxDist must be in [1, 64)")
    chain.drop(dir)
    val m = Meta(maxDist, 0L, Nil)
    chain.write(dir, m)
    m
  }

  /** The `maxDist+1` pigeonhole chunk keys of a sketch column, as
    * collision-free LONGs (chunk index in the bits above the chunk
    * value) — same chunking as [[DedupOps.hammingPairs64]], codegen
    * shift/mask arithmetic, no UDF. */
  private def chunkKeys(sim: org.apache.spark.sql.Column,
      maxDist: Int): Seq[org.apache.spark.sql.Column] = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    (0 until chunks).map { c =>
      shiftrightunsigned(sim, c * width)
        .bitwiseAND(lit((1L << width) - 1))
        .bitwiseOR(lit(c.toLong << width))
    }
  }

  /** Append one batch's chunk rows as a new delta dir. `sketches`
    * must carry (idCol, simCol BIGINT); compute sketches map-side
    * from payloads exactly once (e.g.
    * [[MultimodalOps.imageIndexAppend]] fuses the decode in). Written
    * repartitioned + sorted by chunkKey for tight row-group stats.
    * Non-empty `runId` = idempotent streaming replay guard. */
  def append(sketches: DataFrame, idCol: String, simCol: String,
      dir: String, runId: String = ""): Meta = {
    val m = chain.current(dir)
    chain.append(dir, m, runId) { delta =>
      val spark = sketches.sparkSession
      val rows = sketches.select(col(idCol).as("id"),
        col(simCol).cast("long").as("sim"))
      val n = rows.count()
      val parts = math.max(
        math.max(1, spark.sessionState.conf.numShufflePartitions / 4),
        math.ceil(n.toDouble * (m.maxDist + 1) / 8e6).toInt)
      rows
        .select(col("id"), col("sim"),
          explode(array(chunkKeys(col("sim"), m.maxDist): _*))
            .as("chunkKey"))
        .repartition(parts, col("chunkKey"))
        .sortWithinPartitions("chunkKey")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$delta")
      n
    }
  }

  /** Compact the delta chain into ONE chunk dir; runIds and docs
    * survive. */
  def compact(dir: String): Meta = {
    val m = chain.current(dir)
    if (m.deltas.size <= 1) m else rewrite(dir, m, identity)
  }

  /** Remove sketches by id (revised-corpus workflow — a stale chunk
    * row would emit phantom pairs against deleted images on every
    * probe). O(index bytes) rewrite; compacts as a side effect. */
  def deleteIds(ids: DataFrame, dir: String): Meta = {
    val del = ids.toDF("del_id")
    rewrite(dir, chain.current(dir),
      _.join(del, col("id") === col("del_id"), "left_anti"))
  }

  /** [[StateFiles.DeltaChain.rewrite]] of the chunk rows through `f`:
    * every sketch has `maxDist + 1` chunk rows, so the write's own row
    * count (observed in the writing stage) gives the docs. */
  private def rewrite(dir: String, m: Meta,
      f: DataFrame => DataFrame): Meta =
    chain.rewrite(dir, m) { delta =>
      val spark = org.apache.spark.sql.SparkSession.active
      val rows = new Observation()
      f(spark.read.parquet(m.deltas.map(d => s"$dir/$d"): _*))
        .repartition(math.max(1,
          spark.sessionState.conf.numShufflePartitions / 4), col("chunkKey"))
        .sortWithinPartitions("chunkKey")
        .observe(rows, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$delta")
      rows.get("n").asInstanceOf[Long] / (m.maxDist + 1)
    }

  /** Hamming near-dup pairs a NEW batch of sketches introduces:
    * (batch ↔ indexed) cross pairs plus within-batch pairs, verified
    * inline at the index's maxDist — exactly what
    * [[DedupOps.hammingPairs64]] over (corpus ∪ batch) emits among
    * pairs touching ≥1 batch id. Probe first, then [[append]]. */
  def probePairs(batch: DataFrame, idCol: String, simCol: String,
      dir: String, maxBroadcastRows: Long = 4000000L): DataFrame = {
    val m = chain.current(dir)
    val spark = batch.sparkSession
    import spark.implicits._
    val sketches = DedupOps.materialize(batch.select(
      col(idCol).as("id"), col(simCol).cast("long").as("sim")))
    val batchRows = sketches.count() // free: materialized
    val within = DedupOps.hammingPairs64(sketches, "id", "sim", m.maxDist)
    val cross =
      if (m.deltas.isEmpty) within.limit(0)
      else {
        val nb = sketches.select($"id".as("n_id"), $"sim".as("n_sim"),
            explode(array(chunkKeys($"sim", m.maxDist): _*))
              .as("chunkKey"))
        val index = spark.read.parquet(m.deltas.map(d => s"$dir/$d"): _*)
        val joined =
          if (batchRows * (m.maxDist + 1) <= maxBroadcastRows)
            index.join(broadcast(nb), Seq("chunkKey"))
          else index.hint("merge").join(nb.hint("merge"), Seq("chunkKey"))
        joined
          .filter($"id" =!= $"n_id")
          .select(least($"id", $"n_id").as("id_a"),
            greatest($"id", $"n_id").as("id_b"),
            bit_count($"sim".bitwiseXOR($"n_sim")).cast("int")
              .as("hamming"))
          .filter($"hamming" <= m.maxDist)
          .distinct()
      }
    // no global orderBy: determinism of presentation belongs to
    // callers/tests — a library op must not bake a full sort of the
    // pair set into every probe (DedupIndex.probePairs doesn't either)
    cross.unionByName(within).distinct()
  }
}
