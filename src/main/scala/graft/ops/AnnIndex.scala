package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.StateFiles

/** Persisted IVF ANN index — similarity search over a GROWING
  * embedding corpus without re-clustering or re-scanning it.
  *
  * [[AnnOps.ivfTopK]] trains its coarse quantizer and assigns every
  * candidate per CALL — right for one-shot search, O(corpus) per
  * query batch once the corpus is settled. This index persists both
  * halves of the model:
  *
  *  - `centroids/` — the quantizer (nlist × dim doubles, MODEL state,
  *    trained once by the same deterministic spherical k-means);
  *  - `cells/vNNNNN/cl=N/` — candidate vectors with precomputed norms,
  *    PARTITIONED BY their cell: a probe reads ONLY its nProbe cells'
  *    partition directories (static partition pruning — expected IO
  *    fraction nProbe/nlist of the index, the IVF contract made
  *    literal in the file layout).
  *
  * New vectors [[append]] by assigning against the FROZEN centroids —
  * O(batch), no retrain, the standard IVF practice (FAISS `add`);
  * heavy drift degrades recall, at which point [[build]] retrains (a
  * rebuild, amortized over the table's life like the cuckoo sketch's
  * occupancy rebuilds). Appends are runId-guarded for streaming
  * replay idempotence ([[StateFiles.DeltaChain]]). Scores are
  * bit-identical to scoring the same frozen centroids in one pass —
  * spec-pinned across appends. */
object AnnIndex {

  final case class Meta(dim: Int, nlist: Int, docs: Long,
      deltas: Seq[String], runIds: Seq[String] = Nil)
      extends StateFiles.ChainMeta[Meta] {
    def withChain(docs: Long, deltas: Seq[String], runIds: Seq[String]) =
      copy(docs = docs, deltas = deltas, runIds = runIds)
  }

  private[graft] val chain = new StateFiles.DeltaChain[Meta](
    "ann-meta.json", "cells/", "ANN index", "build()")

  def readMeta(dir: String): Option[Meta] = chain.read(dir)

  /** The frozen quantizer, ordered by cell index. */
  def readCentroids(spark: SparkSession, dir: String)
      : Array[Array[Double]] =
    spark.read.parquet(s"$dir/centroids")
      .orderBy("cl").select("c").collect()
      .map(_.getSeq[Double](0).toArray)

  /** Train the quantizer on `candidates` ((cid, cv ARRAY<FLOAT>)) and
    * index them. Drops any existing index at `dir`. */
  def build(candidates: DataFrame, dir: String, nlist: Int = 16,
      iters: Int = 2): Meta =
    buildFrozen(candidates, dir,
      AnnOps.trainCentroids(candidates, nlist, iters))

  /** [[build]] with an ALREADY-TRAINED quantizer (deterministic, so
    * bit-identical to [[build]] at the same params) — callers that
    * also need the per-call path on the same corpus (the parity gate)
    * train once and share instead of paying the k-means chain twice. */
  def buildFrozen(candidates: DataFrame, dir: String,
      centroids: Array[Array[Double]]): Meta = {
    val spark = candidates.sparkSession
    import spark.implicits._
    chain.drop(dir)
    spark.createDataset(centroids.toIndexedSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) })
      .toDF("cl", "c")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    chain.write(dir, Meta(centroids(0).length, centroids.length, 0L, Nil))
    append(candidates, dir)
  }

  /** Assign one batch against the frozen centroids and add its
    * vectors as a new cell-partitioned delta — O(batch), no retrain.
    * Non-empty `runId` = idempotent streaming replay guard. */
  def append(vectors: DataFrame, dir: String,
      runId: String = ""): Meta =
    chain.append(dir, chain.current(dir), runId) { delta =>
      val centroids = readCentroids(vectors.sparkSession, dir)
      writeCells(vectors.withColumn("cl",
          AnnOps.assignCell(vectors, "cv", centroids))
        .withColumn("cnorm", graft.functions.VecExpressions.vec_norm(
          col("cv"))), dir, delta)
    }

  /** Land one cell-partitioned delta; returns its rows (one per vector),
    * counted by the write itself. */
  private def writeCells(rows: DataFrame, dir: String,
      delta: String): Long = {
    val n = new Observation()
    rows.observe(n, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).partitionBy("cl")
      .parquet(s"$dir/$delta")
    n.get("n").asInstanceOf[Long]
  }

  /** The live cell rows: one scan per delta, each with its own basePath
    * so the cl partition column survives. */
  private def readCells(spark: SparkSession, dir: String,
      m: Meta): DataFrame =
    m.deltas
      .map(d => spark.read.option("basePath", s"$dir/$d")
        .parquet(s"$dir/$d"))
      .reduce(_.unionByName(_))

  /** Compact the cell-partitioned delta chain into ONE dir; the
    * frozen centroids (and thus every assignment) are untouched, so
    * probe results are bit-identical. runIds survive. */
  def compact(dir: String): Meta = {
    val m = chain.current(dir)
    if (m.deltas.size <= 1) m else rewrite(dir, m, identity)
  }

  /** Remove vectors by cid (revised-corpus workflow — a deleted
    * document's embedding must stop surfacing as a neighbor).
    * O(index) rewrite preserving the cell partitioning. */
  def deleteIds(ids: DataFrame, dir: String): Meta = {
    val del = ids.toDF("del_id")
    rewrite(dir, chain.current(dir),
      _.join(del, col("cid") === col("del_id"), "left_anti"))
  }

  private def rewrite(dir: String, m: Meta,
      f: DataFrame => DataFrame): Meta =
    chain.rewrite(dir, m) { delta =>
      writeCells(f(readCells(SparkSession.active, dir, m)), dir, delta)
    }

  /** IVF top-k over the persisted index: queries ((qid, qv)) assign
    * to their nProbe nearest cells against the frozen centroids, and
    * ONLY those cells' partition directories are read (the cell set
    * is collected — ≤ nlist values — so the pruning predicate is
    * static and provable in the plan). Exact cosine + deterministic
    * per-query top-k on the probed cells, same scoring tail as
    * [[AnnOps.ivfTopK]]. */
  def topK(queries: DataFrame, dir: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val m = chain.current(dir)
    val spark = queries.sparkSession
    // an emptied index (deleteIds removed every vector → deltas=Nil)
    // has no neighbors to return: an empty frame in the result shape,
    // like the other two indexes' empty-index guards — the unguarded
    // deltas.reduce below would throw on the empty list
    if (m.deltas.isEmpty)
      return queries.select(col("qid"), col("qid").as("cid"),
        lit(0.0).as("cosine"), lit(0L).as("rk")).limit(0)
    val centroids = readCentroids(spark, dir)
    val qs = DedupOps.materialize(
      AnnOps.probedQueries(queries, centroids, nProbe))
    val cells = qs.select("cl").distinct().collect()
      .map(r => Int.box(r.getInt(0))).toSeq
    // the static isin prunes each delta's scan to the probed cells'
    // directories
    AnnOps.topKByCell(qs,
      readCells(spark, dir, m).filter(col("cl").isin(cells: _*)), k)
  }

  /** Incremental SemDeDup probe — the semantic complement of
    * [[DedupIndex.probePairs]]: near-dup pairs `(id_a, id_b, cl,
    * cosine)` with cosine ≥ threshold and a shared FROZEN-quantizer
    * cell, between the batch and EVERYTHING indexed plus within the
    * batch itself — without re-clustering or re-scoring the settled
    * corpus. The batch's cell set is collected (≤ nlist values), so
    * only those cells' partition directories are ever read (the same
    * static pruning [[topK]] proves in its plan); per-pair scoring is
    * the codegen cosine over the index's PRECOMPUTED norms — a settled
    * vector's norm is computed once at append time, ever.
    *
    * Bit-identical to [[SemDedup.semanticPairsFrozen]] on the same
    * frozen centroids over indexed ∪ batch restricted to
    * batch-touching pairs (cosine symmetry makes pair orientation
    * score-stable) — the parity the `semdedup_index_parity` oracle
    * gate replays. Batch ids must be disjoint from indexed ids, the
    * table contract shared by every index here. Read-only: the caller
    * decides when to [[append]] the batch (runId-guarded). */
  def probePairs(batch: DataFrame, dir: String,
      threshold: Double = 0.95): DataFrame = {
    val m = chain.current(dir)
    val spark = batch.sparkSession
    import spark.implicits._
    val centroids = readCentroids(spark, dir)
    val b = DedupOps.materialize(batch.select(col("cid"), col("cv"))
      .withColumn("cl", AnnOps.assignCell(batch, "cv", centroids))
      .withColumn("cnorm",
        graft.functions.VecExpressions.vec_norm($"cv")))
    def scored(j: DataFrame): DataFrame = j
      .withColumn("cosine",
        round(graft.functions.VecExpressions.vec_cosine(
          $"va", $"vb", $"na", $"nb"), 6))
      .filter($"cosine" >= threshold)
      .select($"id_a", $"id_b", $"cl", $"cosine")
    val within = scored(
      b.select($"cid".as("id_a"), $"cv".as("va"), $"cnorm".as("na"),
          $"cl")
        .join(b.select($"cid".as("id_b"), $"cv".as("vb"),
          $"cnorm".as("nb"), $"cl"), Seq("cl"))
        .filter($"id_a" < $"id_b"))
    if (m.deltas.isEmpty) return within
    val cells = b.select("cl").distinct().collect()
      .map(r => Int.box(r.getInt(0))).toSeq
    val idx = readCells(spark, dir, m).filter(col("cl").isin(cells: _*))
    // cross pairs: orientation by id (cosine is symmetric — dot and
    // norm products commute bit-exactly, so flipping sides never
    // changes the rounded score)
    val cross = scored(
      idx.select($"cid".as("iid"), $"cv".as("va"), $"cnorm".as("na"),
          $"cl")
        .join(b.select($"cid".as("bid"), $"cv".as("vb"),
          $"cnorm".as("nb"), $"cl"), Seq("cl"))
        .withColumn("id_a", least($"iid", $"bid"))
        .withColumn("id_b", greatest($"iid", $"bid")))
    cross.unionByName(within)
  }
}
