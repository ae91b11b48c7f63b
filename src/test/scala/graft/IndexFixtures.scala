package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.ops.{AnnIndex, ContainmentIndex, DedupIndex, DedupOps,
  SketchIndex}
import graft.table.StateFiles.ChainMeta
import graft.url.Hashing

/** The four persisted ops indexes behind one surface, over documents
  * derived from their ids: `text(id)` (24 pseudo-random words),
  * `sketch(id)` and `vector(id)`. The probe batch holds near copies of
  * [[probeSources]] (ids 901…), so each source that is indexed shows up
  * in the probe's pairs. Shared by the lifecycle specs. */
object IndexFixtures {
  private lazy val spark = SparkTestSession.spark

  val corpus: Seq[Long] = 1L to 12L
  val batch1: Seq[Long] = 101L to 106L
  val batch2: Seq[Long] = 201L to 206L
  val probeSources: Seq[Long] = Seq(1L, 101L, 201L)
  private val allIds = corpus ++ batch1 ++ batch2

  def text(id: Long): String = (0 until 24)
    .map(j => s"w${java.lang.Math.floorMod(Hashing.mix(id * 1000 + j), 500L)}")
    .mkString(" ")

  def sketch(id: Long): Long = Hashing.mix(id)

  def vector(id: Long): Seq[Float] =
    (0 until 8).map(j => (java.lang.Math.floorMod(
      Hashing.mix(id * 100 + j), 2001L) - 1000L).toFloat / 1000f)

  private def probeIds = probeSources.indices.map(i => 901L + i)

  private def docs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, text(i))).toDF("id", "text")
  }
  private def probeDocs: DataFrame = {
    import spark.implicits._
    probeIds.zip(probeSources).map { case (p, s) => (p, text(s) + " extra") }
      .toDF("id", "text")
  }
  private def sketches(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, sketch(i))).toDF("id", "sim")
  }
  private def vectors(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, vector(i))).toDF("cid", "cv")
  }
  private def idFrame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  /** Sorted row strings: an order-free, type-free picture of a frame. */
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def parquet(dir: String, rels: Seq[String]): Seq[String] =
    if (rels.isEmpty) Nil
    else rowsOf(spark.read.parquet(rels.map(r => s"$dir/$r"): _*))

  /** One index kind: create over `corpus`, append, compact, deleteIds,
    * and what its readers see. `roots`: its delta root dirs. */
  trait Store {
    def name: String
    def roots: Seq[String]
    def create(dir: String): ChainMeta[_]
    def append(dir: String, ids: Seq[Long], runId: String): ChainMeta[_]
    def compact(dir: String): ChainMeta[_]
    def deleteIds(dir: String, ids: Seq[Long]): ChainMeta[_]
    def meta(dir: String): ChainMeta[_]
    /** Every stored row, in a canonical order. */
    def rows(dir: String): Seq[String]
    /** The probe batch's results (and any other query reader). */
    def probe(dir: String): Seq[String]
    /** The meta as readers resolve it: delta names and other internal
      * version pointers are not part of the view. */
    def metaView(dir: String): Any = {
      val m = meta(dir)
      (m.docs, m.deltas.size, m.committedRunIds)
    }
  }

  val dedup: Store = new Store {
    val name = "DedupIndex"
    val roots = Seq("sig")
    def create(dir: String) = DedupIndex.write(docs(corpus), "id", "text", dir)
    def append(dir: String, ids: Seq[Long], runId: String) =
      DedupIndex.append(docs(ids), "id", "text", dir, runId)
    def compact(dir: String) = DedupIndex.compact(dir)
    def deleteIds(dir: String, ids: Seq[Long]) =
      DedupIndex.deleteIds(idFrame(ids), dir)
    def meta(dir: String) = DedupIndex.readMeta(dir).get
    def rows(dir: String) = rowsOf(DedupIndex.readIndex(spark, dir))
    def probe(dir: String) = DedupOps.withMaterializeScope(rowsOf(
      DedupIndex.probePairs(probeDocs, docs(allIds), "id", "text", dir,
        threshold = 0.5)))
  }

  val sketchIndex: Store = new Store {
    val name = "SketchIndex"
    val roots = Seq("chunk")
    def create(dir: String) = {
      SketchIndex.init(dir, maxDist = 4)
      SketchIndex.append(sketches(corpus), "id", "sim", dir)
    }
    def append(dir: String, ids: Seq[Long], runId: String) =
      SketchIndex.append(sketches(ids), "id", "sim", dir, runId)
    def compact(dir: String) = SketchIndex.compact(dir)
    def deleteIds(dir: String, ids: Seq[Long]) =
      SketchIndex.deleteIds(idFrame(ids), dir)
    def meta(dir: String) = SketchIndex.readMeta(dir).get
    def rows(dir: String) = parquet(dir, meta(dir).deltas)
    def probe(dir: String) = {
      import spark.implicits._
      DedupOps.withMaterializeScope(rowsOf(SketchIndex.probePairs(
        probeIds.zip(probeSources).map { case (p, s) => (p, sketch(s) ^ 1L) }
          .toDF("id", "sim"), "id", "sim", dir)))
    }
  }

  val ann: Store = new Store {
    val name = "AnnIndex"
    val roots = Seq("cells")
    private val centroids =
      Array(vector(1L), vector(2L)).map(_.map(_.toDouble).toArray)
    def create(dir: String) =
      AnnIndex.buildFrozen(vectors(corpus), dir, centroids)
    def append(dir: String, ids: Seq[Long], runId: String) =
      AnnIndex.append(vectors(ids), dir, runId)
    def compact(dir: String) = AnnIndex.compact(dir)
    def deleteIds(dir: String, ids: Seq[Long]) =
      AnnIndex.deleteIds(idFrame(ids), dir)
    def meta(dir: String) = AnnIndex.readMeta(dir).get
    def rows(dir: String) = meta(dir).deltas.flatMap(d => rowsOf(
      spark.read.option("basePath", s"$dir/$d").parquet(s"$dir/$d")
        .select("cid", "cl", "cnorm"))).sorted
    def probe(dir: String) = {
      import spark.implicits._
      val near = probeIds.zip(probeSources)
        .map { case (p, s) => (p, vector(s).map(_ * 1.001f)) }
      DedupOps.withMaterializeScope(
        rowsOf(AnnIndex.probePairs(near.toDF("cid", "cv"), dir, 0.99)) ++
          rowsOf(AnnIndex.topK(near.toDF("qid", "qv"), dir, k = 2,
            nProbe = 2)))
    }
  }

  val containment: Store = new Store {
    val name = "ContainmentIndex"
    val roots = Seq("grams", "sizes")
    def create(dir: String) =
      ContainmentIndex.build(docs(corpus), "id", "text", dir)
    def append(dir: String, ids: Seq[Long], runId: String) =
      ContainmentIndex.append(docs(ids), "id", "text", dir, runId)
    def compact(dir: String) = ContainmentIndex.compact(dir)
    def deleteIds(dir: String, ids: Seq[Long]) =
      ContainmentIndex.deleteIds(idFrame(ids), dir)
    def meta(dir: String) = ContainmentIndex.readMeta(dir).get
    def rows(dir: String) = {
      val m = ContainmentIndex.readMeta(dir).get
      parquet(dir, m.deltas.map(d => s"grams/$d")) ++
        parquet(dir, m.deltas.map(d => s"sizes/$d")) ++
        Seq("stops") ++ parquet(dir, Seq(s"stops-v${m.stopsVer}"))
    }
    def probe(dir: String) = DedupOps.withMaterializeScope(rowsOf(
      ContainmentIndex.probePairs(probeDocs, "id", "text", dir)))
  }

  val stores: Seq[Store] = Seq(dedup, sketchIndex, ann, containment)

  /** Copy a state tree (relative names inside metas keep working). */
  def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val walk = Files.walk(s)
    try walk.forEach { p =>
      val q = Paths.get(dst).resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally walk.close()
  }

  def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString
}
