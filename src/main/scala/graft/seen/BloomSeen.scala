package graft.seen

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders

import graft.url.Hashing

/** Partitioned Bloom-filter URL-seen set (SURVEY §2.5 D1 at scale).
  *
  * The exact path (left-anti join against the seen table) is the
  * small-scale oracle; at 10^10 URLs the frontier probe runs against P
  * independent Bloom partitions, each built by a typed
  * [[Aggregator]] over `urlHash` and merged with bitwise OR
  * (associative + commutative → safe under any Spark partial-agg
  * plan). Partition routing is `pmod(urlHash, P)`, aligned with the
  * frontier's hash bucketing so a probe touches exactly one filter.
  *
  * THE SCALE PATH NEVER TOUCHES THE DRIVER: [[write]] persists each
  * partition's filter as its own file (executors write their own
  * partitions to shared table storage), and [[probe]] routes frontier
  * rows by `pmod(urlHash, P)` so each shuffle group streams against
  * exactly ONE filter, loaded lazily inside the task. At the design
  * point (1.2 GiB/10^9 keys/partition, 10^10-URL seen set) the driver
  * holds only a 3-field meta record and no executor ever sees more
  * than its own partitions' filters. The legacy collect+broadcast
  * path ([[build]]/[[probeColumn]]) is retained for small dimension
  * tables and tests behind a hard total-size cap.
  *
  * Sizing: bits/key ≈ 1.44·log2(1/fpp); at 1% FPP and 10^9 keys per
  * partition group that is ~1.2 GiB per partition — documented in
  * BENCH/BASELINE.md. Double hashing (Kirsch–Mitzenmacher) derives
  * the k probe positions from two splitmix64 draws.
  */
object BloomSeen {

  /** Probe-position generator: positions of `x` in a filter of
    * `numBits` bits using k = `numHashes` double-hashed probes.
    * `numBits` is Long so the 256 MiB (2^31-bit) cap doesn't overflow
    * Int arithmetic. */
  @inline private def positions(x: Long, numBits: Long, numHashes: Int,
      f: Int => Unit): Unit = {
    val h1 = Hashing.mix(x, 0x9E3779B97F4A7C15L)
    val h2 = Hashing.mix(x, 0xC2B2AE3D27D4EB4FL) | 1L
    var i = 0
    while (i < numHashes) {
      f((((h1 + i * h2) >>> 1) % numBits).toInt)
      i += 1
    }
  }

  def insert(filter: Array[Byte], x: Long, numHashes: Int): Unit =
    positions(x, filter.length.toLong * 8, numHashes,
      p => filter(p >>> 3) = (filter(p >>> 3) | (1 << (p & 7)).toByte).toByte)

  def mightContain(filter: Array[Byte], x: Long, numHashes: Int): Boolean = {
    var all = true
    positions(x, filter.length.toLong * 8, numHashes,
      p => all &&= ((filter(p >>> 3) >> (p & 7)) & 1) == 1)
    all
  }

  /** Bits for a target false-positive probability. */
  def optimalNumBits(expectedKeys: Long, fpp: Double): Long =
    math.ceil(-expectedKeys * math.log(fpp) / (math.log(2) * math.log(2))).toLong

  def optimalNumHashes(fpp: Double): Int =
    math.max(1, math.ceil(-math.log(fpp) / math.log(2)).toInt)

  /** Typed aggregate building one partition's filter; buffer is the
    * raw bit array, merge is bitwise OR. */
  final case class BloomAggregator(numBytes: Int, numHashes: Int)
      extends Aggregator[Long, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](numBytes)
    def reduce(buf: Array[Byte], x: Long): Array[Byte] = {
      insert(buf, x, numHashes); buf
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** A built partitioned filter: `parts` filters of `numBytes` each. */
  final case class PartitionedBloom(parts: Int, numHashes: Int,
      filters: Map[Int, Array[Byte]]) {
    def mightContain(urlHash: Long): Boolean = {
      val p = ((urlHash % parts) + parts) % parts
      filters.get(p.toInt) match {
        case Some(f) => BloomSeen.mightContain(f, urlHash, numHashes)
        case None => false
      }
    }
  }

  private def sizing(parts: Int, expectedKeys: Long,
      fpp: Double): (Int, Int) = {
    val perPart = math.max(64L, expectedKeys / parts)
    val numBits = optimalNumBits(perPart, fpp)
    // round bytes up; cap single-partition filters at 256 MiB
    (math.min((numBits + 7) / 8, 256L << 20).toInt, optimalNumHashes(fpp))
  }

  /** The partition-filter DataFrame (part INT, filter BINARY) — built
    * entirely on executors; shared by [[build]] and [[write]]. */
  private def filterRows(hashes: Dataset[Long], parts: Int,
      numBytes: Int, numHashes: Int): org.apache.spark.sql.DataFrame = {
    val spark = hashes.sparkSession
    import spark.implicits._
    val bloomUdaf = udaf(BloomAggregator(numBytes, numHashes),
      Encoders.scalaLong)
    hashes.toDF("h")
      .groupBy(pmod($"h", lit(parts)).cast("int").as("part"))
      .agg(bloomUdaf($"h").as("filter"))
  }

  /** Hard cap on the collect+broadcast path: this path puts parts ×
    * numBytes on the driver AND on every executor — test/demo only. */
  val MaxCollectedBytes: Long = 64L << 20

  /** TEST/DEMO ONLY — build P partition filters and collect them to
    * the driver. Enforces [[MaxCollectedBytes]]; the scale path is
    * [[write]] + [[probe]], which keeps every filter on executors. */
  def build(hashes: Dataset[Long], parts: Int, expectedKeys: Long,
      fpp: Double = 0.01): PartitionedBloom = {
    val (numBytes, k) = sizing(parts, expectedKeys, fpp)
    require(parts.toLong * numBytes <= MaxCollectedBytes,
      s"collect+broadcast bloom of $parts×$numBytes B exceeds the " +
        s"$MaxCollectedBytes B cap; use BloomSeen.write/probe " +
        "(partition-aligned, no driver materialization) at scale")
    val rows = filterRows(hashes, parts, numBytes, k).collect()
    PartitionedBloom(parts, k,
      rows.map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap)
  }

  /** Probe column for a [[build]]-produced (capped) filter map,
    * broadcast once per job. */
  def probeColumn(spark: SparkSession, bloom: PartitionedBloom,
      hashCol: Column): Column = {
    val bc = spark.sparkContext.broadcast(bloom)
    val f = udf((h: Long) => bc.value.mightContain(h))
    f(hashCol)
  }

  // ---- partition-aligned persisted filters (the 10^10-key path) -----

  /** Descriptor of a persisted filter directory (driver-side state is
    * ONLY this record, never the filters). */
  final case class BloomMeta(parts: Int, numHashes: Int, numBytes: Int)

  private def filterFile(dir: String, part: Int) =
    java.nio.file.Paths.get(dir, f"part-$part%05d.bloom")

  /** Build P partition filters and persist each as its own file under
    * `dir` (shared table storage on a real cluster). Executors write
    * their own partitions ([[graft.table.StateFiles.replaceFromTask]]);
    * nothing is collected or broadcast.
    * One filter file per non-empty partition. */
  def write(hashes: Dataset[Long], dir: String, parts: Int,
      expectedKeys: Long, fpp: Double = 0.01): BloomMeta = {
    val (numBytes, k) = sizing(parts, expectedKeys, fpp)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    filterRows(hashes, parts, numBytes, k).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          graft.table.StateFiles.replaceFromTask(
            filterFile(dir, r.getInt(0)), r.getAs[Array[Byte]](1))
        }
    }
    BloomMeta(parts, k, numBytes)
  }

  /** Partition-aligned probe: route rows by `pmod(hash, parts)` so one
    * shuffle group = one filter partition, then stream each group
    * against its single filter, loaded lazily INSIDE the task (a task
    * holds at most one filter at a time; a missing file means the
    * partition is empty → definite miss). Returns (row, mightBeSeen);
    * "false" is exact (Bloom has no false negatives), "true" must be
    * confirmed by the exact join. */
  /** Column-keyed aligned probe (the production shape): appends
    * `maybeSeen` to `df` via [[SketchProbe.probeAligned]] — a codegen
    * `pmod` repartition instead of [[probe]]'s typed groupByKey,
    * which sorts every partition by its lambda key for nothing. */
  def probeAligned(df: org.apache.spark.sql.DataFrame, hashCol: String,
      dir: String, meta: BloomMeta): org.apache.spark.sql.DataFrame =
    SketchProbe.probeAligned(df, hashCol, meta.parts,
      part => filterFile(dir, part),
      (f, h) => mightContain(f, h, meta.numHashes))

  def probe[T](ds: Dataset[T], dir: String, meta: BloomMeta)(
      hashOf: T => Long)(
      implicit enc: org.apache.spark.sql.Encoder[(T, Boolean)])
      : Dataset[(T, Boolean)] = {
    import ds.sparkSession.implicits.newIntEncoder
    val parts = meta.parts
    val k = meta.numHashes
    ds.groupByKey(e => java.lang.Math.floorMod(hashOf(e), parts))
      .flatMapGroups { (part: Int, it: Iterator[T]) =>
        val f = filterFile(dir, part)
        if (!java.nio.file.Files.exists(f)) it.map(e => (e, false))
        else {
          val filter = java.nio.file.Files.readAllBytes(f)
          it.map(e => (e, mightContain(filter, hashOf(e), k)))
        }
      }
  }
}
