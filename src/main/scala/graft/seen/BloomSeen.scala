package graft.seen

import org.apache.spark.sql.{DataFrame, Dataset, Row}
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
  * NOTHING TOUCHES THE DRIVER: [[write]] persists each partition's
  * filter as its own file (executors write their own partitions to
  * shared table storage), and [[probeAligned]] routes frontier rows by
  * `pmod(urlHash, P)` so each task streams against exactly ONE filter,
  * loaded lazily inside the task. At the design point (1.2 GiB/10^9
  * keys/partition, 10^10-URL seen set) the driver holds only a 3-field
  * meta record and no executor ever sees more than its own
  * partitions' filters.
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

  private def sizing(parts: Int, expectedKeys: Long,
      fpp: Double): (Int, Int) = {
    val perPart = math.max(64L, expectedKeys / parts)
    val numBits = optimalNumBits(perPart, fpp)
    // round bytes up; cap single-partition filters at 256 MiB
    (math.min((numBits + 7) / 8, 256L << 20).toInt, optimalNumHashes(fpp))
  }

  /** Descriptor of a persisted filter directory (driver-side state is
    * ONLY this record, never the filters). */
  final case class BloomMeta(parts: Int, numHashes: Int, numBytes: Int)

  private def filterFile(dir: String, part: Int) =
    java.nio.file.Paths.get(dir, f"part-$part%05d.bloom")

  /** Build P partition filters and persist each as its own file under
    * `dir` (shared table storage on a real cluster): the typed
    * [[BloomAggregator]] builds one filter per `pmod(hash, parts)`
    * group on executors, and each task writes its own partitions
    * ([[graft.table.StateFiles.replaceFromTask]]); nothing is collected
    * or broadcast. One filter file per non-empty partition. */
  def write(hashes: Dataset[Long], dir: String, parts: Int,
      expectedKeys: Long, fpp: Double = 0.01): BloomMeta = {
    val spark = hashes.sparkSession
    import spark.implicits._
    val (numBytes, k) = sizing(parts, expectedKeys, fpp)
    val bloomUdaf = udaf(BloomAggregator(numBytes, k), Encoders.scalaLong)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    hashes.toDF("h")
      .groupBy(pmod($"h", lit(parts)).cast("int").as("part"))
      .agg(bloomUdaf($"h").as("filter"))
      .foreachPartition { (it: Iterator[Row]) =>
        it.foreach { r =>
          graft.table.StateFiles.replaceFromTask(
            filterFile(dir, r.getInt(0)), r.getAs[Array[Byte]](1))
        }
      }
    BloomMeta(parts, k, numBytes)
  }

  /** Partition-aligned probe: appends `maybeSeen` to `df` via
    * [[SketchProbe.probeAligned]] — rows route by `pmod(hash, parts)`
    * and each task streams against one filter at a time, loaded lazily
    * INSIDE the task (a missing file means the partition is empty →
    * definite miss). "false" is exact (Bloom has no false negatives),
    * "true" must be confirmed by the exact join. */
  def probeAligned(df: DataFrame, hashCol: String, dir: String,
      meta: BloomMeta): DataFrame =
    SketchProbe.probeAligned(df, hashCol, meta.parts,
      part => filterFile(dir, part),
      (f, h) => mightContain(f, h, meta.numHashes))
}
