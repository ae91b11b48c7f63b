package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.seen.BloomSeen
import graft.url.Hashing

class BloomSeenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  /** `hashes` through the persisted filters at `dir`: (hash, maybeSeen). */
  private def probe(hashes: Seq[Long], dir: String,
      meta: BloomSeen.BloomMeta): Map[Long, Boolean] = {
    import spark.implicits._
    BloomSeen.probeAligned(spark.createDataset(hashes).toDF("urlHash"),
        "urlHash", dir, meta)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
  }

  /** Driver-side reference for [[BloomSeen.probeAligned]]: read the one
    * filter file of `h`'s partition and test it (a missing file is an
    * empty partition). */
  private def reference(dir: String, meta: BloomSeen.BloomMeta)(
      h: Long): Boolean = {
    val f = Paths.get(dir,
      f"part-${java.lang.Math.floorMod(h, meta.parts)}%05d.bloom")
    Files.exists(f) &&
      BloomSeen.mightContain(Files.readAllBytes(f), h, meta.numHashes)
  }

  private def filterBytes(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bloom"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("no false negatives; FPP within 2x of configured") {
    import spark.implicits._
    val n = 50000
    val inserted = (0 until n).map(i => Hashing.mix(i.toLong, 1L))
    val dir = tmp("bloom-fpp")
    val meta = BloomSeen.write(spark.createDataset(inserted), dir,
      parts = 8, expectedKeys = n.toLong, fpp = 0.01)
    // false-positive rate on disjoint keys
    val probes = (0 until n).map(i => Hashing.mix(i.toLong, 999L))
      .filterNot(inserted.toSet)
    val flags = probe(inserted ++ probes, dir, meta)
    // every inserted key must hit
    assert(inserted.forall(flags), "false negative!")
    val fp = probes.count(flags).toDouble / probes.size
    assert(fp <= 0.02, s"FPP $fp exceeds 2x configured 0.01")
  }

  test("merge is associative/commutative (partition-order invariant)") {
    import spark.implicits._
    val keys = (0 until 20000).map(i => Hashing.mix(i.toLong, 7L))
    val (dirA, dirB) = (tmp("bloom-a"), tmp("bloom-b"))
    val a = BloomSeen.write(
      spark.createDataset(keys).repartition(13), dirA, 4, 20000, 0.01)
    val b = BloomSeen.write(
      spark.createDataset(keys.reverse).repartition(3), dirB, 4, 20000, 0.01)
    assert(a === b)
    val (filesA, filesB) = (filterBytes(dirA), filterBytes(dirB))
    assert(filesA.size === 4)
    assert(filesA === filesB, "a filter file differs under repartitioning")
  }

  test("persisted partition-aligned filters: write on executors, probe one filter per group") {
    import spark.implicits._
    val dir = tmp("bloom")
    val n = 20000
    val seen = (0 until n).map(i => Hashing.mix(i.toLong, 3L))
    val meta = BloomSeen.write(spark.createDataset(seen), dir,
      parts = 8, expectedKeys = n.toLong, fpp = 0.01)
    // one file per partition, each exactly numBytes — nothing held on
    // the driver beyond the 3-field meta
    val files = new java.io.File(dir).listFiles().filter(
      _.getName.endsWith(".bloom"))
    assert(files.length === 8)
    assert(files.forall(_.length === meta.numBytes))
    // probe: seen keys all flagged maybe (no false negatives); unseen
    // mostly definite-new
    val unseen = (0 until n).map(i => Hashing.mix(i.toLong, 999L))
      .filterNot(seen.toSet)
    val flags = probe(seen ++ unseen, dir, meta)
    assert(seen.forall(flags(_)), "false negative in persisted probe")
    val fp = unseen.count(flags(_)).toDouble / unseen.size
    assert(fp <= 0.02, s"FPP $fp exceeds 2x configured 0.01")
    // the flags equal a driver-side read of each key's filter
    // bit-for-bit
    assert((seen ++ unseen).forall(h => flags(h) == reference(dir, meta)(h)))
  }

  test("sizing math matches the published formulas") {
    // 1% FPP → ~9.59 bits/key, 7 hashes
    assert(BloomSeen.optimalNumHashes(0.01) === 7)
    val bits = BloomSeen.optimalNumBits(1000000L, 0.01)
    assert(bits > 9500000L && bits < 9700000L)
  }
}
