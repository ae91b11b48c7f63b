package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.seen.CuckooSeen
import graft.url.Hashing

class CuckooSeenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def keys(n: Int, salt: Long): IndexedSeq[Long] =
    (0 until n).map(i => Hashing.mix(i.toLong, salt))

  /** `hashes` through the persisted filters at `dir`: (hash, maybeSeen). */
  private def probe(hashes: Seq[Long], dir: String,
      meta: CuckooSeen.CuckooMeta): Map[Long, Boolean] = {
    import spark.implicits._
    CuckooSeen.probeAligned(spark.createDataset(hashes).toDF("urlHash"),
        "urlHash", dir, meta)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
  }

  test("no false negatives; FPP far below the bloom's 1%") {
    val n = 50000
    val inserted = keys(n, 1L)
    val filter = new Array[Byte](
      CuckooSeen.bucketsFor(n.toLong) * CuckooSeen.BytesPerBucket)
    inserted.foreach(k => assert(CuckooSeen.insert(filter, k)))
    assert(inserted.forall(CuckooSeen.mightContain(filter, _)),
      "false negative!")
    val probes = keys(n, 999L).filterNot(inserted.toSet)
    val fp = probes.count(CuckooSeen.mightContain(filter, _))
    // expected ~ n * 8/65536 ≈ 6; generous 10x margin still ≪ bloom
    assert(fp <= 60, s"$fp false positives in $n probes")
  }

  test("delete restores non-membership; survivors keep no-false-negative") {
    val n = 20000
    val inserted = keys(n, 3L)
    val filter = new Array[Byte](
      CuckooSeen.bucketsFor(n.toLong) * CuckooSeen.BytesPerBucket)
    inserted.foreach(k => assert(CuckooSeen.insert(filter, k)))
    val (dropped, kept) = inserted.splitAt(n / 2)
    dropped.foreach(k => assert(CuckooSeen.delete(filter, k),
      "delete missed an inserted key"))
    // survivors: exact (cuckoo deletes cannot strip other keys'
    // fingerprints when every deleted key was inserted)
    assert(kept.forall(CuckooSeen.mightContain(filter, _)),
      "delete created a false negative on a surviving key")
    // dropped keys now mostly absent (a residual hit is a plain false
    // positive against the survivors, bounded by the FPP)
    val still = dropped.count(CuckooSeen.mightContain(filter, _))
    assert(still <= 30, s"$still of ${dropped.size} dropped keys still hit")
  }

  test("alt-index is involutive for every fingerprint") {
    val filter = new Array[Byte](1024 * CuckooSeen.BytesPerBucket)
    for (x <- keys(1000, 17L)) {
      val fp = CuckooSeen.fingerprintOf(x)
      val i1 = CuckooSeen.primaryIndex(x, filter)
      val i2 = CuckooSeen.altIndex(i1, fp, filter)
      assert(CuckooSeen.altIndex(i2, fp, filter) === i1)
    }
  }

  test("persisted partitioned set: write/probe round-trip, partition-order invariant membership") {
    import spark.implicits._
    val n = 20000
    val seen = keys(n, 5L)
    val dir = java.nio.file.Files.createTempDirectory("cuckoo").toString
    val meta = CuckooSeen.write(spark.createDataset(seen), dir,
      parts = 8, expectedKeys = n.toLong)
    assert(meta.parts === 8)
    val frontier = seen.take(500) ++ keys(500, 777L)
    val flagged = probe(frontier, dir, meta)
    assert(seen.take(500).forall(flagged(_)), "persisted false negative")
    val fps = keys(500, 777L).filterNot(seen.toSet).count(flagged(_))
    assert(fps <= 5, s"$fps false positives in 500 unseen probes")

    // a build from the same keys in a different partitioning answers
    // identically on membership (layout may differ; semantics may not)
    val dir2 = java.nio.file.Files.createTempDirectory("cuckoo2").toString
    val meta2 = CuckooSeen.write(
      spark.createDataset(seen.reverse).repartition(13), dir2,
      parts = 8, expectedKeys = n.toLong)
    val flagged2 = probe(frontier, dir2, meta2)
    assert(seen.take(500).forall(flagged2(_)))
  }

  test("incremental insertIntoDir matches a fresh full build on membership") {
    import spark.implicits._
    val base = keys(10000, 11L)
    val delta = keys(5000, 13L)
    val dirInc = java.nio.file.Files.createTempDirectory("cuckoo-inc").toString
    val m0 = CuckooSeen.write(spark.createDataset(base), dirInc,
      parts = 4, expectedKeys = 40000L, covered = Seq("seen/v00001"))
    val m1 = CuckooSeen.insertIntoDir(spark.createDataset(delta), dirInc,
      m0, Seq("seen/v00001", "seen/v00002"))
    assert(m1.covered === Seq("seen/v00001", "seen/v00002"))
    assert(CuckooSeen.readMeta(dirInc).get.covered === m1.covered)

    val dirFull = java.nio.file.Files.createTempDirectory("cuckoo-f").toString
    val mf = CuckooSeen.write(spark.createDataset(base ++ delta), dirFull,
      parts = 4, expectedKeys = 40000L)
    val probeSet = (base ++ delta) ++ keys(2000, 999L)
    val inc = probe(probeSet, dirInc, m1)
    val full = probe(probeSet, dirFull, mf)
    assert((base ++ delta).forall(inc(_)), "incremental false negative")
    assert((base ++ delta).forall(full(_)))
  }

  test("deleteFromDir evicts exactly the dropped keys; miss on a never-inserted key fails loudly") {
    import spark.implicits._
    val all = keys(10000, 23L)
    val dir = java.nio.file.Files.createTempDirectory("cuckoo-del").toString
    val m = CuckooSeen.write(spark.createDataset(all), dir,
      parts = 4, expectedKeys = all.size.toLong)
    val dropped = all.take(2000)
    val m2 = CuckooSeen.deleteFromDir(spark.createDataset(dropped), dir, m,
      Seq("seen/v00002"))
    val flagged = probe(all, dir, m2)
    assert(all.drop(2000).forall(flagged(_)),
      "eviction created a false negative on a kept key")
    assert(dropped.count(flagged(_)) <= 10, "eviction left dropped keys")

    // a key that was never inserted must fail the delete, not silently
    // corrupt a colliding key's fingerprint
    val bogus = keys(100, 4242L).filterNot(all.toSet)
    intercept[Exception] {
      CuckooSeen.deleteFromDir(spark.createDataset(bogus), dir, m2,
        Seq("seen/v00003"))
    }
  }

  test("probeAligned (column route, production path) matches a driver-side read") {
    import spark.implicits._
    val seen = keys(20000, 41L)
    val dir = java.nio.file.Files.createTempDirectory("cuckoo-al").toString
    val meta = CuckooSeen.write(spark.createDataset(seen), dir,
      parts = 8, expectedKeys = seen.size.toLong)
    val probes = seen.take(1000) ++ keys(1000, 4321L)
    val aligned = probe(probes, dir, meta)
    // reference: the one filter file of each key's partition, read and
    // tested on the driver (a missing file is an empty partition)
    def reference(h: Long): Boolean = {
      val f = Paths.get(dir,
        f"part-${java.lang.Math.floorMod(h, meta.parts)}%05d.cuckoo")
      Files.exists(f) && CuckooSeen.mightContain(Files.readAllBytes(f), h)
    }
    assert(aligned === probes.map(h => h -> reference(h)).toMap)
  }

  test("overfull build fails instead of dropping inserts") {
    import spark.implicits._
    val many = keys(100000, 31L)
    val dir = java.nio.file.Files.createTempDirectory("cuckoo-of").toString
    intercept[Exception] {
      CuckooSeen.write(spark.createDataset(many), dir,
        parts = 2, expectedKeys = 1024L)
    }
  }
}
