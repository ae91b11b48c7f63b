package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{DedupIndex, DedupOps}

/** The persisted signature index must equal the batch recompute
  * exactly: probe(batch) over an index of the corpus-so-far emits the
  * same (id_a, id_b, jaccard) rows minhashPairs(corpus ∪ batch) emits
  * among pairs touching ≥1 batch id — across multiple sequential
  * appends, with the broadcast probe plan, and at the same threshold
  * semantics. */
class DedupIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("packed band keys round-trip: random keys, 0 and 2^48 - 1, keys straddling a long, layouts ending mid-long") {
    val rnd = new scala.util.Random(48)
    val max = (1L << 48) - 1
    for (bands <- Seq(1, 3, 5, 16, 20); trial <- 0 until 50) {
      val keys = Array.fill(bands)(trial match {
        case 0 => 0L
        case 1 => max
        case _ => rnd.nextLong() & max
      })
      if (trial > 1) keys(rnd.nextInt(bands)) = if (rnd.nextBoolean()) 0L else max
      val packed = DedupIndex.pack(keys)
      assert(packed.length === (bands * 48 + 63) / 64, s"bands=$bands")
      assert(DedupIndex.unpack(packed, bands).toSeq === keys.toSeq,
        s"bands=$bands trial=$trial")
    }
    assert(DedupIndex.pack(Array.fill(16)(1L)).length === 12)
  }

  test("incremental probe == batch recompute over two sequential appends") {
    val dir = Files.createTempDirectory("graft-dedup-idx").toString
    // corpus = ids % 3 != 0; batch1 = % 3 == 0 originals; batch2 =
    // perturbed copies of early docs (guaranteed cross-batch dups)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch1 = docs.filter(col("doc_id") % 3 === 0)
    val batch2 = docs.orderBy("doc_id").limit(15)
      .withColumn("doc_id", col("doc_id") + lit(2000000L))
      .withColumn("text", concat(col("text"), lit(" anexo atualizado")))

    val m0 = DedupIndex.write(corpus, "doc_id", "text", dir,
      kind = "char", k = 5, numHashes = 64, bands = 16)
    assert(m0.deltas.size === 1 && m0.docs === corpus.count())

    // batch 1: probe, then append
    val inc1 = pairSet(DedupIndex.probePairs(batch1, corpus,
      "doc_id", "text", dir, threshold = 0.5))
    val full1 = DedupOps.minhashPairs(corpus.unionByName(batch1),
      "doc_id", "text", threshold = 0.5)
    val b1Ids = batch1.select("doc_id").collect().map(_.getLong(0)).toSet
    val want1 = pairSet(full1).filter(p =>
      b1Ids.contains(p._1) || b1Ids.contains(p._2))
    assert(inc1 === want1,
      s"batch1 probe != recompute: only_inc=${inc1 -- want1} " +
        s"only_full=${want1 -- inc1}")
    val m1 = DedupIndex.append(batch1, "doc_id", "text", dir)
    assert(m1.deltas.size === 2)

    // batch 2 (cross-batch dups): the probe must see corpus AND batch1
    // through the appended deltas
    val corpusSoFar = corpus.unionByName(batch1)
    val inc2 = pairSet(DedupIndex.probePairs(batch2, corpusSoFar,
      "doc_id", "text", dir, threshold = 0.5))
    val full2 = DedupOps.minhashPairs(corpusSoFar.unionByName(batch2),
      "doc_id", "text", threshold = 0.5)
    val b2Ids = batch2.select("doc_id").collect().map(_.getLong(0)).toSet
    val want2 = pairSet(full2).filter(p =>
      b2Ids.contains(p._1) || b2Ids.contains(p._2))
    assert(inc2 === want2,
      s"batch2 probe != recompute: only_inc=${inc2 -- want2} " +
        s"only_full=${want2 -- inc2}")
    // the planted perturbed copies were actually found (non-vacuous)
    assert(inc2.nonEmpty)
    assert(inc2.exists(p => p._2 >= 2000000L))

    // meta roundtrip
    val m2 = DedupIndex.append(batch2, "doc_id", "text", dir)
    assert(DedupIndex.readMeta(dir).get === m2)
    assert(m2.docs === corpus.count() + batch1.count() + batch2.count())
  }

  test("merge fallback (batch > broadcast cap): bloom-pruned SMJ, pairs identical to the broadcast path") {
    val dir = Files.createTempDirectory("graft-dedup-idx-merge").toString
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.orderBy("doc_id").limit(15)
        .withColumn("doc_id", col("doc_id") + lit(2000000L))
        .withColumn("text", concat(col("text"), lit(" anexo"))))
    DedupIndex.write(corpus, "doc_id", "text", dir)
    // maxBroadcastRows=1 forces the pathological-batch path on the
    // same data the broadcast path answers — results must not depend
    // on which plan the size decision picks
    val mg = DedupIndex.probeCandidates(batch, "doc_id", "text", dir,
      maxBroadcastRows = 1L)
    val plan = mg.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"fallback did not plan a shuffle merge join:\n$plan")
    assert(plan.contains("graft_bloom_prune"),
      s"no explicit bloom prune guarding the index scan:\n$plan")
    val bc = DedupIndex.probeCandidates(batch, "doc_id", "text", dir)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids(mg) === ids(bc),
      "fallback candidates differ from broadcast-path candidates")
    val pMerge = pairSet(DedupIndex.probePairs(batch, corpus,
      "doc_id", "text", dir, threshold = 0.5, maxBroadcastRows = 1L))
    val pBcast = pairSet(DedupIndex.probePairs(batch, corpus,
      "doc_id", "text", dir, threshold = 0.5))
    assert(pMerge === pBcast && pMerge.nonEmpty)
    assert(pMerge.exists(p => p._2 >= 2000000L), "planted dups not found")
  }

  test("small-batch probe broadcasts the batch side; index side has no exchange") {
    val dir = Files.createTempDirectory("graft-dedup-idx-plan").toString
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0).limit(50)
    DedupIndex.write(corpus, "doc_id", "text", dir)
    val cand = DedupIndex.probeCandidates(batch, "doc_id", "text", dir)
    val plan = cand.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      s"probe did not broadcast the batch side:\n$plan")
    // the index parquet scan is in the plan (the index is read, not
    // recomputed) and no Exchange hash-partitions it on bandHash —
    // the only hash exchange allowed is the distinct() above the
    // union, which keys on (id_a, id_b), never on the index rows
    assert(plan.contains("Scan parquet"),
      s"expected the index parquet scan in the probe plan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(bandHash"),
      s"index shuffled on bandHash before the probe join:\n$plan")
    // probe results still correct on this split
    assert(DedupIndex.probePairs(batch, corpus, "doc_id", "text", dir)
      .columns.toSeq === Seq("id_a", "id_b", "jaccard"))
  }

  test("streaming dedupIndexBatch: cross-batch pairs match recompute; replays never re-append") {
    val root = Files.createTempDirectory("graft-idx-stream").toString
    val (idx, dd, pp) = (s"$root/idx", s"$root/docs", s"$root/pairs")
    DedupIndex.init(idx)
    val fn = graft.streaming.StreamingCrawl.dedupIndexBatch(
      idx, dd, pp, "cur", "doc_id", "text", threshold = 0.5) _
    val b0 = docs.limit(30)
    val b1 = docs.orderBy("doc_id").limit(10)
      .withColumn("doc_id", col("doc_id") + lit(5000000L))
      .withColumn("text", concat(col("text"), lit(" revisão")))
    fn(b0.toDF(), 0L)
    fn(b1.toDF(), 1L)
    // batch 1's emitted pairs == full recompute restricted to b1 ids
    val got = pairSet(spark.read.parquet(s"$pp/batch-1")
      .select("id_a", "id_b", "jaccard"))
    val full = DedupOps.minhashPairs(b0.unionByName(b1),
      "doc_id", "text", threshold = 0.5)
    val b1Ids = b1.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = pairSet(full).filter(p =>
      b1Ids.contains(p._1) || b1Ids.contains(p._2))
    assert(got === want)
    assert(got.nonEmpty, "planted cross-batch dups must be found")
    // replay of batch 1 (foreachBatch at-least-once): the index must
    // not gain a delta or a doubled runId, pairs stay identical
    val before = DedupIndex.readMeta(idx).get
    fn(b1.toDF(), 1L)
    assert(DedupIndex.readMeta(idx).get === before)
    assert(pairSet(spark.read.parquet(s"$pp/batch-1")
      .select("id_a", "id_b", "jaccard")) === got)

    // end-to-end through a real streaming query
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root2 = Files.createTempDirectory("graft-idx-stream2").toString
    DedupIndex.init(s"$root2/idx")
    val in = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, String)], spark)
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(graft.streaming.StreamingCrawl.dedupIndexBatch(
        s"$root2/idx", s"$root2/docs", s"$root2/pairs", "s",
        "doc_id", "text", threshold = 0.5) _)
      .option("checkpointLocation", s"$root2/ckpt")
      .start()
    try {
      val base = docs.limit(8).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      in.addData(base.toIndexedSeq)
      q.processAllAvailable()
      in.addData(base.take(3).map { case (i, t) =>
        (i + 7000000L, t + " anexo") }.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = pairSet(spark.read.parquet(s"$root2/pairs/batch-1")
      .select("id_a", "id_b", "jaccard"))
    assert(streamed.size >= 3, s"expected the 3 planted pairs: $streamed")
    assert(streamed.forall(p => p._2 >= 7000000L))
    assert(DedupIndex.readMeta(s"$root2/idx").get.deltas.size === 2)
  }

  test("streaming compactEvery: 100 micro-batches stay bounded; union of emitted pairs == batch recompute; no pinned blocks leak") {
    val root = Files.createTempDirectory("graft-idx-compact").toString
    val (idx, dd, pp) = (s"$root/idx", s"$root/docs", s"$root/pairs")
    DedupIndex.init(idx)
    val fed = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val base = docs.orderBy("doc_id").limit(200).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, String)], spark)
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(graft.streaming.StreamingCrawl.dedupIndexBatch(
        idx, dd, pp, "c", "doc_id", "text", threshold = 0.5,
        compactEvery = 8) _)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      (0 until 100).foreach { i =>
        // 2 docs per batch; every 10th batch (from 49 on) plants a
        // perturbed copy of a doc fed ~40 batches earlier — by then
        // the original's text lives only in a merged-v* dir and its
        // signatures only in a compacted delta
        val a = base(2 * i)
        val b =
          if (i % 10 == 9 && i >= 40)
            (base(2 * (i - 40))._1 + 9000000L,
              base(2 * (i - 40))._2 + " anexo")
          else base(2 * i + 1)
        fed += a += b
        in.addData(a, b)
        q.processAllAvailable()
      }
    } finally q.stop()

    // BOUNDED: deltas and live text dirs never exceed compactEvery
    val m = DedupIndex.readMeta(idx).get
    assert(m.deltas.size <= 8,
      s"signature deltas unbounded: ${m.deltas.size}")
    val dirsOnDisk = {
      val ls = Files.list(java.nio.file.Paths.get(dd))
      try {
        val b = Seq.newBuilder[String]
        ls.forEach(p => if (Files.isDirectory(p))
          b += p.getFileName.toString)
        b.result()
      } finally ls.close()
    }
    assert(dirsOnDisk.size <= 8,
      s"text dirs unbounded: ${dirsOnDisk.sorted}")
    assert(dirsOnDisk.exists(_.startsWith("merged-v")),
      s"no fold ever ran: ${dirsOnDisk.sorted}")
    assert(m.docs === 200, "every fed doc indexed exactly once")

    // IDENTICAL PAIRS: each pair (a,b) with batch(a) <= batch(b) is
    // emitted exactly when b's batch probes, so the union over all
    // batch dirs must equal the one-shot batch recompute over every
    // doc ever fed — folding/compaction must not lose or invent pairs
    import spark.implicits._
    val union = pairSet(spark.read.parquet(s"$pp/batch-*")
      .select("id_a", "id_b", "jaccard"))
    // scope-wrapped: this one-shot recompute is incidental to the
    // pinned-block assertion below (which pins the 100 PROBES' scope
    // hygiene) — without a scope its own materialized intermediates
    // linger until the ContextCleaner's next GC-driven sweep and flake
    // the count
    val want = DedupOps.withMaterializeScope {
      pairSet(DedupOps.minhashPairs(
        fed.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.5))
    }
    assert(union === want,
      s"only_streamed=${union -- want} only_batch=${want -- union}")
    // the cross-fold-horizon planted dups were actually recovered
    assert(union.count(p => p._2 >= 9000000L) >= 6,
      s"planted 40-batch-old copies not re-found: $union")

    // NO PINNED BLOCKS: withMaterializeScope released every
    // intermediate the 100 probes materialized
    val rddsAfter = spark.sparkContext.getPersistentRDDs.size
    assert(rddsAfter <= rddsBefore + 1,
      s"pinned blocks leaked across micro-batches: " +
        s"$rddsBefore -> $rddsAfter")
  }

  test("maintenance: compact preserves probe results; deleteIds stops phantom pairs; no dir collision after compaction") {
    val dir = Files.createTempDirectory("graft-idx-maint").toString
    val corpus = docs.limit(60)
    val b1 = docs.filter(col("doc_id") >= 60 && col("doc_id") < 90)
    val b2 = docs.filter(col("doc_id") >= 90 && col("doc_id") < 120)
    DedupIndex.write(corpus, "doc_id", "text", dir)
    DedupIndex.append(b1, "doc_id", "text", dir, runId = "m1")
    DedupIndex.append(b2, "doc_id", "text", dir, runId = "m2")
    val batch = docs.orderBy("doc_id").limit(8)
      .withColumn("doc_id", col("doc_id") + lit(4000000L))
      .withColumn("text", concat(col("text"), lit(" cópia")))
    val all = corpus.unionByName(b1).unionByName(b2)
    val before = pairSet(DedupIndex.probePairs(batch, all,
      "doc_id", "text", dir, threshold = 0.5))
    assert(before.nonEmpty)

    val mc = DedupIndex.compact(dir)
    assert(mc.deltas.size === 1)
    assert(mc.committedRunIds === Set("m1", "m2"), "runIds must survive")
    assert(pairSet(DedupIndex.probePairs(batch, all,
      "doc_id", "text", dir, threshold = 0.5)) === before)
    // post-compaction appends must not collide with the live dir
    val ma = DedupIndex.append(batch, "doc_id", "text", dir)
    assert(ma.deltas.toSet.size === ma.deltas.size)
    assert(ma.deltas.forall(d =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, d))))

    // delete the 8 lowest-id originals: a fresh perturbed batch no
    // longer pairs with them (no phantom pairs against removed docs)
    val dir2 = Files.createTempDirectory("graft-idx-del").toString
    DedupIndex.write(corpus, "doc_id", "text", dir2)
    val victims = docs.orderBy("doc_id").limit(8).select("doc_id")
    DedupIndex.deleteIds(victims, dir2)
    val vIds = victims.collect().map(_.getLong(0)).toSet
    val after = pairSet(DedupIndex.probePairs(batch, corpus,
      "doc_id", "text", dir2, threshold = 0.5))
    assert(after.forall(p => !vIds.contains(p._1) && !vIds.contains(p._2)),
      s"deleted ids still pairing: $after")
    assert(DedupIndex.readMeta(dir2).get.docs === 52)
  }

  test("threshold filters; empty batch and fresh index behave") {
    val dir = Files.createTempDirectory("graft-dedup-idx-edge").toString
    val corpus = docs.limit(40)
    DedupIndex.write(corpus, "doc_id", "text", dir)
    // threshold 1.01 can never pass
    val none = DedupIndex.probePairs(
      docs.limit(5).withColumn("doc_id", col("doc_id") + lit(900000L)),
      corpus, "doc_id", "text", dir, threshold = 1.01)
    assert(none.count() === 0)
    // word-kind index roundtrip
    val dirW = Files.createTempDirectory("graft-dedup-idx-w").toString
    DedupIndex.write(corpus, "doc_id", "text", dirW, kind = "word", k = 2)
    val dup = corpus.limit(5)
      .withColumn("doc_id", col("doc_id") + lit(800000L))
    val found = DedupIndex.probePairs(dup, corpus, "doc_id", "text",
      dirW, threshold = 0.9)
    assert(found.count() >= 5, "verbatim copies must pair at 0.9 word-jaccard")
  }

  test("maintenance counts: compact keeps the appended docs; deleting every id leaves no delta and no sig dir") {
    val dir = Files.createTempDirectory("graft-idx-counts").toString
    val corpus = docs.filter(col("doc_id") < 40)
    val b1 = docs.filter(col("doc_id") >= 40 && col("doc_id") < 70)
    val b2 = docs.filter(col("doc_id") >= 70 && col("doc_id") < 100)
    val m0 = DedupIndex.write(corpus, "doc_id", "text", dir)
    DedupIndex.append(b1, "doc_id", "text", dir)
    val m2 = DedupIndex.append(b2, "doc_id", "text", dir)
    assert(m2.docs === m0.docs + b1.count() + b2.count())
    val mc = DedupIndex.compact(dir)
    assert(mc.deltas.size === 1 && mc.docs === m2.docs)
    assert(DedupIndex.readMeta(dir).get === mc)

    val all = corpus.unionByName(b1).unionByName(b2)
    val md = DedupIndex.deleteIds(all.select("doc_id"), dir)
    assert(md.docs === 0L && md.deltas.isEmpty)
    assert(DedupIndex.readMeta(dir).get === md)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "sig")),
      "an emptied index keeps a sig/ dir")

    // the emptied index takes appends and probes again
    val ma = DedupIndex.append(b1, "doc_id", "text", dir)
    assert(ma.docs === b1.count() && ma.deltas.size === 1)
    val batch = b1.filter(col("doc_id") < 45)
      .withColumn("doc_id", col("doc_id") + lit(9000000L))
      .withColumn("text", concat(col("text"), lit(" cópia")))
    val found = pairSet(DedupIndex.probePairs(batch, b1, "doc_id", "text",
      dir, threshold = 0.5))
    assert(found.map(p => (p._1, p._2)) ===
      (40L until 45L).map(i => (i, i + 9000000L)).toSet)
  }

  test("stored rows: readIndex is the exploded band keys of exactly the indexed docs after write, append, compact and deleteIds; docs = stored rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-idx-rows").toString
    val texts = docs.filter(col("doc_id") < 100).as[(Long, String)]
      .collect().toMap
    def ids(lo: Long, hi: Long) = docs.filter(col("doc_id") >= lo &&
      col("doc_id") < hi)
    // a null text is not indexed
    val withNull = ids(0, 40).unionByName(
      Seq((1000000L, null: String)).toDF("doc_id", "text"))
    def expected(indexed: Set[Long]) = indexed.toSeq.flatMap(i =>
      DedupOps.bandKeys(texts(i), DedupOps.shinglesRaw(_, 5), 64, 16)
        .map(h => (i, h))).groupBy(identity).map { case (k, v) => k -> v.size }
    def check(step: String, indexed: Set[Long]): Unit = {
      val got = DedupIndex.readIndex(spark, dir).as[(Long, Long)].collect()
        .toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      assert(got === expected(indexed), step)
      val m = DedupIndex.readMeta(dir).get
      val stored = spark.read.parquet(m.deltas.map(d => s"$dir/$d"): _*)
      assert(stored.columns.toSeq === Seq("id", "bands"), step)
      assert(m.docs === stored.count() && m.docs === indexed.size, step)
    }
    DedupIndex.write(withNull, "doc_id", "text", dir)
    check("write", (0L until 40L).toSet)
    DedupIndex.append(ids(40, 70), "doc_id", "text", dir)
    DedupIndex.append(ids(70, 100), "doc_id", "text", dir)
    check("append", (0L until 100L).toSet)
    assert(DedupIndex.compact(dir).deltas.size === 1)
    check("compact", (0L until 100L).toSet)
    DedupIndex.deleteIds(Seq(3L, 50L, 99L, 12345L).toDF("id"), dir)
    check("deleteIds", (0L until 100L).toSet -- Set(3L, 50L, 99L))
  }

  test("appending an empty batch, or one whose texts are all null, returns promptly and leaves docs unchanged") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft-idx-empty").toString
    val m0 = DedupIndex.write(docs.limit(20), "doc_id", "text", dir)
    assert(m0.docs === 20)
    val batches = Seq(
      "limit 0" -> docs.limit(0),
      "no row passes a filter" -> docs.filter(col("doc_id") < 0),
      "null texts" -> docs.limit(5)
        .withColumn("doc_id", col("doc_id") + lit(700000L))
        .withColumn("text", lit(null).cast("string")),
      "null texts at run time" -> docs.limit(5)
        .withColumn("doc_id", col("doc_id") + lit(800000L))
        .withColumn("text", udf((_: String) => null: String)
          .apply(col("text"))))
    for ((name, b) <- batches) {
      val m = Await.result(
        Future(DedupIndex.append(b, "doc_id", "text", dir)), 2.minutes)
      assert(m.docs === 20, name)
      assert(DedupIndex.readIndex(spark, dir).count() === 20 * 16, name)
    }
    assert(DedupIndex.compact(dir).docs === 20)
  }
}
