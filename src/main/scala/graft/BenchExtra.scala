package graft

import org.apache.spark.sql.SparkSession

import graft.jobs.CrawlJob
import graft.model._

/** Extra profiling benchmarks (guide §1.4 noop-sink isolation) — NOT
  * part of the driver contract ([[Bench]] is frozen): stage-level
  * timings for the crawl pipeline and the dedup pipeline so each
  * optimization round can attribute wall time to harvest / frontier /
  * schedule / payload (crawl) and signature / verify / cc (dedup)
  * instead of guessing from end-to-end numbers.
  *
  * Usage: `runMain graft.BenchExtra crawl [nSites] [maxPages]`
  *        `runMain graft.BenchExtra dedup [nDocs]`
  *        `runMain graft.BenchExtra microhash [nDocs]`
  * Cores from SPARK_GRAFT_CPUS (default 8), master local[cpus].
  */
object BenchExtra {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchextra-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timed(label: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[benchextra] $label%-28s $sec%8.2f s")
    sec
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("crawl")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    mode match {
      case "crawl" =>
        val nSites = args.lift(1).map(_.toInt).getOrElse(2400)
        val maxPages = args.lift(2).map(_.toInt).getOrElse(20)
        val s = session(cpus)
        val cfg = CrawlConfig(
          sites = (0 until nSites).map(i => f"bench-site-$i%04d"),
          years = YearSelector.Single(2024),
          months = MonthSelector.Multiple(Seq(1, 2, 3, 4, 5, 6)),
          nowYear = 2024, nowMonth = 12, maxPages = maxPages)
        import s.implicits._
        // warmup (JIT + codegen) at 1/8 size, full pipeline
        s.sparkContext.setJobDescription("warmup")
        val wcfg = cfg.copy(sites = cfg.sites.take(nSites / 8))
        val wr = CrawlJob.run(s, wcfg, cacheLog = false)
        wr.images.count(); wr.frontier.count()
        s.catalog.clearCache()
        val seeds = graft.frontier.SeedExpansion.expand(cfg)
        s.sparkContext.setJobDescription("harvest only")
        timed("harvest(noop)") {
          noop(CrawlJob.harvest(s, cfg, seeds).toDF())
        }
        s.sparkContext.setJobDescription("frontier")
        timed("harvest+frontier(noop)") {
          noop(CrawlJob.buildFrontier(s, CrawlJob.harvest(s, cfg, seeds))
            .toDF())
        }
        s.sparkContext.setJobDescription("schedule+fetch log")
        timed("..+schedule+fetch(noop)") {
          noop(CrawlJob.scheduleAndFetchFlagged(
            CrawlJob.buildFrontier(s, CrawlJob.harvest(s, cfg, seeds))
              .map(e => (e, false)),
            cfg.budget).toDF())
        }
        s.sparkContext.setJobDescription("full crawl + payloads")
        timed("full run(images+frontier)") {
          val r = CrawlJob.run(s, cfg, cacheLog = false)
          r.images.count(); r.frontier.count()
        }
        s.catalog.clearCache()
        s.stop()
      case "dedup" =>
        val n = args.lift(1).map(_.toLong).getOrElse(960000L)
        val s = session(cpus)
        import org.apache.spark.sql.functions._
        val docs = dedupDocsLike(s, n)
        s.sparkContext.setJobDescription("warmup")
        locally {
          val w = dedupDocsLike(s, n / 8)
          graft.ops.DedupOps.exactDedup(w, "id", "text").count()
          graft.ops.DedupOps.dedupSurvivors(w, "id",
            graft.ops.DedupOps.minhashPairs(w, "id", "text",
              threshold = 0.5)).count()
          s.catalog.clearCache()
        }
        s.sparkContext.setJobDescription("docs gen only")
        timed("docs gen(noop)") { noop(docs) }
        s.sparkContext.setJobDescription("exact dedup")
        timed("exactDedup.count") {
          graft.ops.DedupOps.exactDedup(docs, "id", "text").count()
        }
        s.sparkContext.setJobDescription("banded signatures")
        timed("bandKeys pass(noop)") {
          val bandsUdf = udf((t: String) =>
            graft.ops.DedupOps.bandKeys(t,
              graft.ops.DedupOps.shinglesRaw(_, 5), 64, 16))
          noop(docs.select(col("id"),
            explode(bandsUdf(col("text"))).as("bandHash")))
        }
        s.sparkContext.setJobDescription("pairs + survivors")
        timed("minhash+cc+survivors") {
          val pairs = graft.ops.DedupOps.minhashPairs(docs, "id", "text",
            threshold = 0.5)
          graft.ops.DedupOps.dedupSurvivors(docs, "id", pairs).count()
        }
        s.catalog.clearCache()
        s.stop()
      case "microhash" =>
        // pure-JVM signature micro-bench: no Spark, isolates the
        // shingle+minhash CPU per document
        val n = args.lift(1).map(_.toInt).getOrElse(20000)
        val texts = (0 until n).map { id =>
          val sb = new StringBuilder(1100)
          var j = 0
          while (j < 60) {
            val h = graft.url.Hashing.mix(id.toLong * 131L + j, 0x5EED2L)
            sb.append(java.lang.Long.toHexString(h)).append(' ')
            j += 1
          }
          sb.toString
        }.toArray
        var sink = 0L
        // warmup
        var w = 0
        while (w < 2000) {
          sink ^= graft.ops.DedupOps.bandKeys(texts(w % n),
            graft.ops.DedupOps.shinglesRaw(_, 5), 64, 16)(0)
          w += 1
        }
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) {
          sink ^= graft.ops.DedupOps.bandKeys(texts(i),
            graft.ops.DedupOps.shinglesRaw(_, 5), 64, 16)(0)
          i += 1
        }
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[benchextra] microhash n=$n sink=$sink " +
          f"total=$sec%.2f s per-doc=${sec * 1e6 / n}%.1f us")
        // stage split: shingles alone, then minhash alone on fixed sets
        val t1 = System.nanoTime()
        i = 0
        while (i < n) {
          sink ^= graft.ops.DedupOps.shinglesRaw(texts(i), 5)(0)
          i += 1
        }
        val shSec = (System.nanoTime() - t1) / 1e9
        val sets = texts.take(2000)
          .map(t => graft.ops.DedupOps.shinglesRaw(t, 5))
        val t2 = System.nanoTime()
        i = 0
        while (i < n) {
          sink ^= graft.ops.DedupOps.minhash(sets(i % 2000), 64)(0)
          i += 1
        }
        val mhSec = (System.nanoTime() - t2) / 1e9
        System.err.println(f"[benchextra] microhash split: " +
          f"shingles=${shSec * 1e6 / n}%.1f us " +
          f"minhash=${mhSec * 1e6 / n}%.1f us sink=$sink")
      case "idxparity" =>
        // step timings of the dedup_index_parity gate at a given SF
        val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val s = session(cpus)
        import org.apache.spark.sql.functions._
        val d = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val corpus = d.filter(col("doc_id") % 3 =!= 0)
        val copies = d.orderBy("doc_id").limit(10)
          .withColumn("doc_id", col("doc_id") + lit(3000000L))
          .withColumn("text", concat(col("text"), lit(" versão revisada")))
        val batch = d.filter(col("doc_id") % 3 === 0).unionByName(copies)
        // warmup pass
        locally {
          val w = java.nio.file.Files
            .createTempDirectory("graft-idx-warm").toString
          graft.ops.DedupIndex.write(corpus.limit(200), "doc_id", "text", w)
          graft.ops.DedupIndex.probePairs(batch.limit(100),
            corpus.limit(200), "doc_id", "text", w, 0.5).count()
        }
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft-idx-prof").toString
        timed("index write (corpus)") {
          graft.ops.DedupIndex.write(corpus, "doc_id", "text", idxDir)
        }
        var inc: org.apache.spark.sql.DataFrame = null
        timed("probePairs build+count") {
          inc = graft.ops.DedupIndex.probePairs(batch, corpus,
            "doc_id", "text", idxDir, threshold = 0.5)
          inc.count()
        }
        timed("full minhashPairs count") {
          graft.ops.DedupOps.minhashPairs(corpus.unionByName(batch),
            "doc_id", "text", threshold = 0.5).count()
        }
        timed("fixture write+read+sort") {
          val full = graft.ops.DedupOps.minhashPairs(
            corpus.unionByName(batch), "doc_id", "text", threshold = 0.5)
          full.write.mode("overwrite")
            .parquet("/tmp/graft_prof_idx/full")
          inc.orderBy("id_a", "id_b").count()
        }
        s.stop()
      case "encode" =>
        // per-format payload encode micro-bench (no Spark): the fetch
        // stage's dominant cost per the crawl stage profile
        val n = args.lift(1).map(_.toInt).getOrElse(3000)
        val keys = (0 until n).map(i => graft.url.Hashing.mix(i.toLong, 77L))
        def encOnce(k: Long, fmt: String): Int = {
          val dims = Array(64, 96, 128, 192)
          val w = dims(graft.url.Hashing.draw(k, 21, 4))
          val h = dims(graft.url.Hashing.draw(k, 22, 4))
          val px = graft.fetch.ImageCodec.synthPixels(k, w, h)
          graft.fetch.ImageCodec.encode(px, w, h, fmt).length
        }
        var sink = 0L
        keys.take(500).foreach(k => Seq("png", "jpeg", "bmp")
          .foreach(f => sink += encOnce(k, f))) // warmup
        Seq("png", "jpeg", "bmp").foreach { fmt =>
          val t0 = System.nanoTime()
          keys.foreach(k => sink += encOnce(k, fmt))
          val sec = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[benchextra] encode $fmt%-5s " +
            f"${sec * 1e6 / n}%8.1f us/img (n=$n, sink=$sink)")
        }
        val t1 = System.nanoTime()
        keys.foreach { k =>
          val dims = Array(64, 96, 128, 192)
          val w = dims(graft.url.Hashing.draw(k, 21, 4))
          val h = dims(graft.url.Hashing.draw(k, 22, 4))
          sink += graft.fetch.ImageCodec.synthPixels(k, w, h).length
        }
        System.err.println(f"[benchextra] synthPixels " +
          f"${(System.nanoTime() - t1) / 1e3 / n}%8.1f us/img sink=$sink")
      case other =>
        System.err.println(s"unknown mode: $other")
    }
  }

  /** Same generator as Bench.dedupDocs (kept in sync manually — Bench
    * is frozen and its generator is private). */
  private def dedupDocsLike(spark: SparkSession, n: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val textUdf = udf { (id: Long) =>
      val base = if (id >= n * 9 / 10) id % math.max(n / 10, 1L) else id
      val sb = new StringBuilder(1100)
      var j = 0
      while (j < 60) {
        val h = graft.url.Hashing.mix(base * 131L + j, 0x5EED2L)
        sb.append(java.lang.Long.toHexString(h)).append(' ')
        j += 1
      }
      if (id != base) sb.append("copia")
      sb.toString
    }
    val parts = math.max(
      spark.sessionState.conf.numShufflePartitions * 2, 4)
    spark.range(0L, n, 1L, parts)
      .select(col("id"), textUdf(col("id")).as("text"))
  }
}
