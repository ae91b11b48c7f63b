package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupIndex, DedupOps}
import graft.url.Hashing

/** The Spark jobs of one curation cycle, pinned per entry point: the
  * batch pass (`minhashPairs` into `dedupSurvivors`, survivors
  * written), then a held-out batch probed against the persisted index
  * (`probePairs`), appended and compacted. The corpus is a parquet
  * table with planted near copies, read as the curation workloads read
  * theirs. A change that adds or drops a job on this path fails here
  * and must restate the count. */
class DedupJobsSpec extends AnyFunSuite {
  import DedupJobsSpec._
  private lazy val spark = SparkTestSession.spark

  /** Jobs started while `body` runs. */
  private def jobCount(body: => Any): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  test("curation cycle: Spark jobs of pairs + survivors, probePairs, append and compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dedup-jobs").toString
    val textUdf = udf((id: Long) => text(id))
    spark.range(0L, n, 1L, 4).select($"id", textUdf($"id").as("text"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/corpus")
    val all = spark.read.parquet(s"$dir/corpus")
    val held = $"id" % 20 === 0
    all.filter(held).write.parquet(s"$dir/batch")
    all.filter(!held).write.parquet(s"$dir/rest")
    val batch = spark.read.parquet(s"$dir/batch")
    val rest = spark.read.parquet(s"$dir/rest")
    DedupIndex.write(rest, "id", "text", s"$dir/index")

    val survivors = jobCount(DedupOps.withMaterializeScope {
      val pairs = DedupOps.minhashPairs(all, "id", "text", threshold = 0.5)
      DedupOps.dedupSurvivors(all, "id", pairs).select("id")
        .write.parquet(s"$dir/survivors")
    })
    assert(spark.read.parquet(s"$dir/survivors").count() === n - copies)
    var probed = Array.empty[(Long, Long)]
    val probe = jobCount(DedupOps.withMaterializeScope {
      probed = DedupIndex.probePairs(batch, rest, "id", "text",
        s"$dir/index", threshold = 0.5).select("id_a", "id_b")
        .as[(Long, Long)].collect()
    })
    val planted = (0L until copies).map(i => (i, i + n - copies))
      .filter { case (a, b) => a % 20 == 0 || b % 20 == 0 }
    assert(probed.toSet === planted.toSet)
    val append = jobCount(DedupIndex.append(batch, "id", "text", s"$dir/index"))
    val compact = jobCount(DedupIndex.compact(s"$dir/index"))
    assert(DedupIndex.readMeta(s"$dir/index").get.docs === n)
    val counts = Seq("pairs + survivors" -> survivors, "probePairs" -> probe,
      "append" -> append, "compact" -> compact)
    assert(counts === Seq("pairs + survivors" -> 12, "probePairs" -> 11,
      "append" -> 2, "compact" -> 1))
  }
}

object DedupJobsSpec {
  val n = 400L
  val copies = 40L // ids n - 40 … n - 1 copy ids 0 … 39

  def text(id: Long): String = {
    val base = if (id >= n - copies) id - (n - copies) else id
    (0 until 30).map(j => java.lang.Long.toHexString(Hashing.mix(base * 131 + j)))
      .mkString(" ") + (if (id != base) " copia" else "")
  }
}
