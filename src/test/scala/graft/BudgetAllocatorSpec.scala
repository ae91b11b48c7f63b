package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.frontier.BudgetAllocator

/** Crawl-budget apportionment (frontier/BudgetAllocator.scala): the
  * Hamilton largest-remainder method on hand-computed examples —
  * exact shares, remainder seats, tie-breaks, degenerate weights, and
  * the sum invariant. */
class BudgetAllocatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def run(budget: Long, rows: (Long, Long)*) = {
    val sess = spark
    import sess.implicits._
    BudgetAllocator.apportion(rows.toSeq.toDF("host", "w"),
        "host", "w", budget)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("textbook Hamilton example: bases by integer division, seat to the largest remainder") {
    // W=10, budget 7: bases 3/2/1 (remainders 5/1/4), one leftover
    // seat -> host 1 (remainder 5)
    val out = run(7L, (1L, 5L), (2L, 3L), (3L, 2L))
    assert(out === Map(1L -> ((5L, 4L)), 2L -> ((3L, 2L)),
      3L -> ((2L, 1L))))
  }

  test("remainder ties break by ascending host key") {
    // three equal weights, budget 4: bases 1 each, remainders all
    // equal -> the single extra seat goes to the smallest key
    val out = run(4L, (3L, 1L), (1L, 1L), (2L, 1L))
    assert(out === Map(1L -> ((1L, 2L)), 2L -> ((1L, 1L)),
      3L -> ((1L, 1L))))
  }

  test("non-positive weights stay in the output with zero allocation") {
    val out = run(3L, (1L, 0L), (2L, -2L), (3L, 5L))
    assert(out === Map(1L -> ((0L, 0L)), 2L -> ((-2L, 0L)),
      3L -> ((5L, 3L))))
  }

  test("zero positive total allocates nothing") {
    val out = run(9L, (1L, 0L), (2L, 0L))
    assert(out === Map(1L -> ((0L, 0L)), 2L -> ((0L, 0L))))
  }

  test("capPerHost keeps exactly the first alloc rows per host in priority order") {
    val sess = spark
    import sess.implicits._
    val frontier = Seq((1L, 30L), (1L, 10L), (1L, 20L),
      (2L, 5L), (2L, 6L), (3L, 7L)).toDF("host", "url")
    val alloc = Seq((1L, 9L, 2L), (2L, 1L, 0L), (3L, 1L, 5L))
      .toDF("key", "weight", "alloc")
    val kept = BudgetAllocator.capPerHost(frontier, "host", "url", alloc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // host 1: two lowest urls; host 2: alloc 0 -> nothing; host 3:
    // alloc exceeds supply -> everything
    assert(kept === Set((1L, 10L), (1L, 20L), (3L, 7L)))
  }

  test("large-leftover distributed winner path equals the broadcast path") {
    // leftover ≈ #hosts: n equal weights, budget 2n-1 → bases all 1,
    // leftover n-1 with every remainder tied — the worst shape for the
    // winner selection (ties resolved purely by ascending key). Run
    // once with the collect+broadcast form and once with the threshold
    // forced to 0 (distributed range-rank path); the allocations must
    // be identical row-for-row, and skewed weights must agree too.
    val sess = spark
    import sess.implicits._
    def runBoth(budget: Long, rows: Seq[(Long, Long)]) = {
      val df = rows.toDF("host", "w")
      val broadcastPath = BudgetAllocator
        .apportion(df, "host", "w", budget)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      sess.conf.set("spark.graft.budget.collectWinnersMax", "0")
      try {
        val distPath = BudgetAllocator
          .apportion(df, "host", "w", budget)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
        (broadcastPath, distPath)
      } finally sess.conf.unset("spark.graft.budget.collectWinnersMax")
    }
    val n = 500L
    val (b1, d1) = runBoth(2 * n - 1, (0L until n).map(i => (i, 1L)))
    assert(b1 === d1)
    assert(d1.values.sum === 2 * n - 1)
    // first n-1 keys take the tied bonus seat, the last key does not
    assert(d1(0L) === 2L && d1(n - 2) === 2L && d1(n - 1) === 1L)
    val (b2, d2) = runBoth(997L,
      (0L until 200L).map(i => (i, i * 31 % 97 + 1)))
    assert(b2 === d2)
  }

  test("distributed winner path pins no CacheManager entry of its own (materialize=cache)") {
    // above collectWinnersMax the path pins its ranked frame; under
    // `cache` a materialize()d pin is a CacheManager persist, which
    // outside a materialize scope nothing would ever release. The one
    // entry left must be the (key, weight) projection, which
    // materialize's scope contract covers.
    val sess = spark
    import sess.implicits._
    val n = 300L
    val df = (0L until n).map(i => (i, 1L)).toDF("host", "w")
    sess.catalog.clearCache()
    sess.conf.set("spark.graft.dedup.materialize", "cache")
    sess.conf.set("spark.graft.budget.collectWinnersMax", "0")
    try {
      val out = BudgetAllocator.apportion(df, "host", "w", 2 * n - 1)
        .collect().map(r => r.getLong(2))
      assert(out.sum === 2 * n - 1)
      val w = df.select(col("host").as("key"),
        col("w").cast("long").as("weight"))
      assert(w.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      w.unpersist(blocking = true)
      assert(sess.sharedState.cacheManager.isEmpty,
        "apportion left its own pinned blocks in the CacheManager")
    } finally {
      sess.catalog.clearCache()
      sess.conf.unset("spark.graft.dedup.materialize")
      sess.conf.unset("spark.graft.budget.collectWinnersMax")
    }
  }

  test("distributed winner path leaves the caller's checkpointed weights readable (materialize=cache)") {
    // weights backed by a localCheckpoint (PageRank-style truncated
    // lineage): apportion must not drop the caller's blocks
    val sess = spark
    import sess.implicits._
    val n = 300L
    val weights = (0L until n).map(i => (i, i % 7 + 1)).toDF("host", "w")
      .localCheckpoint(eager = true)
    sess.conf.set("spark.graft.dedup.materialize", "cache")
    sess.conf.set("spark.graft.budget.collectWinnersMax", "0")
    try {
      val alloc = BudgetAllocator.apportion(weights, "host", "w", 997L)
      assert(alloc.agg(sum("alloc")).as[Long].head() === 997L)
      assert(weights.count() === n)
      assert(weights.agg(sum("w")).as[Long].head() ===
        (0L until n).map(i => i % 7 + 1).sum)
      // the lazy result is still readable after the caller's reads
      assert(alloc.count() === n)
    } finally {
      sess.catalog.clearCache()
      sess.conf.unset("spark.graft.dedup.materialize")
      sess.conf.unset("spark.graft.budget.collectWinnersMax")
    }
  }

  test("sum of allocations equals the budget exactly (skewed weights)") {
    val rows = (0L until 100L).map(i => (i, i * i % 83 + 1))
    val out = run(997L, rows: _*)
    assert(out.values.map(_._2).sum === 997L)
    // proportionality sanity: every allocation within 1 of the real
    // share (the Hamilton method's defining property)
    val tot = rows.map(_._2).sum.toDouble
    out.foreach { case (h, (w, a)) =>
      val exact = 997L * w / tot
      assert(math.abs(a - exact) <= 1.0, s"host $h: $a vs $exact")
    }
  }
}
