package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Host-level crawl-budget apportionment by the largest-remainder
  * (Hamilton) method, in pure INTEGER arithmetic so the allocation is
  * bit-identical across engines and partitionings: each host's base
  * share is `budget * weight div totalWeight`, and the leftover
  * `budget - sum(base)` seats go one each to the hosts with the
  * largest division remainders (ties broken by ascending host key).
  * This is the step between [[RecrawlSchedule]]'s per-URL freshness
  * intervals and [[graft.politeness.HostScheduler]]'s per-host pacing:
  * a 10^10-URL frontier cannot fetch everything every cycle, so the
  * global fetch budget must be split across hosts proportionally to
  * observed value — exactly (sum of allocations == budget, no float
  * drift deciding who gets the marginal fetch). The reference crawler
  * needs no such step (it enumerates a fixed site list exhaustively,
  * src/main.py:60); a web-scale frontier lives or dies by it.
  *
  * Scale shape: two bounded driver scalars (the weight total and the
  * leftover count — single-row aggregates), one map-side projection
  * computing base/remainder per host, and a top-L selection over the
  * narrow (remainder, key) projection only — the winner set joins
  * back as a broadcast semi-join. No global shuffle of the host table
  * itself; the only sort carries 16 bytes per host and L is
  * budget - sum(base) < #hosts by construction. */
object BudgetAllocator {

  /** Apportion `budget` units across the rows of `weights`:
    * returns `(key, weight, alloc)` with one row per input row,
    * `sum(alloc) == budget` whenever the positive-weight total is
    * nonzero. Non-positive weights get `alloc = 0` and take no part
    * in the apportionment. Requires `budget * totalWeight` to fit a
    * signed 64-bit integer (checked). */
  def apportion(weights: DataFrame, keyCol: String, weightCol: String,
      budget: Long): DataFrame = {
    val spark = weights.sparkSession
    import spark.implicits._
    require(budget >= 0, s"negative budget $budget")
    // Materialize the (key, weight) projection ONCE: apportionment
    // inherently makes multiple passes over it (the total scalar, the
    // leftover scalar, the winner top-L, the final join), and without
    // this every pass re-executes the caller's upstream plan — which
    // for rank-weighted budgets (q74/q80) is an entire fixed-point
    // iteration chain. The projection is host-grain (16 bytes + key)
    // by construction, bounded at any corpus scale. Residency: on a
    // multi-executor master the materialized frame is a CacheManager
    // persist held until clearCache/session stop (materialize's
    // documented contract) — a LONG-LIVED driver apportioning every
    // crawl cycle should wrap calls in
    // DedupOps.withMaterializeScope { ... } so each cycle's block is
    // released, as the streaming sinks do.
    val w = graft.ops.DedupOps.materialize(
      weights.select(col(keyCol).as("key"),
        col(weightCol).cast("long").as("weight")))
    // bounded driver scalar #1: the positive-weight total (one row)
    val total = w.filter($"weight" > 0)
      .agg(coalesce(sum($"weight"), lit(0L))).as[Long].head()
    if (total == 0L || budget == 0L)
      return w.select($"key", $"weight", lit(0L).as("alloc"))
    require(budget <= Long.MaxValue / total,
      s"budget * totalWeight overflows 64 bits ($budget * $total)")
    val based = w.withColumn("base",
        when($"weight" > 0, expr(s"($budget * weight) div $total"))
          .otherwise(lit(0L)))
      .withColumn("rem",
        when($"weight" > 0, expr(s"($budget * weight) % $total"))
          .otherwise(lit(-1L)))
    // bounded driver scalar #2: the leftover seat count (one row)
    val leftover = budget - based.agg(sum($"base")).as[Long].head()
    require(leftover >= 0 && leftover <= Int.MaxValue,
      s"leftover $leftover out of range")
    // winner selection is the one step whose cost scales with the
    // leftover count. Hamilton's leftover is < #positive-weight hosts,
    // which at web scale can be millions — TakeOrderedAndProject would
    // put leftover×16 B on the driver heap AND broadcast it. Below the
    // threshold (leftover ≤ spark.graft.budget.collectWinnersMax,
    // default 2^20 ≈ 16 MB) the collect+broadcast form stays (it is
    // the fastest shape for the common budget ≪ hosts case); above it
    // the winners are ranked DISTRIBUTED — range-repartition the
    // 16-byte (rem, key) projection, rank within partitions with
    // cumulative per-partition offsets (the only driver state is one
    // count per partition), and join back by key without a broadcast.
    // The global order (rem desc, key asc) is total (keys unique per
    // apportionment contract), so the selected set is identical in
    // both paths regardless of partition boundaries.
    val collectMax = spark.conf
      .get("spark.graft.budget.collectWinnersMax", (1 << 20).toString)
      .toLong
    if (leftover == 0L) {
      based.select($"key", $"weight", $"base".as("alloc"))
    } else if (leftover <= collectMax) {
      val winners = based.filter($"weight" > 0)
        .select($"rem", $"key")                  // 16-byte projection
        .orderBy($"rem".desc, $"key".asc)
        .limit(leftover.toInt)
        .select($"key")
        .withColumn("bonus", lit(1L))
      based
        .join(broadcast(winners), Seq("key"), "left")
        .select($"key", $"weight",
          ($"base" + coalesce(col("bonus"), lit(0L))).as("alloc"))
    } else {
      val nParts = math.max(1,
        spark.sessionState.conf.numShufflePartitions)
      val ranked0 = based.filter($"weight" > 0)
        .select($"rem", $"key")
        .repartitionByRange(nParts, $"rem".desc, $"key".asc)
        .sortWithinPartitions($"rem".desc, $"key".asc)
        .select($"rem", $"key", spark_partition_id().as("pid"))
      // the pid column MUST come from one pinned execution: the offsets
      // collected below are only valid against the same range-sample's
      // partition boundaries, and an unpinned plan re-executes with a
      // fresh sample for the winner pass (silently breaking the
      // sum(alloc)==budget contract). localCheckpoint in every
      // materialize mode: it stores exactly one execution (a cached
      // copy could recompute a lost block with a fresh sample), and
      // its blocks sit outside the CacheManager — the ContextCleaner
      // frees them once the returned frame goes unreachable, so the
      // pin needs no explicit release
      val ranked = ranked0.localCheckpoint(eager = true)
      // bounded driver state: one (pid, count) row per partition
      val counts = ranked.groupBy($"pid").count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      // exclusive prefix sums: offset(pid) = rows in lower partitions
      var acc = 0L
      val offsets = counts.map { case (pid, n) =>
        val o = (pid, acc); acc += n; o
      }.toMap
      val offsetOf = udf((pid: Int) => offsets.getOrElse(pid, 0L))
      val rkW = Window.partitionBy($"pid")
        .orderBy($"rem".desc, $"key".asc)
      val winners = ranked
        .withColumn("grank", offsetOf($"pid") + row_number().over(rkW))
        .filter($"grank" <= leftover)
        .select($"key")
        .withColumn("bonus", lit(1L))
      based
        .join(winners, Seq("key"), "left")
        .select($"key", $"weight",
          ($"base" + coalesce(col("bonus"), lit(0L))).as("alloc"))
    }
  }

  /** Enforce an allocation on a frontier: keeps, per host, the first
    * `alloc` rows by `ordCol` ascending (the crawl-priority order) and
    * drops the rest — the step that turns [[apportion]]'s numbers into
    * the actual fetch list. `alloc` must be `(key, …, alloc)` as
    * returned by [[apportion]]; hosts absent from it are dropped
    * entirely (no allocation, no fetches).
    *
    * Scale shape: the rank window shuffles the frontier by host ONCE;
    * the allocation join lands on that same host partitioning (AQE
    * broadcasts it when small). No global ordering anywhere. */
  def capPerHost(frontier: DataFrame, hostCol: String, ordCol: String,
      alloc: DataFrame): DataFrame = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val grp = Window.partitionBy(col(hostCol)).orderBy(col(ordCol))
    frontier
      .withColumn("__rk", row_number().over(grp))
      .join(alloc.select(col("key").as(hostCol),
        col("alloc").as("__cap")), Seq(hostCol))
      .filter($"__rk" <= $"__cap")
      .drop("__rk", "__cap")
  }
}
