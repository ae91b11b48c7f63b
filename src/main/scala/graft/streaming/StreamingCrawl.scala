package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model._
import graft.model.{CrawlStatus, ImageRecord}
import graft.politeness.HostScheduler
import graft.table.StateFiles

/** Structured-Streaming fetch loop (north rule): frontier entries
  * arrive as a stream, are flagged by the batch job's one seen-flag
  * rule ([[graft.jobs.CrawlJob.flagSeen]]), and `flatMapGroupsWithState`
  * keyed by the batch job's politeness domain
  * ([[HostScheduler.domainOf]]) carries each domain's
  * [[HostScheduler.Timeline]] state across micro-batches. The sink is
  * idempotent so checkpointed restart replays only the uncommitted
  * batch (SURVEY §2.10 "resume" row).
  *
  * Within a batch, a group's entries are sorted by
  * (seedSeq, discoverySeq) before scheduling; as long as batch
  * boundaries respect per-domain frontier order (they do for a
  * file-source frontier written in wave order), the concatenated
  * per-domain timeline is identical to the batch job's — asserted in
  * StreamingCrawlSpec, and for the timeline alone in
  * PolitenessInvariantSpec.
  */
object StreamingCrawl {

  /** One streamed fetch result row (flattened: Option[ImageRecord]
    * payload fields nulled when absent). */
  final case class StreamedOutcome(
      site: String, year: Int, month: Int, seq: Int, imageId: String,
      url: String, urlHash: Long, host: String, vtimeMs: Long,
      attempts: Int, status: String,
      bytes: Array[Byte], w: Int, h: Int, fmt: String, caption: String,
      phash: Long)

  private def flatten(l: graft.model.CrawlLogEntry): StreamedOutcome =
    graft.fetch.PayloadStage.imageFor(l) match {
      case Some(i) => StreamedOutcome(l.site, l.year, l.month, l.seq,
        l.imageId, l.url, l.urlHash, l.host, l.vtimeMs, l.attempts, l.status,
        i.bytes, i.w, i.h, i.fmt, i.caption, i.phash)
      case None => StreamedOutcome(l.site, l.year, l.month, l.seq, l.imageId,
        l.url, l.urlHash, l.host, l.vtimeMs, l.attempts, l.status,
        null, 0, 0, null, null, 0L)
    }

  /** The stateful per-domain handler over (entry, alreadySeen) pairs:
    * flagged-seen entries emit `skipped` rows and consume zero budget
    * (D2, portal_saude_mg.py:452-459), exactly like the batch path. */
  def handleDomain(budget: PolitenessBudget,
      hostBudgets: Map[String, PolitenessBudget] = Map.empty)(
      key: (String, String), entries: Iterator[(ScheduledEntry, Boolean)],
      state: GroupState[HostScheduler.DomainState])
      : Iterator[StreamedOutcome] = {
    val timeline = new HostScheduler.Timeline(
      HostScheduler.budgetFor(budget, hostBudgets, key._2),
      state.getOption.getOrElse(HostScheduler.DomainState.initial))
    val log = entries.toSeq.sortBy(t => (t._1.seedSeq, t._1.discoverySeq))
      .map { case (e, seen) => timeline.step(e, seen) }
    state.update(timeline.state)
    log.iterator.map(flatten)
  }

  /** Wire a streaming frontier through the politeness scheduler.
    *
    * `seenTable` (the committed URL-seen hashes) flags the frontier
    * through [[graft.jobs.CrawlJob.flagSeen]]'s stream-static join
    * BEFORE the stateful scheduling, so a restarted stream re-reading
    * committed URLs skips them instead of re-spending politeness
    * budget. `strictPerHost` keys scheduler state by host alone
    * ([[HostScheduler.domainOf]], the batch path's domain key) — sites
    * sharing a physical host share ONE budget. */
  def outcomes(frontier: Dataset[ScheduledEntry],
      budget: PolitenessBudget,
      seenTable: Option[Dataset[Long]] = None,
      strictPerHost: Boolean = false,
      hostBudgets: Map[String, PolitenessBudget] = Map.empty)
      : Dataset[StreamedOutcome] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val flagged: Dataset[(ScheduledEntry, Boolean)] = seenTable match {
      case None => frontier.map(e => (e, false))
      // stream-static left-outer join (D2 at scale: the static seen
      // side is a table, never a driver-side set)
      case Some(st) => graft.jobs.CrawlJob.flagSeen(frontier, st, None)
    }
    flagged
      .groupByKey(t => HostScheduler.domainOf(strictPerHost)(t._1))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(handleDomain(budget, hostBudgets))
  }

  /** Idempotent per-micro-batch snapshot commit (the north rule's
    * "streaming fetch loop writing into Iceberg tables with lineage +
    * checkpointed resume"): successes become ImageRecords in the
    * partitioned table, durable urlHashes extend the seen set, lineage
    * carries `runTag-batch-N`. A batch replayed after a crash (the
    * foreachBatch at-least-once contract) is detected by its runId in
    * the snapshot chain and skipped — commits stay exactly-once. */
  def commitOutcomesBatch(tableDir: String, runTag: String,
      compactEvery: Int = 0)(
      batch: Dataset[StreamedOutcome], batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val runId = s"$runTag-batch-$batchId"
    if (!graft.table.TableIO.committedRunIds(tableDir).contains(runId)) {
      val cached = batch.persist()
      try {
        if (!cached.isEmpty) {
          val images = cached
            .filter(o => o.status == CrawlStatus.Success && o.bytes != null)
            .map(o => ImageRecord(o.imageId, o.bytes, o.w, o.h, o.fmt,
              o.caption, o.phash, o.site, o.year, o.month, o.url,
              o.urlHash, o.vtimeMs, o.attempts))
          // Success-only delta: a Skipped outcome means the hash is
          // already in the committed seen set (the skip flag is exact),
          // so re-committing it would make deltas overlap and force
          // readSeen to dedup. Deltas stay pairwise disjoint as long as
          // the frontier contract holds (waves of one stream are
          // deduped by the upstream frontier build, D1).
          val seen = cached
            .filter(o => o.status == CrawlStatus.Success)
            .map(_.urlHash).distinct()
          val periods = cached
            .map(o => s"${o.site}/${o.year}/${o.month}").distinct()
            .collect().sorted.toSeq
          val snap = graft.table.TableIO.commit(spark, tableDir, images,
            seen, runId, periods, note = "streaming micro-batch")
          // manifest maintenance: a stream commits one snapshot per
          // micro-batch, so without periodic compaction readImages
          // plans O(batches) unions over the stream's life. Compact
          // whenever the chain holds `compactEvery` data dirs; replay
          // idempotence is unaffected (the cumulative runIds index
          // travels through compaction).
          if (compactEvery > 0 && snap.dataDirs.size >= compactEvery)
            graft.table.TableIO.compact(spark, tableDir)
        }
      } finally cached.unpersist()
    }
  }

  /** The frontier parquet waves under `frontierDir` as a stream, one
    * wave per micro-batch. */
  private def readFrontier(spark: SparkSession,
      frontierDir: String): Dataset[ScheduledEntry] =
    spark.readStream
      .schema(Encoders.product[ScheduledEntry].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(frontierDir)
      .as(Encoders.product[ScheduledEntry])

  /** The streaming fetch loop with a TABLE sink: frontier waves →
    * politeness scheduling → one snapshot commit per micro-batch. */
  def startToTable(spark: SparkSession, frontierDir: String,
      tableDir: String, checkpointDir: String, budget: PolitenessBudget,
      runTag: String = "stream",
      seenTable: Option[Dataset[Long]] = None,
      strictPerHost: Boolean = false,
      hostBudgets: Map[String, PolitenessBudget] = Map.empty,
      compactEvery: Int = 0) = {
    outcomes(readFrontier(spark, frontierDir), budget, seenTable,
        strictPerHost, hostBudgets)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(commitOutcomesBatch(tableDir, runTag, compactEvery) _)
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** Start the fetch loop reading frontier parquet waves from
    * `frontierDir`, writing outcome parquet to `outDir`, checkpointing
    * in `checkpointDir`. Caller stops the query. */
  def start(spark: SparkSession, frontierDir: String, outDir: String,
      checkpointDir: String, budget: PolitenessBudget,
      seenTable: Option[Dataset[Long]] = None,
      strictPerHost: Boolean = false) = {
    outcomes(readFrontier(spark, frontierDir), budget, seenTable,
        strictPerHost).writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** Watermarked EVENT-TIME windowed crawl metrics (SURVEY §2.10
    * "windowed aggs"): per-(site, tumbling window) fetch mix over the
    * outcome stream. Event time is the scheduler's deterministic
    * virtual fetch time, so the aggregate is reproducible and the
    * watermark semantics are exact: a window emits (append mode) only
    * once the max observed event time passes `window.end + delay`,
    * and rows arriving later than the watermark are DROPPED — which
    * is what bounds the state store to open windows instead of the
    * whole corpus at the 10^10-URL design point. Aggregation is all
    * built-in codegen (count/when/sum over a keyed shuffle). */
  def windowedMetrics(outcomes: Dataset[StreamedOutcome],
      windowDur: String = "1 minute",
      watermarkDelay: String = "2 minutes"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    outcomes.toDF()
      .withColumn("vtime", timestamp_millis(col("vtimeMs")))
      .withWatermark("vtime", watermarkDelay)
      .groupBy(window(col("vtime"), windowDur), col("site"))
      .agg(
        count(lit(1)).as("urls"),
        count(when(col("status") === CrawlStatus.Success, 1))
          .as("successes"),
        count(when(col("status") === CrawlStatus.Error, 1)).as("errors"),
        sum(when(col("bytes").isNotNull, length(col("bytes")))
          .otherwise(lit(0))).cast("long").as("bytes_total"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("site"),
        col("urls"), col("successes"), col("errors"), col("bytes_total"))
  }

  // ---- docs-dir registry for dedupIndexBatch --------------------------
  // The corpus-texts side of the streaming curation sink: one line per
  // live dir under docsDir (`batch-N` per micro-batch, `merged-vK`
  // after a fold), swapped atomically like the index meta — readers go
  // through the log, so a fold that crashes mid-way leaves only
  // unreferenced orphan dirs, never a double-read.
  private def docsLogPath(docsDir: String) =
    java.nio.file.Paths.get(docsDir, "docs-log.txt")

  private def readDocsLog(docsDir: String): Seq[String] =
    StateFiles.readText(docsLogPath(docsDir)).toSeq
      .flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)

  private def writeDocsLog(docsDir: String, dirs: Seq[String]): Unit =
    StateFiles.replaceText(docsLogPath(docsDir), dirs.mkString("\n"))

  /** Streaming NEAR-DUP curation over a document stream, backed by
    * the persisted signature index ([[graft.ops.DedupIndex]] — call
    * `DedupIndex.init(indexDir, ...)` once before starting): per
    * micro-batch,
    *
    *   1. probe the index against everything already indexed —
    *      cross-batch AND within-batch near-dup pairs, exact-verified;
    *   2. write the pairs under the batch's own dir (Overwrite → a
    *      replayed batch rewrites identical content, idempotent);
    *   3. persist the batch texts under `docsDir/batch-N` and register
    *      the dir in the atomically-swapped docs log (future batches'
    *      verify stage reads candidate texts from the log's dirs);
    *   4. append the batch's signatures, runId-guarded (a replayed
    *      foreachBatch must not re-append — self-pairing);
    *   5. when `compactEvery > 0` and either chain reaches it, fold:
    *      [[graft.ops.DedupIndex.compact]] squashes the signature
    *      deltas, and the `batch-*` text dirs merge into ONE
    *      `merged-vK` dir — without this a long-lived stream plans
    *      O(batches) scans for both the index read and the corpus
    *      read (the TableIO sink's compactEvery, mirrored).
    *
    * The INDEX is the stream's dedup state: bounded by signature
    * bytes (one row per doc, 8 B × (bands + 1) before compression,
    * ~1.3% of a 10 KB text), shared with batch jobs, and never
    * re-derived from settled documents — the
    * streaming complement of [[dedupWithinWatermark]] (which bounds
    * state by TIME and catches only intra-horizon duplicates; this
    * catches a duplicate of ANY earlier document, ever). Use as
    * `.foreachBatch(dedupIndexBatch(idx, docs, pairs, "run") _)`.
    *
    * Every intermediate the probe pins (persist on multi-executor
    * masters) is released per invocation via
    * [[graft.ops.DedupOps.withMaterializeScope]] — a long-lived stream
    * holds no cached blocks between micro-batches. */
  def dedupIndexBatch(indexDir: String, docsDir: String,
      pairsDir: String, runTag: String, idCol: String = "id",
      textCol: String = "text", threshold: Double = 0.6,
      compactEvery: Int = 0)(
      batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val runId = s"$runTag-batch-$batchId"
    if (graft.ops.DedupIndex.chain.replayed(indexDir, runId)) return
    val cached = batch.persist()
    try graft.ops.DedupOps.withMaterializeScope {
      if (!cached.isEmpty) {
        // corpus = every EARLIER batch's texts (a replayed batch must
        // not verify against its own crashed write — self is excluded
        // even though registration precedes the append commit)
        val self = s"batch-$batchId"
        val prior = readDocsLog(docsDir).filter(_ != self)
        val corpus =
          if (prior.isEmpty) cached.limit(0)
          else spark.read.parquet(prior.map(d => s"$docsDir/$d"): _*)
        graft.ops.DedupIndex.probePairs(cached, corpus, idCol, textCol,
            indexDir, threshold)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$pairsDir/$self")
        cached.select(org.apache.spark.sql.functions.col(idCol),
            org.apache.spark.sql.functions.col(textCol))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$docsDir/$self")
        // register texts BEFORE the append commit: a crash between the
        // two replays the whole batch (runId not yet committed), while
        // the reverse order could commit signatures whose texts no
        // future verify stage can read (silently dropped pairs). The
        // re-read+filter makes a replayed registration idempotent.
        writeDocsLog(docsDir,
          readDocsLog(docsDir).filter(_ != self) :+ self)
        graft.ops.DedupIndex.append(cached, idCol, textCol, indexDir,
          runId)
        if (compactEvery > 0) {
          if (graft.ops.DedupIndex.readMeta(indexDir)
              .exists(_.deltas.size >= compactEvery))
            graft.ops.DedupIndex.compact(indexDir)
          val live = readDocsLog(docsDir)
          if (live.size >= compactEvery) {
            val merged = f"merged-v${StateFiles
              .nextVersion(live.filter(_.startsWith("merged-")))}%05d"
            spark.read.parquet(live.map(d => s"$docsDir/$d"): _*)
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(s"$docsDir/$merged")
            writeDocsLog(docsDir, Seq(merged))
            live.foreach(d =>
              StateFiles.delete(java.nio.file.Paths.get(docsDir, d)))
          }
        }
      }
    } finally cached.unpersist()
  }

  /** Streaming SEMANTIC curation over an embedding stream, backed by
    * the persisted IVF index ([[graft.ops.AnnIndex]] — `build()` it on
    * the settled corpus before starting): per micro-batch,
    *
    *   1. probe the frozen-quantizer index — cross-batch AND
    *      within-batch semantic near-dup pairs
    *      ([[graft.ops.AnnIndex.probePairs]]);
    *   2. write the pairs under the batch's own dir (Overwrite → a
    *      replayed batch rewrites identical content, idempotent;
    *      pairs land BEFORE the append commits, so a crash between
    *      the two replays the whole batch rather than losing pairs);
    *   3. append the batch's vectors, runId-guarded (a replayed
    *      foreachBatch must not re-append — self-pairing);
    *   4. when `compactEvery > 0` and the delta chain reaches it,
    *      [[graft.ops.AnnIndex.compact]] folds it (probe results are
    *      bit-identical — the frozen centroids never move).
    *
    * Unlike [[dedupIndexBatch]] there is NO side corpus to maintain:
    * the index itself carries the vectors with their append-time
    * norms, so a settled embedding is never re-read, re-assigned or
    * re-normed by any future batch. State is bounded by index bytes
    * (vector + norm per doc) — the semantic complement of the
    * signature sink above. Every intermediate the probe pins is
    * released per invocation ([[graft.ops.DedupOps
    * .withMaterializeScope]]). Batch schema: (cid, cv). Use as
    * `.foreachBatch(semanticIndexBatch(idx, pairs, "run") _)`. */
  def semanticIndexBatch(indexDir: String, pairsDir: String,
      runTag: String, threshold: Double = 0.95, compactEvery: Int = 0)(
      batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
    val runId = s"$runTag-batch-$batchId"
    if (graft.ops.AnnIndex.chain.replayed(indexDir, runId)) return
    val cached = batch.persist()
    try graft.ops.DedupOps.withMaterializeScope {
      if (!cached.isEmpty) {
        graft.ops.AnnIndex.probePairs(cached, indexDir, threshold)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$pairsDir/batch-$batchId")
        graft.ops.AnnIndex.append(cached, indexDir, runId)
        if (compactEvery > 0 && graft.ops.AnnIndex.readMeta(indexDir)
            .exists(_.deltas.size >= compactEvery))
          graft.ops.AnnIndex.compact(indexDir)
      }
    } finally cached.unpersist()
  }

  /** Streaming CONTAINMENT curation over a document stream, backed by
    * the persisted containment index ([[graft.ops.ContainmentIndex]]
    * — `init(indexDir)` for a from-empty stream or `build(...)` over
    * an existing corpus first): per micro-batch, probe the index for
    * cross-batch AND within-batch containment pairs (the snippet-
    * inside-a-long-doc case the Jaccard sinks miss), write them under
    * the batch's dir (Overwrite → replay rewrites identical content),
    * then append the batch's postings runId-guarded. No side corpus:
    * the index's postings + sizes ARE the verify state — settled
    * documents are never re-shingled. `compactEvery` bounds the delta
    * chain AND re-freezes the stop set as the stream's df accumulates
    * (the from-empty start has an empty frozen set, so the cap
    * engages at the first compact). Use as
    * `.foreachBatch(containmentIndexBatch(idx, pairs, "run") _)`. */
  def containmentIndexBatch(indexDir: String, pairsDir: String,
      runTag: String, idCol: String = "id", textCol: String = "text",
      compactEvery: Int = 0)(
      batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
    val runId = s"$runTag-batch-$batchId"
    if (graft.ops.ContainmentIndex.chain.replayed(indexDir, runId)) return
    val cached = batch.persist()
    try graft.ops.DedupOps.withMaterializeScope {
      if (!cached.isEmpty) {
        // dfGuard ON: a stream's frozen stop set lags reality (empty
        // from init() until the first compact) — the guard keeps a
        // same-template batch from exploding the pair joins, at the
        // documented cost of excluding cap-crossing grams until the
        // next compact folds them into the real stop set
        graft.ops.ContainmentIndex.probePairs(cached, idCol, textCol,
            indexDir, dfGuard = true)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$pairsDir/batch-$batchId")
        graft.ops.ContainmentIndex.append(cached, idCol, textCol,
          indexDir, runId)
        if (compactEvery > 0 && graft.ops.ContainmentIndex
            .readMeta(indexDir).exists(_.deltas.size >= compactEvery))
          graft.ops.ContainmentIndex.compact(indexDir)
      }
    } finally cached.unpersist()
  }

  /** Streaming keep-first URL dedup with BOUNDED state:
    * `dropDuplicatesWithinWatermark` on the canonical urlHash keeps
    * the first outcome per hash among events within the watermark
    * horizon and EVICTS per-key state once the watermark passes — the
    * streaming-native complement of the durable cross-run Bloom
    * seen-set (BloomSeen handles re-crawls arbitrarily far apart;
    * this handles intra-stream duplicates without unbounded state,
    * where a plain `dropDuplicates` would accumulate one state row
    * per URL forever). */
  def dedupWithinWatermark(outcomes: Dataset[StreamedOutcome],
      watermarkDelay: String = "10 minutes"): Dataset[StreamedOutcome] = {
    import org.apache.spark.sql.functions._
    val spark = outcomes.sparkSession
    import spark.implicits._
    outcomes.toDF()
      .withColumn("vtime", timestamp_millis(col("vtimeMs")))
      .withWatermark("vtime", watermarkDelay)
      .dropDuplicatesWithinWatermark("urlHash")
      .drop("vtime")
      .as[StreamedOutcome]
  }
}
