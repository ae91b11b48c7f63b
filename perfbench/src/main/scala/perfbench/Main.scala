package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of the crawl and curation engine in one JVM at
  * local[nproc]: one client, one job at a time.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * Main --smoke --work <dir>
  * }}}
  *
  * A run prints a noise stamp line and, last, one JSON result line.
  * `--trace 0` reports the end-to-end metrics; `--trace 1` runs some
  * untraced jobs, then traced passes, and reports the per-layer ones.
  */
object Main {

  final case class Metric(name: String, unit: String)

  val EndToEnd = Seq(Metric("setup_s", "s"), Metric("task_cpu_rel", "x"),
    Metric("bytes_per_item", "B"))

  private def spanMetrics(span: String): Seq[Metric] =
    Seq(Metric(span, "s"), Metric(s"$span.cpu_s", "s"),
      Metric(s"$span.gc_s", "s"), Metric(s"$span.shuffle_bytes", "B"),
      Metric(s"$span.spill_bytes", "B"))

  val PerLayer: Seq[Metric] =
    spanMetrics("jobs.harvest_s") ++ Seq(Metric("jobs.harvest_rows", "count")) ++
    spanMetrics("jobs.frontier_s") ++ Seq(Metric("jobs.frontier_rows", "count"),
      Metric("jobs.frontier_keep_ratio", "ratio"), Metric("seen.keys", "count")) ++
    spanMetrics("seen.sketch_s") ++ spanMetrics("seen.flag_s") ++
    Seq(Metric("seen.maybe_rate", "ratio"), Metric("seen.fp_share", "ratio")) ++
    spanMetrics("politeness.schedule_s") ++
    Seq(Metric("politeness.requests", "count"),
      Metric("politeness.retry_share", "ratio")) ++
    spanMetrics("fetch.encode_s") ++
    Seq(Metric("fetch.images", "count"), Metric("fetch.bytes", "B")) ++
    spanMetrics("table.read_seen_s") ++ spanMetrics("table.commit_s") ++
    Seq(Metric("table.files_written", "count"),
      Metric("table.bytes_written", "B")) ++
    spanMetrics("ops.exact_s") ++ spanMetrics("ops.pairs_s") ++
    Seq(Metric("ops.pairs", "count")) ++ spanMetrics("ops.cc_s") ++
    spanMetrics("ops.survivors_s") ++
    Seq(Metric("ops.signature_us_per_doc", "us")) ++
    spanMetrics("ops.index_probe_s") ++
    Seq(Metric("ops.index_candidates", "count"),
      Metric("ops.index_verify_yield", "ratio")) ++
    spanMetrics("ops.index_append_s") ++ spanMetrics("ops.index_compact_s") ++
    Seq(Metric("trace.coverage", "ratio"), Metric("jvm.peak_rss_mb", "MiB"),
      Metric("run.job_s", "s"), Metric("run.items_per_s", "1/s"),
      Metric("run.task_cpu_s", "s"), Metric("run.probe_cpu_s", "s"))

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(Metric, Double)]): String = {
    val ms = metrics.map { case (m, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""${m.name}": {"value": $x, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  private final case class Job(label: String, digest: Option[String],
      problems: Seq[String])

  /** One measured job: wall seconds, task CPU seconds, the reference
    * kernel's task CPU seconds just before it, checked output. */
  private final case class Measured(secs: Double, taskCpuS: Double,
      probeCpuS: Double, out: Outcome)

  /** Jobs of one run with their checks. Every job of a run starts from
    * the same inputs and state, so every job must leave the same output
    * digest, traced passes included. */
  private final class Ledger(wl: Workload, spark: SparkSession,
      listener: LayerListener) {
    private val jobs = ArrayBuffer.empty[Job]

    /** Restores the starting state, runs the reference kernel, then
      * `body` (a job), and reads and checks the job's output; returns
      * the measurement when both succeed. The job's Spark tasks are
      * attributed to a span named after it. */
    def attempt(label: String)(body: => Unit): Option[Measured] =
      try {
        wl.reset()
        val sc = spark.sparkContext
        val probe = Probe.run(sc, listener, s"probe:$label")
        val (cpu0, gc0) = (Host.cpuSeconds(), Host.gcSeconds())
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        sc.setLocalProperty(LayerListener.SpanKey, s"job:$label")
        val (_, secs) = try timed(body)
          finally sc.setLocalProperty(LayerListener.SpanKey, null)
        val (cpu, gc) = (Host.cpuSeconds() - cpu0, Host.gcSeconds() - gc0)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        listener.drain(sc)
        val taskCpu = listener.acc(s"job:$label").cpuNs.get / 1e9
        val (out, checkS) = timed(wl.outcome(0L))
        System.err.println(f"[perfbench] $label: job $secs%.3f s, task cpu " +
          f"$taskCpu%.2f s, probe cpu $probe%.3f s, jvm cpu $cpu%.2f s, " +
          f"gc $gc%.3f s, codegen compiles $compiles, check $checkS%.3f s")
        jobs += Job(label, Some(out.digest), out.failures)
        if (out.failures.isEmpty) Some(Measured(secs, taskCpu, probe, out))
        else None
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          jobs += Job(label, None,
            Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          None
      }

    def attempted: Int = jobs.size

    /** Problems per failed job, digest mismatches included. */
    def failures: Seq[(String, Seq[String])] = {
      val first = jobs.flatMap(_.digest).headOption
      jobs.toSeq.map { j =>
        val drift = j.digest.filter(d => !first.contains(d))
          .map(d => s"output digest $d differs from ${first.get}")
        (j.label, j.problems ++ drift)
      }.filter(_._2.nonEmpty)
    }
  }

  private def runBench(workload: String, size: Workload.Size, seed: Long,
      seconds: Double, trace: Boolean, work: Path): Unit = {
    val stamp = new Host.Stamp
    val (spark, sessionS) = timed(session(work))
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val wl = Workload(workload, spark, work, seed, size)
    // the starting state is built three times; its median counts
    val stateS = (1 to 3).map(_ => timed(wl.setup())._2)
    val ledger = new Ledger(wl, spark, listener)
    // checked but unmeasured jobs: in a fresh JVM, job times fall for
    // several jobs (compilation, caches) before they level off
    val (_, warmS) = timed((1 to size.warmJobs).foreach(w =>
      ledger.attempt(s"warm-up $w")(wl.job(s"warmup-$w"))))
    val setupS = sessionS + median(stateS) + warmS
    System.err.println(f"[perfbench] session $sessionS%.3f s, state " +
      stateS.map(x => f"$x%.3f").mkString("/") + f" s, warm-up $warmS%.3f s")

    // `--seconds / size.jobS` jobs, at least three: about `--seconds` on
    // the host the sizes were set on. A fixed job count, not a deadline:
    // on a slow host a deadline would measure fewer, and so earlier and
    // colder, jobs than on a fast one
    val jobs = (1 to math.max(3, math.round(seconds / size.jobS).toInt))
      .flatMap(i => ledger.attempt(s"job $i")(wl.job(s"job-$i")))
    val jobS = median(jobs.map(_.secs))
    val itemsPerS = median(jobs.map(j => j.out.items / j.secs))
    val taskCpuS = median(jobs.map(_.taskCpuS))
    val probeCpuS = median(jobs.map(_.probeCpuS))

    val metrics: Seq[(Metric, Double)] =
      if (!trace) {
        Seq(setupS, taskCpuS / probeCpuS,
          median(jobs.map(_.out.bytesPerItem))).zip(EndToEnd).map(_.swap)
      } else {
        val tr = new Tracer(spark.sparkContext, listener, 0)
        ledger.attempt("traced pass")(wl.traced(tr, "traced"))
        tr.finish()
        tr.count("trace.coverage", tr.spanSeconds / jobS)
        tr.count("jvm.peak_rss_mb", Host.peakRssMb())
        tr.count("run.job_s", jobS)
        tr.count("run.items_per_s", itemsPerS)
        tr.count("run.task_cpu_s", taskCpuS)
        tr.count("run.probe_cpu_s", probeCpuS)
        PerLayer.map(m => (m, tr.metrics.getOrElse(m.name, 0.0)))
      }

    val failed = ledger.failures
    for ((job, problems) <- failed; p <- problems)
      System.err.println(s"[perfbench] FAILED $job: $p")
    println(stamp.json())
    println(json(failed.isEmpty, ledger.attempted, failed.size, metrics))
    spark.stop()
  }

  /** Tiny-size pass over every workload on two seeds: each job's checks
    * pass, the traced pass commits the same output as the untraced job,
    * and a skewed expected value makes the checks fail. */
  private def smoke(work: Path): Boolean = {
    val spark = session(work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val problems = ArrayBuffer.empty[String]
    for (seed <- Seq(42L, 7L); name <- Workload.Names) {
      val wl = Workload(name, spark, work.resolve(s"smoke-$name"), seed,
        Workload.sizeOf(name, tiny = true))
      val where = s"$name seed $seed"
      wl.setup()
      wl.reset(); wl.job("smoke-1")
      val plain = wl.outcome(0L)
      problems ++= plain.failures.map(f => s"$where: $f")
      wl.reset()
      val tr = new Tracer(spark.sparkContext, listener, 0)
      wl.traced(tr, "smoke-2")
      tr.finish()
      val traced = wl.outcome(0L)
      problems ++= traced.failures.map(f => s"$where traced: $f")
      if (traced.digest != plain.digest)
        problems += s"$where: traced digest ${traced.digest} != ${plain.digest}"
      wl.reset(); wl.job("smoke-3")
      val trips = wl.outcome(1L).failures.nonEmpty
      if (!trips)
        problems += s"$where: a skewed expected value passed the checks"
      println(s"[smoke] $where: checks pass, traced digest " +
        s"${if (traced.digest == plain.digest) "matches" else "DIFFERS"}, " +
        s"skewed check ${if (trips) "trips" else "DOES NOT TRIP"}")
    }
    spark.stop()
    problems.foreach(p => println(s"[smoke] FAILED $p"))
    println(if (problems.isEmpty) "[smoke] ok" else "[smoke] failed")
    problems.isEmpty
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Path.of(opts.getOrElse("work", "perfbench/.work")).toAbsolutePath
    Files.createDirectories(work)
    if (args.contains("--smoke")) sys.exit(if (smoke(work)) 0 else 1)
    val workload = opts.getOrElse("workload", "")
    require(Workload.Names.contains(workload),
      s"--workload must be one of ${Workload.Names.mkString(", ")}")
    runBench(workload, Workload.sizeOf(workload, tiny = false),
      opts.getOrElse("seed", "42").toLong,
      opts.getOrElse("seconds", "10").toDouble,
      opts.getOrElse("trace", "0") == "1", work)
  }
}
