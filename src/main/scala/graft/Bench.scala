package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: executes every contract query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Queries run through the `noop` sink, which evaluates every operator and
  * row fully (a bare .count() would let Catalyst prune the very
  * projections being measured).
  *
  * Measurement hygiene (round-4 lesson: identical code measured 9% slower
  * round-over-round, one query 4x, purely from GC/cleaner noise):
  * - each query gets 1 untimed warm-up rep, then `SPARK_GRAFT_BENCH_REPS`
  *   (default 3) timed reps; the reported number is the MEDIAN;
  * - the full result map is also written to BENCH_FULL.json (the driver's
  *   output capture tails the stdout line and can truncate its head, which
  *   round 4 lost the total and ~20 queries to), and the total is
  *   duplicated at the END of the JSON line so a head-truncated tail still
  *   carries it.
  *
  * DETERMINISTIC REGRESSION SIGNAL (round-10 verdict item 2): wall time
  * on a shared host swings ±30-50% per query, so every round's perf
  * review degenerates into noise adjudication. Plan-derived metrics
  * don't — per query the bench records
  *  - `scan_bytes`   — Σ `filesSize` over the executed plans' file
  *                     scans, accumulated across EVERY action the rep
  *                     runs (the index/gate lanes run internal writes
  *                     and bounded collects before the final gate
  *                     relation — last-action capture read 0 for all
  *                     of them): the bytes planning SELECTED after
  *                     partition pruning / DPP (lost pruning jumps it);
  *  - `scan_columns` — Σ scanned-schema width over the same scans:
  *                     lost COLUMN pruning jumps it (measured fact: on
  *                     local parquet, task-level `bytesRead` counts
  *                     only footer/metadata bytes — 17.8 KB for a
  *                     10.8 MB file, projection-independent — so the
  *                     plan-side columns are the honest signal);
  *  - `shuffle_records` — records written to shuffle across all
  *                     exchanges, from task metrics (an extra or
  *                     premature exchange jumps this; records, not
  *                     bytes, because compressed shuffle BYTES vary
  *                     with partition framing);
  *  - `shuffle_bytes` — the compressed write volume (diagnostic:
  *                     approximately stable, framing-dependent);
  *  - `output_rows`  — rows delivered to the sink (result drift),
  *                     counted by an [[org.apache.spark.sql.Observation]]
  *                     riding the SAME execution (CollectMetricsExec —
  *                     no extra pass; the noop sink reports no task
  *                     output metrics of its own).
  * These are properties of the PLAN, not the host: BenchMetricsSpec
  * pins scan_bytes/scan_columns/shuffle_records/output_rows invariant
  * under a shuffle-partition change for representative queries, so a
  * round-over-round diff of BENCH_FULL.json separates real plan
  * regressions from timing noise. Metrics ride ONLY the last timed rep
  * (identical across reps for a deterministic plan; the observation's
  * per-row accumulator stays off the other reps) and are written to
  * BENCH_FULL.json only — the stdout contract line keeps its
  * driver-parsed shape. */
object Bench {

  /** Accumulating task-metrics listener. Spark delivers task-end events
    * asynchronously; [[drain]] flushes the bus (via the package-private
    * `listenerBus` accessor — reflection keeps this tooling-only code
    * out of the spark package) before a snapshot is read. */
  /** One query's deterministic regression record (see object doc). */
  final case class PlanMetrics(scanBytes: Long, scanColumns: Long,
      shuffleRecords: Long, shuffleBytes: Long, outputRows: Long)

  final class TaskMetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    private val shuffleRecords = new java.util.concurrent.atomic.AtomicLong
    private val shuffleBytes = new java.util.concurrent.atomic.AtomicLong

    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def reset(): Unit = { shuffleRecords.set(0); shuffleBytes.set(0) }

    def snapshot(): (Long, Long) = (shuffleRecords.get, shuffleBytes.get)
  }

  /** Accumulates plan-side scan stats over EVERY action completed while
    * registered (delivered async on the listener bus — drain before a
    * snapshot). Accumulation, not last-action capture, because the
    * index/gate lanes run several internal actions (index writes,
    * bounded collects) before their final gate relation: last-action
    * capture read `scan_bytes=0` for all of them, blind to exactly the
    * regression the column exists for — a lost touched-partition
    * pruning inside the lane (an earlier IVF compaction gate's bug
    * class). Accumulated, the column covers the rep the same way
    * shuffle_records always did. */
  final class CaptureQEListener
      extends org.apache.spark.sql.util.QueryExecutionListener {
    private val bytes = new java.util.concurrent.atomic.AtomicLong
    private val cols = new java.util.concurrent.atomic.AtomicLong
    private val seen = new java.util.concurrent.atomic.AtomicLong
    private def add(qe: org.apache.spark.sql.execution.QueryExecution)
        : Unit =
      try {
        val (b, c) = scanStats(qe)
        bytes.addAndGet(b); cols.addAndGet(c); seen.incrementAndGet()
      } catch { case _: Throwable => () } // a plan that can't render
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = add(qe)
    /** (scan_bytes, scan_columns), or (-1,-1) if no action reported. */
    def snapshot(): (Long, Long) =
      if (seen.get == 0L) (-1L, -1L) else (bytes.get, cols.get)
  }

  /** Walk an executed plan INCLUDING the trees AQE hides (final
    * adaptive plan, materialized query stages, reused exchanges) —
    * a plain `collect` stops at those boundaries. */
  private def walkPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => walkPlan(a.executedPlan)
      case q: QueryStageExec => walkPlan(q.plan)
      case r: ReusedExchangeExec => walkPlan(r.child)
      case _ => p.children.flatMap(walkPlan)
    })
  }

  /** (scan_bytes, scan_columns) from the executed plan's file scans:
    * `filesSize` is the post-pruning planned byte volume, the scanned
    * schema width the column-pruning record. */
  private def scanStats(qe: org.apache.spark.sql.execution.QueryExecution)
      : (Long, Long) = {
    val scans = walkPlan(qe.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    (scans.map(f => f.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum,
      scans.map(_.requiredSchema.size.toLong).sum)
  }

  /** One metrics-bearing execution of a query: noop-sink write with the
    * task listener freshly reset, an [[org.apache.spark.sql.Observation]]
    * counting sink rows in the same pass, and the executed plan
    * captured for the scan-side columns. Returns (seconds, metrics).
    * Shared by the bench main (its last timed rep) and
    * BenchMetricsSpec (the invariance pin), so the two can never
    * measure different things. */
  def measuredRep(s: SparkSession, listener: TaskMetricsListener,
      fn: SparkSession => org.apache.spark.sql.DataFrame): (Double, PlanMetrics) = {
    import org.apache.spark.sql.functions.{count, lit}
    val qeCap = new CaptureQEListener
    // drain BEFORE registering: a straggler completion event from the
    // previous rep must not accumulate into this rep's scan columns
    drainListenerBus(s)
    s.listenerManager.register(qeCap)
    listener.reset()
    val t0 = System.nanoTime()
    val obs = org.apache.spark.sql.Observation()
    var observed = false
    try {
      val df = fn(s)
      val df2 =
        try { observed = true; df.observe(obs, count(lit(1)).as("rows")) }
        catch { case _: Throwable => observed = false; df }
      df2.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      // a failed action never reaches the observation point, and
      // Observation.get would block forever waiting for it
      observed = false
      System.err.println(s"[bench] metrics rep failed: ${e.getMessage}")
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val outRows =
      if (observed)
        try obs.get("rows").asInstanceOf[Long]
        catch { case _: Throwable => -1L }
      else -1L
    drainListenerBus(s)
    val (sr, sb) = listener.snapshot()
    val (scanBytes, scanCols) = qeCap.snapshot()
    s.listenerManager.unregister(qeCap)
    System.gc()
    (sec, PlanMetrics(scanBytes, scanCols, sr, sb, outRows))
  }

  /** Flush the async listener bus so a snapshot covers every task of
    * the action that just returned. `listenerBus` is private[spark];
    * its generated accessor is public bytecode, and waitUntilEmpty
    * bounds the stall — benign best-effort if the internals move. */
  def drainListenerBus(s: SparkSession): Unit =
    try {
      val sc = s.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // test tables are single parquet files; the default 128m split size
      // would hand a whole table to 1-2 tasks. 16m keeps every core on a
      // scan at local SFs — the same lever, sized oppositely, that keeps
      // partitions memory-bounded at 100 TB (SURVEY.md §4 spill-aware).
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      // JVM (not ICU) case mapping: identical on ASCII, avoids a ~60s
      // one-time ICU table init the first time upper()/lower() executes.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    // untimed warmup: absorb JVM/codegen/scan init so the first measured
    // query isn't charged for it
    try {
      import org.apache.spark.sql.functions._
      val li = Tables.load(spark, sfDir, "lineitem")
      li.groupBy(col("l_returnflag")).count()
        .join(li.limit(10), Seq("l_returnflag"))
        .orderBy("l_returnflag")
        .write.format("noop").mode("overwrite").save()
      System.gc()
    } catch { case _: Throwable => () }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // Nudge the ContextCleaner: shuffle/broadcast state is only released
      // on GC, and without pressure the JVM defers it — measured ~5-10x
      // degradation of later queries in a 50-query run without this.
      System.gc()
      sec
    }
    // optional comma-separated filter for local iteration on a few queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.map { case (name, fn) =>
      runOnce(name, fn) // warm-up: codegen + scan caches, untimed
      val head = Seq.fill(reps - 1)(runOnce(name, fn))
      // the LAST rep carries the metrics snapshot (deterministic per
      // plan, so any rep would do; isolating one keeps it exact)
      val (last, metrics) = measuredRep(spark, listener, s => fn(s, sfDir))
      val timed = (head :+ last).sorted
      val median = timed(timed.length / 2)
      System.err.println(
        f"[bench] $name median $median%.3fs (reps ${timed.map(t => f"$t%.3f").mkString(",")})" +
          s" scanB=${metrics.scanBytes} shufRec=${metrics.shuffleRecords}" +
          s" outRows=${metrics.outputRows}")
      (name, median, metrics)
    }
    val qs = results.map { case (k, v, _) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // contract-size fields derived from SparkEntry ITSELF, never hand
    // counts (round-7 lesson: hand-maintained totals in the progress notes
    // drifted from the driver's ground truth); n_oracle must equal the
    // pass+fail row count of the driver's CORRECTNESS file exactly
    val nQueries = SparkEntry.queries.size
    val nOracle = SparkEntry.oracleSql.size
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"n_queries":$nQueries,"n_oracle":$nOracle,"total_sec":$total%.3f}"""
    println(line)
    // full copy in the repo: immune to any driver-side stdout truncation,
    // and EXTENDED with the deterministic task-metric columns (stdout
    // keeps the driver-parsed shape; the file is the regression record)
    val ms = results.map { case (k, _, m) =>
      s""""$k":{"scan_bytes":${m.scanBytes},"scan_columns":${m.scanColumns},""" +
        s""""shuffle_records":${m.shuffleRecords},"shuffle_bytes":${m.shuffleBytes},""" +
        s""""output_rows":${m.outputRows}}"""
    }.mkString("{", ",", "}")
    val fileLine = line.dropRight(1) + s""","task_metrics":$ms}"""
    // Only for full runs — a SPARK_GRAFT_BENCH_ONLY iteration must not
    // clobber the complete map.
    if (only.isEmpty) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
          (fileLine + "\n").getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
