package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of one workload: one client thread runs a fixed,
  * seeded sequence of operations (a round) a fixed number of times, sized
  * from the measuring time, times every operation and checks every output.
  *
  * Untraced, it reports the end-to-end metrics. Traced, it alternates
  * untraced and traced rounds and reports per-layer metrics from the
  * traced ones, plus the tracing overhead (traced minus untraced round
  * time). Prints `detail <json>` and, last, `result <json>`. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, k: Int = 4,
      work: String = "", tiny: Boolean = false, setupReps: Int = 2,
      spans: String = "", selftest: Boolean = false, train: Boolean = false)

  def parse(args: Array[String]): Args =
    args.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--k", v)) => a.copy(k = v.toInt)
      case (a, Array("--work", v)) => a.copy(work = v)
      case (a, Array("--spans", v)) => a.copy(spans = v)
      case (a, Array("--selftest", v)) => a.copy(selftest = v == "1")
      case (a, Array("--train", v)) => a.copy(train = v == "1")
      case (_, other) => throw new IllegalArgumentException(
        s"unknown argument ${other.mkString(" ")}")
    }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.k}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.k.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      // deep call sites: jobs are charged to the innermost library frame
      .config("spark.callstack.depth", "400")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, samples). Below eleven samples, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  final case class Sample(kind: String, label: String, seconds: Double,
      cpuSeconds: Double, result: Checked)

  /** One round: its samples, counters and, when traced, its trace. */
  final case class RoundResult(traced: Boolean, samples: Seq[Sample],
      stats: RoundStats, spans: Seq[Span], jobs: Seq[Job],
      counters: Map[Long, SpanCounters], rootKinds: Map[Long, String]) {
    def runS: Double = samples.map(_.seconds).sum
    def cpuS: Double = samples.map(_.cpuSeconds).sum
  }

  /** Sets up `setupReps` times (the last set-up is kept), then takes the
    * references and runs rounds. With two set-ups in one JVM, the first
    * cold and the second warm, their median is their mean: `setup_s`
    * carries the library's first-call costs at half weight. */
  final class Run(a: Args) {
    val wl: Workload = Workload(a.workload, a.tiny)
    val runId = s"${a.workload}-${a.seed}-${java.util.UUID.randomUUID().toString.take(8)}"
    var spark: SparkSession = _
    var tracer: Tracer = _
    val setupSeconds = mutable.Buffer[Double]()
    val sessionSeconds = mutable.Buffer[Double]()
    val warmupSeconds = mutable.Buffer[Double]()
    val problems = mutable.Buffer[String]()
    var dir = ""
    var candidates = 0L

    /** One set-up is a session start, input generation and the warm-up
      * pass (one op of each kind through the library). The references,
      * which only the harness computes, are taken once afterwards and are
      * not timed; the last warm-up's outputs are checked against them. */
    def setup(): Unit = {
      var checks = Seq.empty[(String, () => Checked)]
      for (rep <- 0 until a.setupReps) {
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session(a)
        sessionSeconds += (System.nanoTime() - t0) / 1e9
        tracer = new Tracer(spark.sparkContext, runId)
        if (a.trace) {
          spark.sparkContext.addSparkListener(tracer)
          spark.listenerManager.register(tracer.queryListener)
        }
        val prev = dir
        dir = s"${a.work}/setup$rep"
        Workload.delete(dir)
        wl.prepare(spark, dir, a.seed)
        val w0 = System.nanoTime()
        checks = wl.warmup(spark, dir, tracer).map(op => op.label -> op.run())
        warmupSeconds += (System.nanoTime() - w0) / 1e9
        setupSeconds += (System.nanoTime() - t0) / 1e9
        if (prev.nonEmpty) Workload.delete(prev)
      }
      wl.references(spark, dir)
      checks.foreach { case (label, check) =>
        val r = check()
        if (!r.ok) problems += s"warm-up $label: ${r.note}"
      }
      if (a.trace) wl match {
        case c: CorpusDedup => candidates = c.candidates(spark, tracer)
        case _ =>
      }
    }

    def round(traced: Boolean): RoundResult = {
      tracer.reset()
      tracer.enabled = traced
      val stats = new RoundStats
      val ops = wl.round(spark, dir, tracer, stats)
      System.gc()
      val samples = mutable.Buffer[Sample]()
      val roots = mutable.Map[Long, String]()
      try ops.foreach { op =>
        val c0 = cpuNs(); val t0 = System.nanoTime()
        val check =
          try tracer.span("client", op.kind)(op.run())
          catch { case e: Throwable =>
            () => Checked(false, 0L, "", None, s"${op.label} threw $e")
          }
        val secs = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNs() - c0) / 1e9
        val res = try check() catch { case e: Throwable =>
          Checked(false, 0L, "", None, s"${op.label} check threw $e")
        }
        if (!res.ok) problems += s"${op.label}: ${res.note}"
        samples += Sample(op.kind, op.label, secs, cpu, res)
        if (!res.ok) throw new IllegalStateException(res.note)
      } catch { case _: IllegalStateException => () } // later ops depend on it
      tracer.enabled = false
      wl.finish(spark, dir, stats)
      val spans = if (traced) tracer.allSpans else Nil
      spans.filter(s => s.parent == 0L && s.layer == "client")
        .foreach(s => roots(s.id) = s.name)
      val jobs = if (traced) tracer.allJobs else Nil
      RoundResult(traced, samples.toSeq, stats, spans, jobs,
        spans.map(s => s.id -> tracer.countersFor(s.id)).toMap, roots.toMap)
    }

    /** The round count depends only on `seconds` and the workload, never
      * on how fast the rounds run, so every run of one workload takes the
      * same number of samples. Traced: untraced, traced, untraced at
      * least, so the untraced median brackets the traced round in time. */
    def roundCount: Int =
      math.max(if (a.trace) 3 else 1, math.round(a.seconds / wl.roundSeconds).toInt)

    def measure(): Seq[RoundResult] = {
      val rounds = mutable.Buffer[RoundResult]()
      while (problems.isEmpty && rounds.size < roundCount)
        rounds += round(a.trace && rounds.size % 2 == 1)
      rounds.toSeq
    }
  }

  // ---- reporting ----

  def e2e(run: Run, rounds: Seq[RoundResult]): (Map[String, (Double, String)], Map[String, Any]) = {
    val plain = rounds.filterNot(_.traced)
    val samples = plain.flatMap(_.samples)
    def lat(kind: String) = samples.filter(_.kind == kind).map(_.seconds)
    val (qTail, qPct, qN) = tail(lat("query"))
    val (cTail, cPct, cN) = tail(lat("commit"))
    val recalls = samples.flatMap(_.result.recall)
    val metrics = Map(
      "setup_s" -> (median(run.setupSeconds.toSeq), "s"),
      "run_s" -> (median(plain.map(_.runS)), "s"),
      "query_p50_s" -> (median(lat("query")), "s"),
      "query_tail_s" -> (qTail, "s"),
      "commit_p50_s" -> (median(lat("commit")), "s"),
      "commit_tail_s" -> (cTail, "s"),
      "cpu_s" -> (median(plain.map(_.cpuS)), "s"),
      "store_bytes_per_input_byte" -> (median(plain.map(r =>
        r.stats.storeBytes.toDouble / math.max(r.stats.inputBytes, 1L))), "ratio"),
      "recall_at_10" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size, "ratio"))
    val detail = Map[String, Any](
      "query_tail" -> Map("percentile" -> qPct, "samples" -> qN),
      "commit_tail" -> Map("percentile" -> cPct, "samples" -> cN),
      "setup_runs_s" -> run.setupSeconds.toSeq,
      "session_start_s" -> run.sessionSeconds.toSeq,
      "warmup_s" -> run.warmupSeconds.toSeq,
      "round_run_s" -> plain.map(_.runS))
    (metrics, detail)
  }

  /** Per-layer metrics of one traced round. */
  def layers(run: Run, r: RoundResult): Map[String, Double] = {
    val st = LayerStats.of(r.spans, r.jobs)
    val m = mutable.LinkedHashMap[String, Double]()
    for (l <- Layers.all) {
      val s = st.getOrElse(l, new LayerStats)
      m(s"$l.self_s") = s.selfUs / 1e6
      m(s"$l.jobs") = s.jobs.toDouble
      m(s"$l.tasks") = s.tasks.toDouble
      m(s"$l.driver_gap_s") = s.gapUs / 1e6
      m(s"$l.failed") = s.failed.toDouble
    }
    def spans(name: String) = r.spans.filter(_.name == name)
    def dur(name: String) = median(spans(name).map(s => (s.endUs - s.startUs) / 1e6))
    def counter(name: String)(f: SpanCounters => Long): Double =
      spans(name).map(s => r.counters.get(s.id).map(f).getOrElse(0L)).sum.toDouble
    def per(total: Double, n: Double) = if (n == 0) 0.0 else total / n
    val commits = r.samples.count(_.kind == "commit").toDouble
    val sums = r.stats.sums
    // store time per commit: the store's share of each commit operation
    val children = r.spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Span] =
      children.getOrElse(id, Nil).flatMap(c => c +: subtree(c.id))
    val storePerCommit = r.rootKinds.collect { case (id, "commit") =>
      val sp = r.spans.filter(_.id == id) ++ subtree(id)
      val ids = sp.map(_.id).toSet
      LayerStats.of(sp, r.jobs.filter(j => ids(j.spanId)))
        .get("store").map(_.selfUs / 1e6).getOrElse(0.0)
    }.toSeq
    val rel = st.getOrElse("operators.relational", new LayerStats)
    val dd = st.getOrElse("operators.dedup", new LayerStats)
    m ++= Seq(
      "ingest.parse_s" -> dur("ingest.parse"),
      "store.upsert_s" -> median(storePerCommit),
      "store.upsert_files_written" -> per(sums.getOrElse("store.upsert_files_written", 0.0), commits),
      "models.mart_s" -> dur("models.mart"),
      "models.mart_files_scanned" -> per(counter("models.mart")(_.scanFiles),
        spans("models.mart").size),
      "operators.relational.query_s" -> dur("operators.relational.query"),
      "operators.relational.scan_bytes" -> counter("operators.relational.query")(_.scanBytes),
      "operators.relational.shuffle_records" -> rel.shuffleRecords.toDouble,
      "operators.relational.executor_cpu_s" -> rel.cpuNs / 1e9,
      "operators.similarity.build_s" -> dur("operators.similarity.build"),
      "operators.similarity.maintain_s" -> dur("operators.similarity.maintain"),
      "store.files_per_commit" -> per(sums.getOrElse("store.files_per_commit", 0.0), commits),
      "store.touched_partitions_per_commit" ->
        per(sums.getOrElse("store.touched_partitions_per_commit", 0.0), commits),
      "store.bytes_written_per_commit" ->
        per(sums.getOrElse("store.bytes_written_per_commit", 0.0), commits),
      "store.live_files" -> sums.getOrElse("store.live_files", 0.0),
      "operators.similarity.probe_s" -> dur("operators.similarity.probe"),
      "sources.probe_files_scanned" -> per(counter("operators.similarity.probe")(_.scanFiles),
        spans("operators.similarity.probe").size),
      "sources.rows_scanned_per_result" -> per(counter("operators.similarity.probe")(_.scanRows),
        sums.getOrElse("probe.result_rows", 0.0)),
      "operators.dedup.minhash_s" -> dur("operators.dedup.minhash"),
      "operators.dedup.span_scrub_s" -> dur("operators.dedup.span_scrub"),
      "operators.dedup.candidates_per_verified_pair" ->
        per(run.candidates.toDouble, sums.getOrElse("dedup.verified_pairs", 0.0)),
      "operators.dedup.shuffle_records" -> dd.shuffleRecords.toDouble,
      "operators.dedup.executor_cpu_s" -> dd.cpuNs / 1e9,
      "operators.dedup.cached_bytes" -> (counter("operators.dedup.minhash")(_.cachedBytes) +
        counter("operators.dedup.span_scrub")(_.cachedBytes)))
    m.toMap
  }

  /** Counters that must repeat exactly for one seed. */
  val deterministic: Seq[String] = Seq("store.upsert_files_written",
    "models.mart_files_scanned", "store.files_per_commit",
    "store.touched_partitions_per_commit", "store.live_files",
    "sources.probe_files_scanned", "operators.relational.shuffle_records",
    "operators.dedup.shuffle_records", "operators.dedup.candidates_per_verified_pair") ++
    Layers.all.map(l => s"$l.jobs")

  def perLayer(run: Run, rounds: Seq[RoundResult]): (Map[String, (Double, String)], Map[String, Any]) = {
    val traced = rounds.filter(_.traced).map(r => layers(run, r))
    val keys = traced.head.keys.toSeq.sorted
    def unit(k: String) =
      if (k.endsWith("_s")) "s"
      else if (k.contains("bytes")) "bytes"
      else if (k.endsWith("_per_result") || k.endsWith("_per_verified_pair")) "ratio"
      else "count"
    val tracedRun = median(rounds.filter(_.traced).map(_.runS))
    val plainRun = median(rounds.filterNot(_.traced).map(_.runS))
    val metrics = keys.map(k => k -> (median(traced.map(_(k))), unit(k))).toMap ++ Map(
      "trace.traced_run_s" -> (tracedRun, "s"),
      "trace.untraced_run_s" -> (plainRun, "s"),
      "trace.overhead_s" -> (tracedRun - plainRun, "s"))
    val repeat = deterministic.forall(k => traced.map(_(k)).distinct.size == 1)
    val rows = rounds.map(_.samples.map(_.result.rows).sum).distinct.size == 1
    (metrics, Map("counters_repeat" -> (repeat && rows), "traced_rounds" -> traced.size))
  }

  // ---- JSON ----

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case (a, b) => json(Seq(a, b))
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    if (a.selftest || a.train) sys.exit(SelfTest.run(a))
    // a traced run reports no setup_s, so it sets up once
    val run = new Run(if (a.trace) a.copy(setupReps = 1) else a)
    val code = try {
      run.setup()
      val rounds = run.measure()
      val (metrics, detail) = if (a.trace) perLayer(run, rounds) else e2e(run, rounds)
      val samples = rounds.flatMap(_.samples)
      val failed = samples.count(!_.result.ok)
      if (a.trace && a.spans.nonEmpty)
        run.tracer.writeSpans(java.nio.file.Paths.get(a.spans), rounds.flatMap(_.spans))
      println("detail " + json(detail ++ Map(
        "run_id" -> run.runId, "workload" -> a.workload, "seed" -> a.seed,
        "k" -> a.k, "nproc" -> Runtime.getRuntime.availableProcessors,
        "rounds" -> rounds.size, "problems" -> run.problems.toSeq,
        "fail_ratio" -> failed.toDouble / math.max(samples.size, 1),
        "ops" -> samples.map(s => Seq(s.kind, s.label, s.seconds, s.result.ok)))))
      println("result " + json(Map(
        "correct" -> (run.problems.isEmpty && samples.nonEmpty),
        "attempted" -> samples.size, "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
      0
    } catch { case e: Throwable =>
      System.err.println(s"perfbench: ${a.workload} failed: $e")
      e.printStackTrace()
      1
    } finally {
      if (run.spark != null) run.spark.stop()
    }
    sys.exit(code)
  }
}

/** Runs every workload twice at tiny scale with one seed and checks that
  * outputs and deterministic counters repeat exactly. With `train`, runs
  * the first workload once, to load the classes a run needs. */
object SelfTest {
  def run(a: Main.Args): Int = {
    val results = (if (a.train) Workload.names.take(1) else Workload.names).map { w =>
      def once(i: Int) = {
        val r = new Main.Run(a.copy(workload = w, tiny = true, trace = true,
          setupReps = 1, work = s"${a.work}/selftest-$w-$i"))
        try {
          r.setup()
          val res = r.round(true)
          (res.samples.map(s => (s.label, s.result.ok, s.result.rows, s.result.digest)),
            Main.deterministic.map(k => k -> Main.layers(r, res)(k)), r.problems.toSeq)
        } finally { if (r.spark != null) r.spark.stop(); Workload.delete(s"${a.work}/selftest-$w-$i") }
      }
      val (o1, c1, p1) = once(1)
      val (o2, c2, p2) = if (a.train) (o1, c1, p1) else once(2)
      val checks = Seq(
        "outputs checked" -> (p1.isEmpty && p2.isEmpty && o1.forall(_._2)),
        "outputs repeat" -> (o1 == o2),
        "counters repeat" -> (c1 == c2))
      checks.foreach { case (n, ok) =>
        println(s"selftest $w: $n: ${if (ok) "ok" else "FAILED"}")
      }
      if (c1 != c2) println(s"selftest $w: counters ${c1.zip(c2).filter(p => p._1 != p._2)}")
      if ((p1 ++ p2).nonEmpty) println(s"selftest $w: problems ${(p1 ++ p2).take(3)}")
      println(s"selftest $w: counters ${c1.filter(_._2 != 0.0)}")
      checks.forall(_._2)
    }
    if (results.forall(identity)) 0 else 1
  }
}
