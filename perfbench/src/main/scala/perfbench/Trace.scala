package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The library's layers, named after its packages. A Spark job belongs to
  * the innermost layer whose frame appears in the job's call site; a job
  * with no library frame belongs to the span that submitted it. */
object Layers {
  val all: Seq[String] = Seq("ingest", "pipeline", "models", "store",
    "sources", "operators.relational", "operators.similarity",
    "operators.dedup", "plans")

  private val prefixes: Seq[(String, String)] = Seq(
    "graft.ingest." -> "ingest",
    "graft.pipeline." -> "pipeline",
    "graft.models." -> "models",
    "graft.store." -> "store",
    "graft.sources." -> "sources",
    "graft.operators.Relational" -> "operators.relational",
    "graft.operators.Similarity" -> "operators.similarity",
    "graft.operators.Dedup" -> "operators.dedup",
    "graft.plans." -> "plans")

  /** Innermost library layer in a long-form call site, if any. */
  def ofCallSite(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).flatMap { line =>
      prefixes.collectFirst { case (p, l) if line.startsWith(p) => l }
    }.nextOption()
}

/** One recorded layer call. Times are microseconds on the epoch clock, so
  * they compare directly with the listener's job times. */
final case class Span(id: Long, parent: Long, runId: String, layer: String,
    name: String, startUs: Long, endUs: Long, ok: Boolean)

/** Per-span counters from block and scan events. */
final class SpanCounters {
  var cachedBytes = 0L
  var scanFiles = 0L
  var scanBytes = 0L
  var scanRows = 0L
}

final case class Job(id: Int, spanId: Long, layer: String, startUs: Long,
    var endUs: Long = -1L, var ok: Boolean = true, var tasks: Long = 0L,
    var cpuNs: Long = 0L, var shuffleRecords: Long = 0L)

/** Spans and Spark counters for one traced run. Spans live in memory and
  * are written out when the run ends ([[writeSpans]]).
  *
  * Attribution: [[span]] puts the span id in a Spark local property, so
  * every job carries the span that caused it (threads a layer starts
  * inherit the property). Block and scan events carry no such property;
  * they go to the span open when they are processed, and the listener bus
  * is drained at every span boundary so that is the span that caused
  * them. */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  import Tracer._

  @volatile var enabled = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[(Long, String)]()
  @volatile private var current: (Long, String) = (0L, "")
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val spanLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val counters =
    new java.util.concurrent.ConcurrentHashMap[Long, SpanCounters]()
  private def countersOf(id: Long): SpanCounters =
    counters.computeIfAbsent(id, _ => new SpanCounters)

  /** Time `body` as a call into `layer`. Untraced, it just runs `body`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain(sc)
      val id = ids.incrementAndGet()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      spanLayer.put(id, layer)
      stack.push((id, layer)); current = (id, layer)
      val prop = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = nowUs()
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        drain(sc)
        spans.add(Span(id, parent, runId, layer, name, t0, nowUs(), ok))
        sc.setLocalProperty(SpanProp, prop)
        stack.pop()
        current = stack.headOption.getOrElse((0L, ""))
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val spanId = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val layer = Layers.ofCallSite(site)
      .getOrElse(Option(spanLayer.get(spanId)).getOrElse(""))
    val j = Job(e.jobId, spanId, layer, e.time * 1000L)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(sid => stageJob.put(sid, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endUs = e.time * 1000L
      j.ok = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (enabled && current._1 != 0L) {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        val c = countersOf(current._1)
        c.synchronized { c.cachedBytes += b.memSize + b.diskSize }
      }
    }

  /** Scan statistics of every finished query, charged to the open span. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        ex: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      if (enabled && current._1 != 0L) try {
        val scans = walk(qe.executedPlan).collect { case f: FileSourceScanExec => f }
        def metric(f: FileSourceScanExec, k: String): Long =
          f.metrics.get(k).map(_.value).getOrElse(0L)
        val c = countersOf(current._1)
        c.synchronized {
          c.scanFiles += scans.map(metric(_, "numFiles")).sum
          c.scanBytes += scans.map(metric(_, "filesSize")).sum
          c.scanRows += scans.map(metric(_, "numOutputRows")).sum
        }
      } catch { case _: Throwable => () } // a plan that cannot be walked
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def allJobs: Seq[Job] = { drain(sc); jobs.values.asScala.toSeq.sortBy(_.id) }
  def countersFor(id: Long): SpanCounters =
    Option(counters.get(id)).getOrElse(new SpanCounters)

  /** Forget everything recorded so far (spans, jobs and counters). */
  def reset(): Unit = {
    drain(sc); spans.clear(); jobs.clear(); stageJob.clear()
    counters.clear(); spanLayer.clear()
  }

  def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      s"""{"run_id":"${s.runId}","id":${s.id},"parent":${s.parent},""" +
        s""""layer":"${s.layer}","name":"${s.name}","start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"ok":${s.ok}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** Flush the asynchronous listener bus so every event of the actions
    * that already returned has been processed. `listenerBus` is
    * package-private in Spark; its accessor is public bytecode. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case _: Throwable => () }

  /** Every node of an executed plan, including the trees adaptive
    * execution keeps in query stages. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case r: ReusedExchangeExec => walk(r.child)
    case _ => p.children.flatMap(walk)
  })

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def clip(iv: (Long, Long), lo: Long, hi: Long): (Long, Long) =
    (math.max(iv._1, lo), math.min(iv._2, hi))
}

/** Per-layer totals over a set of spans and the jobs they caused. */
final class LayerStats {
  var selfUs = 0L
  var gapUs = 0L
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRecords = 0L
  var failed = 0L
}

object LayerStats {
  /** Self time of a span: its duration minus what its child spans and its
    * jobs of other layers cover. Such a job counts as that layer's self
    * time. A layer's driver gap is its self time minus the union of its
    * own jobs within it. */
  def of(spans: Seq[Span], jobs: Seq[Job]): Map[String, LayerStats] = {
    val out = mutable.Map[String, LayerStats]()
    def st(l: String) = out.getOrElseUpdate(l, new LayerStats)
    val children = spans.groupBy(_.parent)
    val jobsOf = jobs.groupBy(_.spanId)
    jobs.foreach { j =>
      val s = st(j.layer)
      s.jobs += 1; s.tasks += j.tasks; s.cpuNs += j.cpuNs
      s.shuffleRecords += j.shuffleRecords
      if (!j.ok) s.failed += 1
    }
    spans.foreach { sp =>
      val lo = sp.startUs; val hi = sp.endUs
      def iv(j: Job) = Tracer.clip((j.startUs, if (j.endUs < 0) hi else j.endUs), lo, hi)
      val own = jobsOf.getOrElse(sp.id, Nil)
      val kids = children.getOrElse(sp.id, Nil).map(c => (c.startUs, c.endUs))
      val foreign = own.filter(_.layer != sp.layer)
      val covered = kids ++ foreign.map(iv)
      val coveredLen = Tracer.unionLength(covered)
      val self = (hi - lo) - coveredLen
      val s = st(sp.layer)
      s.selfUs += self
      if (!sp.ok) s.failed += 1
      val ownJobs = own.filter(_.layer == sp.layer).map(iv)
      val ownBusy = Tracer.unionLength(ownJobs ++ covered) - coveredLen
      s.gapUs += self - ownBusy
      // jobs of other layers: their time outside child spans is theirs
      foreign.groupBy(_.layer).foreach { case (l, js) =>
        st(l).selfUs += Tracer.unionLength(js.map(iv) ++ kids) -
          Tracer.unionLength(kids)
      }
    }
    out.toMap
  }
}
