package graft

import scala.util.control.NonFatal

import org.scalatest.Assertions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan,
  TakeOrderedAndProjectExec, GlobalLimitExec, LocalLimitExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.{WindowExec,
  WindowGroupLimitExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** One build of every contract query, shared by the whole-contract
  * checks ([[PlanLintSpec]]'s three plan lints and [[ContractSpec]]'s
  * alias check).
  *
  * Building a query is the expensive part: lifecycle gates run eagerly
  * while they are built. So the sweep builds each query ONCE per test
  * JVM (all suites share one forked JVM; whichever reads [[records]]
  * first pays) and keeps only small derived values — the result columns
  * and each lint's findings from one `sparkPlan` — never the DataFrame
  * or its plan, so nothing it built stays pinned.
  *
  * `AnsiModeSpec` and `DeterminismSpec` rerun queries under other
  * configs on purpose and keep their own runs.
  */
object ContractSweep {

  /** One lint pass over one physical plan. */
  final case class Lints(
      /** unpartitioned windows fed by an unbounded input */
      windows: Seq[String],
      /** value-buffering aggregate functions fed by an unbounded input */
      bufferingAggs: Seq[String],
      /** CodegenFallback classes: (simple name, is a graft class) */
      fallbacks: Set[(String, Boolean)])

  /** What the whole-contract checks read from one query. `lints` is
    * None for `stream_*` queries: they execute eagerly and return a
    * memory-sink result (a LocalTableScan — nothing to lint); their
    * plan and state assertions live in `StreamingSpec`. */
  final case class Record(columns: Seq[String], lints: Option[Lints])

  /** The per-query record: the sweep and the lint self-checks both go
    * through here, so a lint the sweep stops computing fails them. */
  def record(name: String, df: DataFrame): Record = Record(
    df.columns.toSeq,
    if (name.startsWith("stream_")) None
    else Some(lints(df.queryExecution.sparkPlan)))

  private def lints(plan: SparkPlan): Lints = Lints(
    offendingWindows(plan).map(_.windowExpression.mkString(",")),
    bufferingAggs(plan).distinct,
    fallbackClasses(plan))

  private val builds =
    scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  /** How many times the sweep built each query (read after [[records]]). */
  def buildCounts: Map[String, Int] = builds.toMap

  /** name → record, or the build failure's message. */
  private lazy val outcomes: Map[String, Either[String, Record]] = {
    val spark = TestSpark.spark
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      builds(name) += 1
      name -> (try Right(record(name, fn(spark, TestSpark.sf)))
      catch { case NonFatal(e) => Left(e.toString) })
    }.toMap
  }

  /** Every query's record. Fails the reading test, naming each query
    * that did not build, if any did not. */
  def records: Map[String, Record] = {
    val failed = outcomes.collect { case (n, Left(msg)) => s"$n: $msg" }
    if (failed.nonEmpty) Assertions.fail(
      s"${failed.size} contract queries failed to build:\n" +
        failed.toSeq.sorted.mkString("\n"))
    outcomes.collect { case (n, Right(r)) => n -> r }
  }

  /** The lint records of the non-stream queries, by name. */
  def linted: Seq[(String, Lints)] = records.toSeq.sortBy(_._1)
    .flatMap { case (n, r) => r.lints.map(n -> _) }

  // ---- the three plan lints ([[PlanLintSpec]] holds their rules) ----

  /** True when `p` can stream an unbounded (corpus-proportional) row count
    * up to its parent: a file scan with no bounding operator in between.
    * Aggregates bound output to the group-key cardinality (all ours are
    * vocab/day/k-sized); WindowGroupLimit bounds to k rows per partition;
    * limits and top-k bound globally; a broadcast-side input was already
    * admitted as executor-memory-sized by the planner.
    */
  private def unboundedToScan(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec => true
    case _: BaseAggregateExec => false
    case _: WindowGroupLimitExec => false
    case _: GlobalLimitExec | _: LocalLimitExec => false
    case _: TakeOrderedAndProjectExec => false
    // the streamed side can still be unbounded; only the build side is
    // known-small — keep traversing both, the rule above applies per path
    case j: BroadcastHashJoinExec => j.children.exists(unboundedToScan)
    case other => other.children.exists(unboundedToScan)
  }

  /** Lint 1: unpartitioned windows over an unbounded input. */
  private def offendingWindows(p: SparkPlan): Seq[WindowExec] = p.collect {
    case w: WindowExec if w.partitionSpec.isEmpty &&
      unboundedToScan(w.child) => w
  }

  /** Lint 2: percentile / collect_* aggregates over an unbounded input. */
  private def bufferingAggs(p: SparkPlan): Seq[String] = p.collect {
    case a: BaseAggregateExec if unboundedToScan(a.child) =>
      a.aggregateExpressions.map(_.aggregateFunction).collect {
        case f: org.apache.spark.sql.catalyst.expressions.aggregate
          .PercentileBase => f.prettyName
        case f: org.apache.spark.sql.catalyst.expressions.aggregate
          .Collect[_] => f.prettyName
      }
  }.flatten

  /** Lint 3: every CodegenFallback expression class in the plan. */
  private def fallbackClasses(p: SparkPlan): Set[(String, Boolean)] =
    p.collect {
      case node => node.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen
          .CodegenFallback =>
          (e.getClass.getSimpleName,
            e.getClass.getName.startsWith("graft."))
      })
    }.flatten.toSet
}
