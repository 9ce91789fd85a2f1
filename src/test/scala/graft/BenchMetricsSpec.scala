package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's deterministic regression columns (round-10 verdict item
  * 2): wall time on a shared host is noise; scan_bytes / scan_columns
  * / shuffle_records / output_rows are properties of the PLAN. This
  * spec pins exactly that claim — the four columns are invariant under
  * a shuffle-partition change for representative queries spanning the
  * main plan shapes (scan→agg, window rank, join+agg) — so a
  * round-over-round diff of BENCH_FULL.json's `task_metrics` block is
  * a hard plan-regression signal, not another timing judgement call.
  * (shuffle_bytes is deliberately NOT pinned: compressed shuffle bytes
  * vary with partition framing — it ships as a diagnostic column.)
  * The measurements go through [[Bench.measuredRep]] — the exact code
  * the bench main runs — so the pin covers the shipped instrument.
  * The forward-direction test shows the signal firing: losing column
  * pruning moves scan_columns; task-level bytesRead could not see that
  * (measured: footer-only on local parquet), which is why the scan
  * columns are plan-derived. */
class BenchMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // scan→agg, per-group window rank, join-shaped — the three plan
  // families the bench's headline queries live in
  private val representative =
    Seq("mart_daily", "top10_per_day", "above_nation_avg")

  private def measure(name: String,
      shufflePartitions: Int): Bench.PlanMetrics = {
    val l = new Bench.TaskMetricsListener
    spark.sparkContext.addSparkListener(l)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      shufflePartitions.toString)
    try
      Bench.measuredRep(spark, l,
        s => SparkEntry.queries(name)(s, TestSpark.sf))._2
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("scan_bytes / scan_columns / shuffle_records / output_rows are " +
      "shuffle-partition-count invariant for the representative queries") {
    representative.foreach { name =>
      val at4 = measure(name, 4)
      val at7 = measure(name, 7)
      assert(at4.copy(shuffleBytes = 0L) === at7.copy(shuffleBytes = 0L),
        s"$name plan metrics must not depend on partition count")
      assert(at4.scanBytes > 0L, s"$name must have planned scan bytes")
      assert(at4.scanColumns > 0L, s"$name must have scanned columns")
      assert(at4.outputRows > 0L, s"$name must have sink-counted rows")
    }
  }

  test("the columns move when the plan moves: losing column pruning " +
      "moves scan_columns; an extra exchange moves shuffle_records") {
    val l = new Bench.TaskMetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      // lost column pruning: one projected column vs every column
      val pruned = Bench.measuredRep(spark, l,
        s => Tables.load(s, TestSpark.sf, "events").select("user_id"))._2
      val full = Bench.measuredRep(spark, l,
        s => Tables.load(s, TestSpark.sf, "events"))._2
      assert(pruned.outputRows === full.outputRows, "same relation")
      assert(full.scanColumns > pruned.scanColumns,
        s"unpruned scan (${full.scanColumns} cols) vs ${pruned.scanColumns}")
      // an extra exchange: the same query with a gratuitous repartition
      val base = Bench.measuredRep(spark, l,
        s => SparkEntry.queries("mart_daily")(s, TestSpark.sf))._2
      val extra = Bench.measuredRep(spark, l,
        s => SparkEntry.queries("mart_daily")(s, TestSpark.sf)
          .repartition(5))._2
      assert(extra.shuffleRecords > base.shuffleRecords,
        s"extra exchange (${extra.shuffleRecords}) vs ${base.shuffleRecords}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("multi-action lanes: internal scans accumulate into scan_bytes — " +
      "an index lane's partition-pruned reads are visible, not 0") {
    val l = new Bench.TaskMetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      // ann_lsh_indexed builds a manifest index in scratch, then probes
      // it — several actions before the final gate relation; last-action
      // capture read scan_bytes=0 here, blind to a lost pruning inside
      val m = Bench.measuredRep(spark, l,
        s => SparkEntry.queries("ann_lsh_indexed")(s, TestSpark.sf))._2
      assert(m.scanBytes > 0L,
        "internal actions' planned scan bytes must accumulate")
      assert(m.scanColumns > 0L)
      assert(m.outputRows > 0L)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
