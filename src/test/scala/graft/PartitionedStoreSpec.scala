package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.PartitionedStore

/** U1 idempotent day-overwrite semantics (`weather_hourly_pipeline.py:
  * 101-112`): re-running a day replaces it; other days are untouched. */
class PartitionedStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkDf(rows: Seq[(String, Double)]) =
    rows.toDF("ts", "v").select(to_timestamp($"ts").as("time"), $"v")

  test("upsert writes hive date= partitions; re-run is idempotent") {
    val path = Files.createTempDirectory("graft_store_").toString
    val batch = mkDf(Seq(
      ("2025-08-20 01:00:00", 1.0), ("2025-08-20 02:00:00", 2.0),
      ("2025-08-21 01:00:00", 3.0)))
    PartitionedStore.upsertDaily(batch, path)
    PartitionedStore.upsertDaily(batch, path) // load . load = load
    val back = PartitionedStore.read(spark, path)
    assert(back.count() === 3)
    assert(back.columns.contains("date"))
    // hive layout on disk
    val dirs = new java.io.File(path).listFiles().map(_.getName).sorted
    assert(dirs.count(_.startsWith("date=")) === 2)
  }

  test("second batch overwrites only its own day") {
    val path = Files.createTempDirectory("graft_store_").toString
    PartitionedStore.upsertDaily(mkDf(Seq(
      ("2025-08-20 01:00:00", 1.0), ("2025-08-21 01:00:00", 3.0))), path)
    // re-delivery of day 21 with different content + a new day 22
    PartitionedStore.upsertDaily(mkDf(Seq(
      ("2025-08-21 05:00:00", 99.0), ("2025-08-22 01:00:00", 4.0))), path)
    val back = PartitionedStore.read(spark, path)
    assert(back.count() === 3)
    val day21 = back.filter($"date" === "2025-08-21").select("v").collect()
    assert(day21.map(_.getDouble(0)).toSeq === Seq(99.0))
    assert(back.filter($"date" === "2025-08-20").count() === 1)
  }

  test("upsert overwrites only its own days under a static session " +
      "mode, and leaves the session mode as it found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val path = Files.createTempDirectory("graft_store_").toString
      PartitionedStore.upsertDaily(mkDf(Seq(
        ("2025-08-20 01:00:00", 1.0), ("2025-08-21 01:00:00", 3.0))), path)
      // every job sees the session's own mode: dynamic is set on the
      // writer, never in the session a concurrent write would share
      val (_, jobs) = JobWatch.during(spark, "store-static-mode") {
        PartitionedStore.upsertDaily(mkDf(Seq(
          ("2025-08-21 05:00:00", 99.0))), path)
      }
      assert(jobs.nonEmpty)
      assert(jobs.map(_.getProperty(key)).toSet === Set("static"))
      val back = PartitionedStore.read(spark, path)
      assert(back.orderBy("time").select("v").collect().map(_.getDouble(0))
        .toSeq === Seq(1.0, 99.0))
      assert(spark.conf.get(key) === "static")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("date predicate prunes partitions at the scan") {
    val path = Files.createTempDirectory("graft_store_").toString
    PartitionedStore.upsertDaily(mkDf(Seq(
      ("2025-08-20 01:00:00", 1.0), ("2025-08-21 01:00:00", 3.0))), path)
    val plan = PartitionedStore.read(spark, path)
      .filter($"date" === "2025-08-20")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("rows are time-sorted within each written file (row-group stats)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_store_sort_").toString
    // deliberately shuffled event times within one day
    val rows = Seq(13, 2, 21, 7, 19, 4, 23, 11, 0, 17).map { h =>
      (java.sql.Timestamp.valueOf(f"2025-08-20 $h%02d:00:00"), h.toDouble)
    }
    import spark.implicits._
    PartitionedStore.upsertDaily(
      rows.toDF("time", "temperature_2m").repartition(2), path)
    val dayDir = new java.io.File(s"$path/date=2025-08-20")
    val parts = dayDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val times = spark.read.parquet(f.getAbsolutePath)
        .select("time").collect().map(_.getTimestamp(0).getTime)
      assert(times.toSeq === times.sorted.toSeq, f.getName)
    }
  }

  test("schema evolution gate: added-column drift merges losslessly " +
      "and taxes nothing") {
    val r = PartitionedStore.schemaEvolutionGate(spark, TestSpark.sf)
      .collect()
    assert(r.length === 1)
    val cols = Seq("schema_widened", "old_rows_null_filled",
      "new_rows_carry_values", "rows_conserved", "pruned_read_agrees")
    cols.zipWithIndex.foreach { case (c, i) =>
      assert(r(0).getBoolean(i), s"$c false")
    }
  }

  test("forget gate: tombstone purge is partition-scoped and exact") {
    val r = PartitionedStore.forgetGate(spark, TestSpark.sf).collect()
    assert(r.length === 1)
    val cols = Seq("layouts_written", "purged_absent", "rows_conserved",
      "untouched_files_stable", "touched_partition_rewritten",
      "survivors_intact")
    cols.zipWithIndex.foreach { case (c, i) =>
      assert(r(0).getBoolean(i), s"$c false")
    }
  }

  test("retention gate: expiry drops partitions without touching " +
      "retained files") {
    val r = PartitionedStore.retentionGate(spark, TestSpark.sf).collect()
    assert(r.length === 1)
    val cols = Seq("layouts_written", "expired_dirs_gone",
      "kept_files_untouched", "rows_match_cutoff",
      "slice_equals_retained")
    cols.zipWithIndex.foreach { case (c, i) =>
      assert(r(0).getBoolean(i), s"$c false")
    }
  }
}
