package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.HourlyStream

/** The RocksDB state store, chosen through Spark's own
  * `spark.sql.streaming.stateStore.providerClass`: at 100 TB-scale
  * ingestion, event-cardinality state (streaming dedup, open sessions
  * on a firehose) outgrows the default provider's executor-heap
  * residency — RocksDB keeps working state off-heap/on-disk. A provider
  * is a STORAGE choice, never a semantics choice: these specs pin that
  * every stateful harness returns identical results under both
  * providers, that the conf actually engages the provider through the
  * harnesses (checkpoint artifacts, not just conf plumbing), and that
  * watermark semantics survive a checkpoint restart under RocksDB. */
class StateStoreProviderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[T](body: => T): T = {
    spark.conf.set(ProviderKey, RocksDbProvider)
    try body finally spark.conf.unset(ProviderKey)
  }

  test("RocksDB flag engages the provider through the harness chokepoint " +
      "and the daily aggregate is unchanged") {
    val ckpt = Files.createTempDirectory("graft_rocks_ck_").toString
    val defaultRows = StreamLeftovers(spark)(
      HourlyStream.runDailyAggOnce(spark, TestSpark.sf)).collect()
    val rocksRows = withRocksDb {
      StreamLeftovers(spark)(HourlyStream.runDailyAggOnce(spark,
        TestSpark.sf, checkpointDir = Some(ckpt))).collect()
    }
    assert(rocksRows === defaultRows,
      "state-store provider must never change query results")
    // Engagement proof from the checkpoint itself: the HDFS-backed
    // provider commits <version>.delta files per state partition; the
    // RocksDB provider commits zip archives (+ SST uploads) and never
    // writes .delta. Conf plumbing alone cannot pass this.
    import scala.jdk.CollectionConverters._
    val stateFiles = java.nio.file.Files
      .walk(java.nio.file.Paths.get(ckpt, "state"))
      .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.getFileName.toString).toSeq
    assert(stateFiles.nonEmpty, "stateful query must have committed state")
    assert(!stateFiles.exists(_.endsWith(".delta")),
      s"RocksDB checkpoint must carry no HDFS-provider deltas: $stateFiles")
  }

  test("dedup, sessions, and hopping harnesses agree between providers") {
    def runAll() = StreamLeftovers(spark)(
      (HourlyStream.runDedupOnce(spark, TestSpark.sf).count(),
        HourlyStream.runSessionsOnce(spark, TestSpark.sf).collect(),
        HourlyStream.runHoppingOnce(spark, TestSpark.sf).collect()))
    val (dedupDef, sessDef, hopDef) = runAll()
    val (dedupR, sessR, hopR) = withRocksDb(runAll())
    assert(dedupR === dedupDef, "dedup keep count must match")
    assert(sessR === sessDef, "session facts must match")
    assert(hopR === hopDef, "hopping window counts must match")
  }

  test("hopping watermark semantics survive a checkpoint restart under " +
      "RocksDB (late-beyond-watermark stays dropped; in-watermark merges)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("graft_rockslate_").toString
    def ns(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000000L
    def write(name: String,
        rows: Seq[(Long, Long, Long, String, Double, String)],
        modTime: Long): Unit = {
      val scratch = Files.createTempDirectory("graft_rockslate_p_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$src/$name")
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      dest.setLastModified(modTime)
    }
    val ckpt = Files.createTempDirectory("graft_rockslate_ck_").toString
    val outDir = Files.createTempDirectory("graft_rockslate_out_")
      .toString + "/hop"
    def run(): Unit = {
      val q = HourlyStream
        .hoppingAgg(HourlyStream.readEvents(spark, src))
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    withRocksDb {
      // run 1 closes all day-1 windows (watermark lands at day-9 00:30)
      write("events_a.parquet", Seq(
        (1L, ns("2024-01-01T02:00:00Z"), 1L, "click", 1.0, "{}"),
        (2L, ns("2024-01-01T02:30:00Z"), 1L, "click", 1.0, "{}"),
        (3L, ns("2024-01-10T00:30:00Z"), 1L, "click", 1.0, "{}")),
        1000000L)
      run()
      // run 2 restarts from the RocksDB checkpoint: a day-1 event behind
      // the RESTORED watermark must vanish from both its windows; a fresh
      // day-10 event must merge into both of its windows
      write("events_b.parquet", Seq(
        (4L, ns("2024-01-01T03:00:00Z"), 1L, "click", 1.0, "{}"),
        (5L, ns("2024-01-10T01:00:00Z"), 1L, "click", 1.0, "{}")),
        2000000L)
      run()
    }
    val byWin = spark.read.parquet(outDir)
      .groupBy(col("win_start"))
      .agg(max(col("n_events")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byWin("2023-12-31 12:00") === 2L &&
      byWin("2024-01-01 00:00") === 2L,
      "late event must stay dropped from both closed windows after restart")
    assert(byWin("2024-01-09 12:00") === 2L &&
      byWin("2024-01-10 00:00") === 2L,
      "in-watermark event must merge into both open windows after restart")
  }
}
