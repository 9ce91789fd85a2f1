package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.store.PartitionedStore
import graft.streaming.HourlyStream

/** Streaming = batch equivalence + idempotent streaming upsert (U1). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streamed 1-day window equals the batch group-by") {
    val streamed = HourlyStream.runDailyAggOnce(spark, TestSpark.sf)
      .collect()
    // batch side needs the ns->us loader; reuse Tables.load for parity
    val ev = graft.Tables.load(spark, TestSpark.sf, "events")
    ev.createOrReplaceTempView("ev_tmp")
    val expect = spark.sql(
      """SELECT to_date(ts) AS day, event_type, count(*) n,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) s
        | FROM ev_tmp GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)
      .collect()
    assert(streamed.length === expect.length)
    streamed.zip(expect).foreach { case (a, b) =>
      assert(a.getDate(0) === b.getDate(0))
      assert(a.getString(1) === b.getString(1))
      assert(a.getLong(2) === b.getLong(2))
      assert(a.getDouble(3) === b.getDouble(3))
    }
  }

  test("streaming dedup: duplicate event_ids collapse to the batch distinct") {
    val streamed = HourlyStream.runDedupOnce(spark, TestSpark.sf).count()
    val exact = graft.Tables.load(spark, TestSpark.sf, "events")
      .select("event_id", "ts").distinct().count()
    assert(streamed === exact)
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = HourlyStream.runAttributionOnce(spark, TestSpark.sf)
      .collect()
    val ev = graft.Tables.load(spark, TestSpark.sf, "events")
    ev.createOrReplaceTempView("ev_attr")
    val expect = spark.sql(
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        | p.user_id, p.value
        | FROM ev_attr p JOIN ev_attr c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.user_id = p.user_id
        |  AND c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts
        | ORDER BY purchase_id, click_id""".stripMargin).collect()
    assert(streamed.length === expect.length)
    assert(streamed.length > 0, "the corpus must contain in-window pairs")
    streamed.zip(expect).foreach { case (a, b) => assert(a === b) }
  }

  test("outer stream join: matches + watermark-released null rows") {
    val streamed = HourlyStream.runAttributionOuterOnce(spark, TestSpark.sf)
      .collect()
    val ev = graft.Tables.load(spark, TestSpark.sf, "events")
    ev.createOrReplaceTempView("ev_oattr")
    // the global watermark is min over BOTH sides' filtered streams
    val expect = spark.sql(
      """WITH c AS (SELECT * FROM ev_oattr WHERE event_type = 'click'),
        | p AS (SELECT * FROM ev_oattr WHERE event_type = 'purchase'),
        | wm AS (SELECT least((SELECT max(unix_micros(ts)) FROM c),
        |   (SELECT max(unix_micros(ts)) FROM p)) - 86400000000 AS us)
        | SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id, p.value
        | FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts
        | UNION ALL
        | SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id, p.value
        | FROM p, wm
        | WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
        |   AND c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts)
        |  AND unix_micros(p.ts) < wm.us
        | ORDER BY purchase_id, click_id""".stripMargin).collect()
    assert(streamed.length === expect.length)
    assert(streamed.count(_.isNullAt(1)) > 0, "null rows must be released")
    streamed.zip(expect).foreach { case (a, b) => assert(a === b) }
  }

  test("mapGroupsWithState: final per-user counts equal the batch group-by") {
    val stateful = HourlyStream.runningUserCounts(spark, TestSpark.sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.Tables.load(spark, TestSpark.sf, "events")
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stateful === batch)
  }

  test("late-beyond-watermark events are dropped; fresh late-day events merge") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_late_").toString
    def ns(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000000L
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)],
        modTime: Long): Unit = {
      // the source dir holds single parquet FILES (the testdata layout), so
      // write through a scratch dir and copy the lone part file over
      val scratch = Files.createTempDirectory("graft_late_part_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .get
      val dest = new java.io.File(s"$src/$name")
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      // file source replays oldest-modified first; pin the order
      dest.setLastModified(modTime)
    }
    // Two RUNS over one checkpoint: the watermark persists in the offset
    // log across restarts (the production continuousDailyUpsert shape).
    val ckpt = Files.createTempDirectory("graft_late_ck_").toString
    val wh = Files.createTempDirectory("graft_late_wh_").toString + "/daily"
    // run 1: two day-1 events, one day-10 event -> watermark ends at
    // day 9 (max ts - 1 day), closing the day-1 window
    write("events_a.parquet", Seq(
      (1L, ns("2024-01-01T01:00:00Z"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-01T02:00:00Z"), 1L, "click", 1.0, "{}"),
      (3L, ns("2024-01-10T00:00:00Z"), 1L, "click", 1.0, "{}")), 1000000L)
    HourlyStream.runDailyAggOnce(spark, src,
      checkpointDir = Some(ckpt), warehouseDir = Some(wh)).collect()
    // run 2: one event 8 days beyond the restored watermark (must be
    // dropped) and one fresh day-10 event (must merge into the open window)
    write("events_b.parquet", Seq(
      (4L, ns("2024-01-01T03:00:00Z"), 1L, "click", 100.0, "{}"),
      (5L, ns("2024-01-10T01:00:00Z"), 1L, "click", 1.0, "{}")), 2000000L)
    val out = HourlyStream.runDailyAggOnce(spark, src,
      checkpointDir = Some(ckpt), warehouseDir = Some(wh)).collect()
    val byDay = out.map(r => r.getDate(0).toString -> (r.getLong(2), r.getDouble(3))).toMap
    assert(byDay("2024-01-01") === ((2L, 2.0)), "late event beyond watermark dropped")
    assert(byDay("2024-01-10") === ((2L, 2.0)), "in-watermark event merged across runs")
  }

  test("user-count state expires after the TTL and re-initializes") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_ttl_").toString
    def ns(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000000L
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)],
        modTime: Long): Unit = {
      val scratch = Files.createTempDirectory("graft_ttl_part_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$src/$name")
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      dest.setLastModified(modTime)
    }
    val ckpt = Files.createTempDirectory("graft_ttl_ck_").toString
    val outDir = Files.createTempDirectory("graft_ttl_out_").toString + "/counts"
    def run(): Unit = {
      val q = graft.streaming.HourlyStream
        .userCountStream(
          graft.streaming.HourlyStream.readEvents(spark, src),
          retentionDays = 30)
        .toDF()
        .writeStream.outputMode("update")
        // file sinks are append-only; foreachBatch gives update-mode
        // emissions a checkpoint-recoverable sink
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    // run 1: user 1 has two events in January
    write("events_a.parquet", Seq(
      (1L, ns("2024-01-01T10:00:00Z"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-02T10:00:00Z"), 1L, "click", 1.0, "{}")), 1000000L)
    run()
    // run 2: unrelated user in April -> watermark passes user 1's
    // last-seen + 30d TTL -> state expires silently
    write("events_b.parquet", Seq(
      (3L, ns("2024-04-01T00:00:00Z"), 2L, "click", 1.0, "{}")), 2000000L)
    run()
    // run 3: user 1 reappears -> count restarts from zero (TTL semantics)
    write("events_c.parquet", Seq(
      (4L, ns("2024-04-01T01:00:00Z"), 1L, "click", 1.0, "{}")), 3000000L)
    run()
    val rows = spark.read.parquet(outDir)
      .filter($"user_id" === 1L)
      .orderBy($"batch_id".desc, $"n_events".desc)
      .collect()
    assert(rows.head.getAs[Long]("n_events") === 1L,
      s"expired user must re-initialize, got ${rows.mkString(";")}")
    assert(rows.exists(_.getAs[Long]("n_events") === 2L),
      "pre-expiry count was emitted before the TTL fired")
  }

  test("partial-day update batch preserves the day's untouched event types") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_keyed_").toString
    def ns(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000000L
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)],
        modTime: Long): Unit = {
      val scratch = Files.createTempDirectory("graft_keyed_part_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .get
      val dest = new java.io.File(s"$src/$name")
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      dest.setLastModified(modTime)
    }
    val ckpt = Files.createTempDirectory("graft_keyed_ck_").toString
    val wh = Files.createTempDirectory("graft_keyed_wh_").toString + "/daily"
    // run 1: one day, TWO event types
    write("events_a.parquet", Seq(
      (1L, ns("2024-01-01T01:00:00Z"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-01T02:00:00Z"), 1L, "click", 1.0, "{}"),
      (3L, ns("2024-01-01T03:00:00Z"), 1L, "view", 5.0, "{}")), 1000000L)
    HourlyStream.runDailyAggOnce(spark, src,
      checkpointDir = Some(ckpt), warehouseDir = Some(wh)).collect()
    // run 2: a late-but-in-watermark event touching ONLY the click group.
    // The update-mode batch then carries (day1, click) alone; the round-2
    // advisor finding was that day-granularity overwrite deleted (day1,
    // view) here.
    write("events_b.parquet", Seq(
      (4L, ns("2024-01-01T04:00:00Z"), 1L, "click", 1.0, "{}")), 2000000L)
    val out = HourlyStream.runDailyAggOnce(spark, src,
      checkpointDir = Some(ckpt), warehouseDir = Some(wh)).collect()
    val byType = out.map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(byType("click") === ((3L, 3.0)), "updated group reflects the new event")
    assert(byType("view") === ((1L, 5.0)), "untouched group must survive the upsert")
  }

  test("flatMapGroupsWithState sessionizer: in-batch closes + event-time timeout") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_sess_").toString
    def ns(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000000L
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val scratch = Files.createTempDirectory("graft_sess_part_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(s"$src/$name").toPath)
    }
    // user 1: two events 10 min apart (one session), then an event 2 h
    // later -> first session CLOSES IN-BATCH; the third event stays open
    write("events_a.parquet", Seq(
      (1L, ns("2024-01-01T10:00:00Z"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-01T10:10:00Z"), 1L, "click", 1.0, "{}"),
      (3L, ns("2024-01-01T12:10:00Z"), 1L, "click", 1.0, "{}")))
    val ckptRun = Files.createTempDirectory("graft_sess_ck_").toString
    // memory sink cannot recover a checkpoint; the parquet file sink can
    val outDir = Files.createTempDirectory("graft_sess_out_").toString + "/sessions"
    def run(): Array[org.apache.spark.sql.Row] = {
      val q = graft.streaming.HourlyStream
        .sessionizedStream(graft.streaming.HourlyStream.readEvents(spark, src))
        .toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptRun)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      spark.read.parquet(outDir).orderBy("user_id", "start_us").collect()
    }
    val first = run()
    assert(first.length === 1, "only the in-batch-closed session emits")
    assert(first(0).getLong(0) === 1L)
    assert(first(0).getLong(3) === 2L) // n_events of the closed session
    // run 2: a far-future event pushes the watermark past the open
    // session's timeout -> it emits via EventTimeTimeout
    write("events_b.parquet", Seq(
      (4L, ns("2024-01-05T00:00:00Z"), 2L, "click", 1.0, "{}")))
    val second = run()
    assert(second.exists(r => r.getLong(0) === 1L && r.getLong(3) === 1L),
      s"open session should time out and emit: ${second.mkString(";")}")
  }

  test("sessionizer: late events BEFORE the open session split or extend backward") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_sessb_").toString
    def ns(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000000L
    def us(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000L
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)],
        modTime: Long): Unit = {
      val scratch = Files.createTempDirectory("graft_sessb_part_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$src/$name")
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      dest.setLastModified(modTime)
    }
    val ckpt = Files.createTempDirectory("graft_sessb_ck_").toString
    val outDir = Files.createTempDirectory("graft_sessb_out_").toString + "/sessions"
    def run(): Array[org.apache.spark.sql.Row] = {
      val q = graft.streaming.HourlyStream
        .sessionizedStream(graft.streaming.HourlyStream.readEvents(spark, src))
        .toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      spark.read.parquet(outDir).orderBy("user_id", "start_us").collect()
    }
    // run 1: open session (10:00, 10:10) parks in state
    write("events_a.parquet", Seq(
      (1L, ns("2024-01-01T10:00:00Z"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-01T10:10:00Z"), 1L, "click", 1.0, "{}")), 1000000L)
    run()
    // run 2 (in-watermark — watermark sits a day back): one event 4 h
    // BEFORE the open session (beyond gap -> its own earlier session) and
    // one 10 min before its start (within gap -> extends start backward).
    // The round-2 advisor finding: the append-only fold merged the 06:00
    // event into the 10:00 session and never moved start_us back.
    write("events_b.parquet", Seq(
      (3L, ns("2024-01-01T06:00:00Z"), 1L, "click", 1.0, "{}"),
      (4L, ns("2024-01-01T09:50:00Z"), 1L, "click", 1.0, "{}")), 2000000L)
    val afterB = run()
    assert(afterB.exists(r => r.getLong(0) === 1L &&
      r.getLong(1) === us("2024-01-01T06:00:00Z") && r.getLong(3) === 1L),
      s"4h-early late event must close as its own session: ${afterB.mkString(";")}")
    // run 3: far-future event advances the watermark -> open session times
    // out; its start must have been extended back to 09:50 and n to 3
    write("events_c.parquet", Seq(
      (5L, ns("2024-01-05T00:00:00Z"), 2L, "click", 1.0, "{}")), 3000000L)
    val afterC = run()
    assert(afterC.exists(r => r.getLong(0) === 1L &&
      r.getLong(1) === us("2024-01-01T09:50:00Z") &&
      r.getLong(2) === us("2024-01-01T10:10:00Z") && r.getLong(3) === 3L),
      s"within-gap early event must extend the open session backward: ${afterC.mkString(";")}")
  }

  test("continuous session sink: append-only, day-partitioned session facts") {
    val out = Files.createTempDirectory("graft_csess_").toString + "/sessions"
    val ckpt = Files.createTempDirectory("graft_csess_ck_").toString
    val q = HourlyStream.continuousSessionSink(
      spark, TestSpark.sf, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.awaitTermination(120000L) finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() > 0)
    assert(back.columns.contains("session_day"))
    val dirs = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("session_day="))
    assert(dirs === back.select("session_day").distinct().count().toInt)
  }

  test("foreachBatch streaming upsert lands in the partitioned warehouse") {
    val warehouse = Files.createTempDirectory("graft_wh_").toString
    val ckpt = Files.createTempDirectory("graft_ck_").toString
    // AvailableNow: drain everything, then terminate (the 1-hour
    // production trigger would leave processAllAvailable waiting on a
    // batch an hour away).
    val q = HourlyStream.continuousDailyUpsert(
      spark, TestSpark.sf, warehouse, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      q.awaitTermination(120000L)
    } finally {
      q.stop()
    }
    val back = PartitionedStore.read(spark, warehouse)
    assert(back.count() > 0)
    assert(back.columns.contains("date"))
    // re-delivery idempotence: partition count equals distinct days
    val days = back.select("date").distinct().count()
    val dirs = new java.io.File(warehouse).listFiles()
      .count(_.getName.startsWith("date="))
    assert(days.toInt === dirs)
  }

  test("stream-static join: stateless (only the aggregate holds state) " +
      "and equal to the batch enrichment") {
    import org.apache.spark.sql.functions._
    val name = "graft_enrich_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = HourlyStream.cohortEnriched(
      HourlyStream.readEvents(spark, TestSpark.sf),
      HourlyStream.staticUserCohorts(spark, TestSpark.sf))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // one stateful operator: the windowed aggregate. A second would mean
    // the static join regressed into a symmetric (stateful) stream join.
    val sos = q.lastProgress.stateOperators
    assert(sos.length === 1, s"expected 1 state operator, got ${sos.length}")
    // the aggregate's state op is stateStoreSave; a stateful stream join
    // would surface as symmetricHashJoin
    assert(sos.head.operatorName.toLowerCase.contains("statestoresave"))
    val streamed = spark.table(name)
      .select("day", "cohort", "n_events", "sum_value")
    val batch = Tables.load(spark, TestSpark.sf, "events")
      .join(HourlyStream.staticUserCohorts(spark, TestSpark.sf),
        Seq("user_id"))
      .groupBy(to_date(col("ts")).as("day"), col("cohort"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Relational.dsum(col("value")).as("sum_value"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streamed hopping windows equal the batch sliding-window groupBy " +
      "and every event lands in exactly two windows") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.HourlyStream
      .runHoppingOnce(spark, TestSpark.sf)
    val ev = graft.Tables.load(spark, TestSpark.sf, "events")
    val batch = ev
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm")
        .as("win_start"), col("event_type"), col("n_events"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
    val total = streamed.agg(sum("n_events")).head().getLong(0)
    assert(total === 2L * ev.count(),
      "1-day windows at a 12-hour hop double-count every event exactly once")
  }

  test("hopping stream across a forced multi-batch replay still equals " +
      "the batch sliding-window groupBy (update-mode read-back reduces)") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("graft_hop_").toString
    // time-ordered terciles as three files: replay stays watermark-safe
    // (each batch's events are newer than the watermark the previous
    // batch advanced to) while forcing three real micro-batches
    graft.Tables.load(spark, TestSpark.sf, "events") // pins ns-read conf
    val raw = spark.read.parquet(TestSpark.sf + "/events.parquet")
    val rows = raw.orderBy("ts").collect()
    val chunk = (rows.length + 2) / 3
    for ((part, i) <- rows.grouped(chunk).zipWithIndex) {
      val scratch = Files.createTempDirectory("graft_hop_part_").toString
      spark.createDataFrame(
        spark.sparkContext.parallelize(part.toSeq), raw.schema)
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val pf = new java.io.File(scratch).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$src/events_$i.parquet")
      java.nio.file.Files.copy(pf.toPath, dest.toPath)
      dest.setLastModified((i + 1) * 1000000L)
    }
    val streamed = graft.streaming.HourlyStream
      .runHoppingOnce(spark, src, maxFilesPerTrigger = Some(1))
    val batch = graft.Tables.load(spark, TestSpark.sf, "events")
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm")
        .as("win_start"), col("event_type"), col("n_events"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "multi-batch hopping replay must converge to the batch answer")
  }

  test("hopping windows: late-beyond-watermark events are dropped across " +
      "a checkpoint restart; in-watermark late events merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the tumbling late-data spec (runDailyAggOnce) at the 12-hour hop:
    // every event lives in TWO windows, and watermark eviction must drop
    // a late event from BOTH of its closed windows
    val src = Files.createTempDirectory("graft_hoplate_").toString
    def ns(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000000L
    def write(name: String,
        rows: Seq[(Long, Long, Long, String, Double, String)],
        modTime: Long): Unit = {
      val scratch = Files.createTempDirectory("graft_hoplate_part_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$src/$name")
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      dest.setLastModified(modTime)
    }
    val ckpt = Files.createTempDirectory("graft_hoplate_ck_").toString
    val outDir = Files.createTempDirectory("graft_hoplate_out_").toString +
      "/hop"
    def run(): Unit = {
      val q = graft.streaming.HourlyStream
        .hoppingAgg(graft.streaming.HourlyStream.readEvents(spark, src))
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
    // run 1: two day-1 events + one day-10 event -> watermark lands at
    // day-9 00:30, closing all four day-1 hopping windows
    write("events_a.parquet", Seq(
      (1L, ns("2024-01-01T02:00:00Z"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-01T02:30:00Z"), 1L, "click", 1.0, "{}"),
      (3L, ns("2024-01-10T00:30:00Z"), 1L, "click", 1.0, "{}")), 1000000L)
    run()
    // run 2: a day-1 event behind the restored watermark (must vanish
    // from BOTH its windows) + a fresh day-10 event (must merge in both)
    write("events_b.parquet", Seq(
      (4L, ns("2024-01-01T03:00:00Z"), 1L, "click", 1.0, "{}"),
      (5L, ns("2024-01-10T01:00:00Z"), 1L, "click", 1.0, "{}")), 2000000L)
    run()
    // update emissions only grow a group's count: max = final value
    val byWin = spark.read.parquet(outDir)
      .groupBy(col("win_start"))
      .agg(max(col("n_events")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byWin("2023-12-31 12:00") === 2L,
      "late event must stay dropped from the first closed window")
    assert(byWin("2024-01-01 00:00") === 2L,
      "late event must stay dropped from the second closed window")
    assert(byWin("2024-01-09 12:00") === 2L,
      "in-watermark event must merge into the first open window")
    assert(byWin("2024-01-10 00:00") === 2L,
      "in-watermark event must merge into the second open window")
  }

  test("readEvents fails fast with an actionable message when the drop " +
      "directory has no staged files to sniff the ts type from") {
    val dir = graft.streaming.HourlyStream.scratchDir("graft_empty_drop_")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.HourlyStream.readEvents(spark, dir)
    }
    assert(e.getMessage.contains("stage the drop directory"),
      s"message should say how to fix it, got: ${e.getMessage}")
  }

  test("streamed index dedup equals the batch operator's keep set and " +
      "drops every planted copy") {
    import org.apache.spark.sql.functions.col
    val streamed = graft.streaming.CorpusStream
      .runIndexDedupOnce(spark, TestSpark.sf)
      .collect().map(_.getLong(0)).toSet
    val batchKeep = graft.operators.Dedup
      .incrementalDedup(spark, TestSpark.sf)
      .filter(col("verdict") === "keep")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === batchKeep,
      "stream survivors must be exactly the batch keep set")
    for (seed <- Seq(0L, 100L, 200L, 300L, 400L))
      assert(!streamed.contains(seed + graft.operators.Dedup.PlantOffset),
        s"planted copy of $seed must be dropped by the stream")
  }

  test("feed mart: the transactional change-feed consumer reaches the " +
      "v3 snapshot aggregate exactly, and a re-delivered version is a " +
      "provable no-op") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val got = graft.streaming.CorpusStream
      .runFeedMartOnce(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(got.forall(_._4), s"redelivery_noop must hold: ${got.toSeq}")
    assert(got.forall(_._5), s"exactly_once must hold: ${got.toSeq}")
    // oracle: the v3 snapshot per flag — A doubled values, N doubled
    // rows, R untouched
    val li = graft.Tables.load(spark, TestSpark.sf, "lineitem")
    val want = li.groupBy(col("l_returnflag"))
      .agg(
        when(col("l_returnflag").isin("A", "N"),
          graft.operators.Relational.dsum(col("l_quantity")) * 2)
          .otherwise(graft.operators.Relational.dsum(col("l_quantity")))
          .as("sum_qty"),
        when(col("l_returnflag") === "N", count(lit(1)) * 2)
          .otherwise(count(lit(1))).as("n"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === want.toSeq)
  }

  test("streamed LSH near-dup filter reaches the same keep set through " +
      "banding + verification and drops every planted copy") {
    import org.apache.spark.sql.functions.col
    val streamed = graft.streaming.CorpusStream
      .runNearDupOnce(spark, TestSpark.sf)
      .collect().map(_.getLong(0)).toSet
    // at the 0.99 threshold only exact-text groups cross the split, so
    // the LSH lane must land on the exact-lane answer — via a genuinely
    // different path (bands -> bucket probe -> Jaccard verify)
    val batchKeep = graft.operators.Dedup
      .incrementalDedup(spark, TestSpark.sf)
      .filter(col("verdict") === "keep")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === batchKeep,
      "LSH stream survivors must equal the exact-lane keep set")
    for (seed <- Seq(0L, 100L, 200L, 300L, 400L))
      assert(!streamed.contains(seed + graft.operators.Dedup.PlantOffset),
        s"planted copy of $seed must be dropped by the near-dup stream")
  }

  test("streamed ANN probes retrieve their stored originals at rank 1 " +
      "and agree with the batch brute-force argmax") {
    import org.apache.spark.sql.functions.col
    val rows = graft.streaming.VectorStream
      .runAnnProbeOnce(spark, TestSpark.sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) - graft.operators.Dedup.PlantOffset,
        "each planted probe must retrieve its own stored original")
      assert(r.getBoolean(2), "the planted match must be flagged exact")
    }
    // the streaming argmax is the same contract as the batch lane: the
    // probe's top-1 equals bruteForceTopK's rank-1 row for that vector
    // (self excluded there, but the planted probe is not in the corpus,
    // so its best match IS the original — rank 1 of nothing excluded)
    val batchTop1 = graft.operators.Similarity
      .bruteForceTopKMulti(spark, TestSpark.sf, Seq(0L), k = 1)
      .collect()
    assert(batchTop1.head.getLong(0) === 0L)
  }

  test("streamed probes against the stored IVF index retrieve their " +
      "originals at rank 1 through the partition-pruned plan") {
    val rows = graft.streaming.VectorStream
      .runAnnIndexedOnce(spark, TestSpark.sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) - graft.operators.Dedup.PlantOffset,
        "each planted probe must retrieve its stored original " +
          "through the indexed lane")
      assert(r.getBoolean(2), "the planted match must be flagged exact")
    }
    // lifecycle reaps its scratch index + drop dirs, which live under
    // the stream scratch base (not necessarily java.io.tmpdir)
    val scratch = new java.io.File(
      graft.streaming.HourlyStream.scratchBase).listFiles()
    assert(scratch == null ||
      !scratch.exists(f => f.getName.startsWith("graft_annidx_") ||
        f.getName.startsWith("graft_probeidx_drop_")),
      "indexed stream lane must reap its scratch dirs")
  }

  // through the contract name; ManifestStoreSpec drives the same lane
  // through VectorStream.runIvfCompactManifestOnce
  test("streamed IVF index maintenance: planted copies reach the stored " +
      "index only through micro-batch merges, probe equals rebuild") {
    val rows = graft.SparkEntry.queries("stream_ivf_compact")(spark,
      TestSpark.sf).collect()
    assert(rows.length === 5)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong)
      assert(r.getLong(1) === i.toLong + graft.operators.Dedup.PlantOffset,
        "rank-1 hit must be the stream-merged planted copy")
      assert(r.getInt(2) === 1)
      assert(r.getBoolean(3), "planted copy must probe as exact")
      assert(r.getBoolean(4),
        "streamed maintenance top-k must equal the from-scratch rebuild")
    }
    val scratch = new java.io.File(
      graft.streaming.HourlyStream.scratchBase).listFiles()
    assert(scratch == null ||
      !scratch.exists(_.getName.startsWith("graft_ivfmfs_")),
      "maintenance stream lane must reap its scratch dirs")
  }

  test("streamed IVF maintenance survives an EMPTY micro-batch: an " +
      "empty drop file merges as a byte-identical no-op and the " +
      "stream goes on to land the real batch") {
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val trained = Similarity.collectCentroids(
      Similarity.kmeansIterate(spark, TestSpark.sf, 1), "cluster")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_ivfce_idx_").toString
    val root = s"$idxDir/store"
    Similarity.buildIvfIndex(spark, root,
      emb.filter(col("vec_id") % 10 =!= 3)
        .select(col("vec_id"), col("embedding"),
          Similarity.argmaxOver(trained).getField("cluster").as("cell")))
    val dropDir = java.nio.file.Files
      .createTempDirectory("graft_ivfce_drop_").toString
    // drop 1: schema-correct but ZERO rows — the legitimate trigger
    // outcome an upstream job emits for an idle window (and what a
    // replayed already-upserted batch reduces to under upsertById)
    emb.filter(col("vec_id") < 0).select("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(dropDir)
    // drop 2: the real arriving slice
    emb.filter(col("vec_id") % 10 === 3).select("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(dropDir)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ivfce_ckpt_").toString
    val before = graft.store.ManifestStore.read(spark, root).count()
    val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = graft.streaming.VectorStream
      .readVectorBatches(spark, dropDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        touched ++= Similarity.maintainIvfIndex(spark, root, b,
          trained, upsertById = true)
        ()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    // the empty micro-batch contributed no touched cells, no crash and
    // no version; the real batch landed exactly once, as version 2
    val expected = emb.filter(col("vec_id") % 10 === 3).count()
    assert(graft.store.ManifestStore.read(spark, root).count()
      === before + expected)
    assert(graft.store.ManifestStore.currentVersion(spark, root)
      === Some(2L))
    assert(touched.nonEmpty, "the real batch must have touched cells")
    Seq(idxDir, dropDir, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("LSH survivor sink is exactly-once: a micro-batch replayed with " +
      "its checkpoint batchId does not duplicate the keep set") {
    import spark.implicits._
    import graft.streaming.CorpusStream.upsertSurvivors
    val wh = graft.streaming.HourlyStream
      .scratchDir("graft_replay_wh_") + "/keep"
    // two committed micro-batches
    upsertSurvivors(Seq(1L, 2L, 3L).toDF("doc_id"), wh, batchId = 0L)
    upsertSurvivors(Seq(10L, 11L).toDF("doc_id"), wh, batchId = 1L)
    val committed = spark.read.parquet(wh).select("doc_id")
      .as[Long].collect().sorted
    assert(committed === Array(1L, 2L, 3L, 10L, 11L))
    // crash between parquet write and checkpoint commit: Spark re-invokes
    // foreachBatch with the SAME batchId (at-least-once redelivery).
    // The batchId-keyed dynamic overwrite must replace batch 0's
    // partition, never append beside it.
    upsertSurvivors(Seq(1L, 2L, 3L).toDF("doc_id"), wh, batchId = 0L)
    val replayed = spark.read.parquet(wh).select("doc_id")
      .as[Long].collect().sorted
    assert(replayed === committed,
      "replaying a batch under its own id must be a no-op on the keep set")
    // and the overwrite is batch-SCOPED: replaying batch 0 must leave
    // batch 1's survivors untouched (a blanket overwrite would drop them)
    assert(spark.read.parquet(wh)
      .where(org.apache.spark.sql.functions.col("batch_id") === 1L)
      .count() === 2L)
  }

  test("streamed PSI drift equals the batch quality_psi relation " +
      "bit-for-bit (band-count associativity across micro-batches)") {
    val streamed = graft.streaming.CorpusStream
      .runDriftOnce(spark, TestSpark.sf).collect()
    val batch = graft.operators.TextAnalysis
      .qualityPsi(spark, TestSpark.sf).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (a, b) =>
      assert(a === b, s"stream row $a != batch row $b")
    }
  }
}
