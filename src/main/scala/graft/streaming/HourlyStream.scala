package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.Relational.dsum
import graft.store.PartitionedStore

/** Structured Streaming rendering of the reference's orchestration-level
  * incrementality (SURVEY.md §2.8): the Airflow `@hourly` cadence becomes a
  * `readStream` over a drop directory; the calendar-day group-by (A2)
  * becomes a 1-day tumbling window with a watermark for late data; the
  * idempotent day overwrite (U1) becomes `foreachBatch` + dynamic
  * partition overwrite.
  *
  * At scale this is the standard continuous-ingest shape: the file source
  * tracks processed files in the checkpoint, the stateful aggregation
  * keeps one row per (window, key) in the state store, and the watermark
  * bounds state size — the properties the reference approximated with
  * whole-day delete+insert.
  */
object HourlyStream {

  /** Scratch directory for the synchronous run-once harnesses' throwaway
    * checkpoints and warehouses. The dominant fixed cost of an
    * AvailableNow micro-batch is fsync traffic — offset/commit logs plus
    * one state-store delta per partition per batch — so the scratch
    * prefers a tmpfs volume (`/dev/shm`) when one is writable, else
    * `java.io.tmpdir`; `SPARK_GRAFT_STREAM_SCRATCH` overrides both.
    * This is harness plumbing only: a production stream passes its own
    * durable `checkpointDir`/`warehouseDir` (every runner accepts them)
    * because a checkpoint that evaporates on reboot defeats exactly-once
    * recovery — the default here is for the test/bench path, where the
    * checkpoint dies with the run by design. */
  // every scratch dir is deleted at JVM exit: /dev/shm is RAM-backed, so
  // un-reaped checkpoints/warehouses from repeated bench/test runs would
  // otherwise accumulate memory-resident files until reboot
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val scratchCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(q => java.nio.file.Files.deleteIfExists(q))
        } catch { case _: Throwable => () }
      }))

  /** The directory every [[scratchDir]] is created under:
    * `SPARK_GRAFT_STREAM_SCRATCH`, else `/dev/shm`, else
    * `java.io.tmpdir`. A missing/read-only path (env override
    * included) falls through to the next candidate instead of throwing
    * mid-stream-setup. */
  private[graft] def scratchBase: String = {
    def usable(p: String): Boolean = {
      val f = new java.io.File(p); f.isDirectory && f.canWrite
    }
    sys.env.get("SPARK_GRAFT_STREAM_SCRATCH").filter(usable)
      .orElse(Option("/dev/shm").filter(usable))
      .getOrElse(System.getProperty("java.io.tmpdir"))
  }

  private[graft] def scratchDir(prefix: String): String = {
    scratchCleanupHook
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratchBase), prefix)
    scratchDirs.add(dir)
    dir.toString
  }

  /** Eagerly delete a [[scratchDir]] (and drop it from the exit-hook
    * queue). Run-once harnesses reap their drop/checkpoint/warehouse
    * dirs as soon as the result is MATERIALIZED (collected or
    * localCheckpoint'ed — a lazy DataFrame still reading the warehouse
    * must not outlive the files), so repeated bench reps in one JVM
    * don't accumulate RAM-backed /dev/shm files until exit. */
  private[graft] def reapScratch(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    scratchDirs.remove(p)
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(q => java.nio.file.Files.deleteIfExists(q))
    } catch { case _: Throwable => () }
  }

  /** The events schema as the streaming source declares it, with `ts` in
    * whatever physical form the drop files carry (see [[readEvents]]). */
  def eventsRawSchema(tsType: org.apache.spark.sql.types.DataType)
      : StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a directory of parquet event drops.
    * `maxFilesPerTrigger` bounds micro-batch size (and, in tests, forces a
    * multi-batch replay so watermark eviction is observable).
    *
    * Drop files have arrived with three different `ts` annotations across
    * generator versions — TIMESTAMP(NANOS) (readable only as long),
    * µs-without-timezone (TIMESTAMP_NTZ), and plain µs TIMESTAMP — so the
    * source sniffs the physical type at setup and normalizes to the
    * session-local TIMESTAMP every downstream window/watermark expects.
    * Session timezone is UTC repo-wide, so the NTZ wall clock and the
    * instant coincide.
    *
    * Two staged-harness preconditions are asserted, not assumed:
    * an EMPTY drop directory fails fast with an actionable message
    * (rather than surfacing Spark's schema-inference error), and the
    * sniff reads with `mergeSchema` so a directory already containing
    * files with MIXED `ts` annotations (the generator-drift case the
    * sniff exists to absorb) throws Spark's merge error at setup instead
    * of pinning the first footer's type and silently misreading the rest
    * mid-stream. Files arriving AFTER start are the harnesses' contract
    * to stage uniformly (every `run*Once` stages the full directory
    * before starting); a production deployment pins the contract type. */
  def readEvents(s: SparkSession, srcDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val staged = Option(new java.io.File(srcDir).listFiles())
      .getOrElse(Array.empty)
      .exists(f => f.getName.startsWith("events") &&
        f.getName.endsWith(".parquet"))
    require(staged, s"readEvents: no events*.parquet in $srcDir — the ts " +
      "physical type is sniffed from staged drop files at setup, so at " +
      "least one file must exist before the stream starts (stage the " +
      "drop directory first, or pin eventsRawSchema explicitly)")
    val tsType = s.read
      .option("pathGlobFilter", "events*.parquet")
      .option("mergeSchema", "true") // mixed annotations must fail NOW
      .parquet(srcDir).schema("ts").dataType
    val reader = s.readStream
      .schema(eventsRawSchema(tsType))
      .option("pathGlobFilter", "events*.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val df = reader.parquet(srcDir)
    tsType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** 1-day tumbling-window aggregate with a 1-day watermark (late events
    * inside the watermark merge into their day; beyond it they're dropped —
    * the streaming answer to the reference's whole-day re-delivery
    * absorption). */
  def dailyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(to_date(col("w.start")).as("day"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** HOPPING (sliding) window counts — the overlapping-window mode the
    * tumbling streams don't exercise: 1-day windows every 12 hours, so
    * every event lands in exactly two windows and adjacent windows share
    * half their data (the smoothing an alerting dashboard wants).
    * Watermark eviction applies per window end; state holds
    * (2 × days × types) rows — still group-bounded, never event-bounded.
    * An event later than the 1-day watermark is DROPPED from both of its
    * windows (spec-pinned across a checkpoint restart) — the standard
    * completeness/latency trade; widen the watermark if the source can
    * deliver further behind event time. `win_start` renders as a minute
    * string so both engines compare the same value (a raw timestamp
    * would hash-differ on µs/ns physical types). */
  def hoppingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm")
        .as("win_start"), col("event_type"), col("n_events"))

  /** Run the hopping stream synchronously (update mode). The memory
    * sink accumulates one row per (window, type) per micro-batch that
    * CHANGED the group, so the read-back keeps each group's LAST
    * emission — counts only grow across update emissions, so
    * `max(n_events)` is exactly the final value whether the source
    * arrived as one micro-batch or many (`maxFilesPerTrigger` replay —
    * spec-pinned). PRECONDITION of the replay harness: files must
    * arrive roughly in event-time order — a file dropped more than the
    * 1-day watermark behind an already-processed batch is discarded by
    * [[hoppingAgg]]'s watermark (by design; the late-data spec pins it),
    * so its events never reach this reduction. Equality with the batch
    * answer holds only under ordered arrival; widen the watermark for
    * sources that replay further out of order. A production deployment
    * upserts from `foreachBatch` instead (the runDailyAggOnce
    * discipline); this harness keeps the sink in-memory and the
    * reduction explicit. */
  def runHoppingOnce(s: SparkSession, srcDir: String,
      statePartitions: Int = 4,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    withStatePartitions(s, statePartitions) {
      val name = "graft_stream_hopping_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val q = hoppingAgg(readEvents(s, srcDir, maxFilesPerTrigger))
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratchDir("graft_ckpt_"))
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.table(name)
        .groupBy(col("win_start"), col("event_type"))
        .agg(max(col("n_events")).as("n_events"))
        .orderBy("win_start", "event_type")
    }

  /** Run the stream synchronously over whatever is in `srcDir` and return
    * the daily aggregate, read back from the upserted warehouse.
    *
    * UPDATE output mode, not complete: each micro-batch emits only the
    * (window, event_type) groups it changed, `foreachBatch` upserts just
    * those days via dynamic partition overwrite, and the 1-day watermark
    * actually evicts closed windows from the state store. Complete mode —
    * the round-1 shape — never evicts state and rewrites the full history
    * every batch: O(days) state and O(history) work per batch on a
    * long-running stream. */
  def runDailyAggOnce(s: SparkSession, srcDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None,
      warehouseDir: Option[String] = None,
      statePartitions: Int = 4): DataFrame = {
    val warehouse = warehouseDir.getOrElse(scratchDir("graft_stream_wh_") + "/daily")
    // State partition count is pinned by the FIRST checkpoint, so it is a
    // deployment decision, not a tuning afterthought. The daily aggregate
    // keeps one state row per (day, event_type) — map-side partial
    // aggregation collapses each micro-batch to at most that many rows
    // before the shuffle, so reduce-side parallelism needs to cover the
    // GROUP count, not the input size: 8 covers years of days x types;
    // per-partition state-store commit overhead (the dominant fixed cost
    // of a micro-batch) scales down with it.
    withStatePartitions(s, statePartitions) {
    val q =
      dailyAgg(readEvents(s, srcDir, maxFilesPerTrigger))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir.getOrElse(
        scratchDir("graft_ckpt_")))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // update-mode batches hold one row per changed (day, type) — tiny
        // at ANY corpus size — so collapse to one writer task per day
        // instead of letting all shuffle partitions emit splinter files.
        // Keyed upsert: the warehouse is partitioned (date, event_type) so
        // a batch touching only SOME of a day's event types overwrites
        // exactly those groups, never the day's other types.
        PartitionedStore.upsertKeyed(
          graft.plans.Writers.byKeys(batch, col("day")), warehouse, "day",
            Seq("event_type"))
      }
      .start()
    try {
      q.awaitTermination()
    } finally {
      q.stop()
    }
    // event_type is a hive partition dir now; pin it back to string in
    // case partition-column type inference sees numeric-looking values
    s.read.parquet(warehouse)
      .select(col("day"), col("event_type").cast("string").as("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("day", "event_type")
    }
  }

  /** Streaming dedup with a watermark: re-delivered event_ids inside the
    * 1-day lateness bound are dropped, and state for older keys is
    * evicted — the streaming answer to the reference's duplicate
    * absorption (`withWatermark` + `dropDuplicates`, SURVEY.md §2.8). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .dropDuplicates("event_id", "ts")

  /** Run `body` with the shuffle/state partition count pinned to `n`,
    * restoring the session conf only after the stream finished (the
    * micro-batch thread reads the conf asynchronously). State partition
    * count is a per-query DEPLOYMENT decision (the first checkpoint pins
    * it): size it to expected STATE VOLUME — a handful for group-bounded
    * state like the daily aggregate or per-user sessions at test scale,
    * hundreds for event-cardinality state (dedup) on a real firehose.
    *
    * `noDataBatches = false` skips the trailing empty micro-batch. It is
    * measurably cheaper (~0.5-2 s per AvailableNow run at sf0.1) but NOT
    * semantics-neutral: that batch is also what persists the ADVANCED
    * watermark to the offset log, so without it a restarted stream
    * resumes at the pre-batch watermark and stops dropping late data it
    * should drop (measured: the cross-run late-event test fails). Every
    * built-in harness therefore keeps it on; the knob exists for
    * single-run, no-restart jobs where the trade is safe. */
  /** Opt-in flag selecting the RocksDB state-store provider for every
    * stateful harness in this object (the [[graft.plans.ApproxRewrite]]
    * flag precedent: library behavior switches ride `spark.graft.*`
    * session confs, defaults unchanged). The default HDFS-backed
    * provider keeps ALL state on the executor heap — fine for
    * group-bounded state (days × event types), a memory wall for
    * event-cardinality state (streaming dedup at firehose volume, where
    * the watermark window can hold billions of keys). RocksDB keeps
    * working state off-heap/on-disk with changelog checkpointing, which
    * is the 100 TB-scale answer. Semantics are identical — spec-pinned
    * by running the dedup/sessions/hopping suites under both providers,
    * checkpoint restart included; Spark pins the provider class in each
    * checkpoint's offset-log metadata, so a restart can never silently
    * switch an existing stream. */
  val RocksDbFlagKey = "spark.graft.stateStore.rocksdb"
  val RocksDbProviderClass =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def withStatePartitions[T](s: SparkSession, n: Int,
      noDataBatches: Boolean = true)(body: => T): T = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = s.conf.getOption(ndKey)
    val rocks = s.conf.getOption(RocksDbFlagKey).contains("true")
    val prevProv = s.conf.getOption(ProviderKey)
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s.conf.set(ndKey, noDataBatches.toString)
    if (rocks) s.conf.set(ProviderKey, RocksDbProviderClass)
    try body
    finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevNd match {
        case Some(v) => s.conf.set(ndKey, v)
        case None => s.conf.unset(ndKey)
      }
      if (rocks) prevProv match {
        case Some(v) => s.conf.set(ProviderKey, v)
        case None => s.conf.unset(ProviderKey)
      }
    }
  }

  /** Run the dedup stream synchronously and return the surviving rows
    * (count-only projection; memory sink). Dedup state holds one row per
    * distinct (event_id, ts) inside the watermark window, so unlike the
    * daily aggregate its partition count must scale with event volume —
    * the default suits the bundled test SFs (measured at sf0.1, README
    * finding 7: 4 partitions ~1.3s vs ~1.9s at 8 — per-partition commit cost
    * dominates until state is far larger; a 100 TB deployment raises
    * this with volume). */
  def runDedupOnce(s: SparkSession, srcDir: String,
      statePartitions: Int = 4): DataFrame =
    withStatePartitions(s, statePartitions) {
    val name = "graft_stream_dedup_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = dedupedEvents(readEvents(s, srcDir))
      .select(col("event_id"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        scratchDir("graft_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name).orderBy("event_id")
  }

  /** Static per-user cohort dimension, derived deterministically from the
    * md5 bucket of the user id (so the DuckDB oracle reproduces every
    * assignment). Stands in for the user/account table a production
    * enrichment joins against. */
  def staticUserCohorts(s: SparkSession, srcDir: String): DataFrame =
    graft.Tables.load(s, srcDir, "events")
      .select(col("user_id")).distinct()
      .withColumn("cohort", concat(lit("c"),
        (graft.operators.Curation.hashBucket(col("user_id")) % 4)
          .cast("string")))

  /** Stream-STATIC join — the Structured Streaming join mode the other
    * five streams don't exercise: streaming events enriched against a
    * static dimension, then windowed per (day, cohort). The static side
    * is a plain batch relation re-planned into every micro-batch (and
    * broadcast at dimension size) — inner stream-static joins need no
    * state and no watermark of their own; the downstream aggregate keeps
    * the usual 1-day watermark. At 100 TB this is THE enrichment shape:
    * the dimension lives in the warehouse, refreshes independently of
    * the stream, and each micro-batch sees its latest snapshot. */
  def cohortEnriched(events: DataFrame, userDim: DataFrame): DataFrame =
    events
      .join(userDim, Seq("user_id"))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("cohort"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(to_date(col("w.start")).as("day"), col("cohort"),
        col("n_events"), col("sum_value"))

  /** Run the enrichment stream synchronously (update mode + keyed upsert,
    * the runDailyAggOnce discipline) and read the warehouse back. */
  def runEnrichOnce(s: SparkSession, srcDir: String,
      statePartitions: Int = 4): DataFrame = {
    val warehouse = scratchDir("graft_stream_wh_") + "/cohorts"
    withStatePartitions(s, statePartitions) {
      val q = cohortEnriched(readEvents(s, srcDir),
        staticUserCohorts(s, srcDir))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation",
          scratchDir("graft_ckpt_"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          PartitionedStore.upsertKeyed(
            graft.plans.Writers.byKeys(batch, col("day")), warehouse, "day",
              Seq("cohort"))
        }
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(warehouse)
        .select(col("day"), col("cohort").cast("string").as("cohort"),
          col("n_events"), col("sum_value"))
        .orderBy("day", "cohort")
    }
  }

  /** Custom streaming state (SURVEY.md §7.2 step 6 / prompt §2.8):
    * per-user cumulative event count and last-seen day maintained in a
    * state store — the shape every custom feature accumulator takes at
    * scale (state partitioned by key, incremental per micro-batch).
    *
    * State is BOUNDED: `EventTimeTimeout` with a `retentionDays` TTL from
    * the user's last event. When the watermark passes last-seen +
    * retention, the state is removed and emits nothing (the running
    * counts were already emitted in update mode on every change) — so
    * state is O(users active inside the retention window), not O(every
    * user ever seen), on an unbounded stream. A user reappearing after
    * expiry re-accumulates from zero, the standard TTL'd-feature-store
    * semantics. */
  case class UserState(n: Long, lastDay: String, lastUs: Long)
  case class UserCount(user_id: Long, n_events: Long, last_day: String)

  /** Per-user running-count stream (library surface; `runUserCountsOnce`
    * is the synchronous harness). */
  def userCountStream(events: DataFrame, retentionDays: Int = 30) = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    val retentionMs = retentionDays * 24L * 3600L * 1000L
    events
      .withWatermark("ts", "1 day")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserCount](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            // TTL expiry: drop the state, emit nothing (counts already
            // emitted on their last change)
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(UserState(0L, "", 0L))
            rows.foreach { case (_, _, us) =>
              // UTC day from event-time micros (deterministic across JVMs,
              // independent of driver default timezone)
              val day = java.time.LocalDate.ofEpochDay(
                Math.floorDiv(us, 86400000000L)).toString
              st = UserState(st.n + 1,
                if (day > st.lastDay) day else st.lastDay,
                math.max(st.lastUs, us))
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastUs / 1000L + retentionMs)
            Iterator.single(UserCount(user, st.n, st.lastDay))
          }
      }
  }

  def runningUserCounts(s: SparkSession, srcDir: String,
      retentionDays: Int = 30,
      statePartitions: Int = 4): DataFrame = withStatePartitions(s, statePartitions) {
    val name = "graft_stream_state_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = userCountStream(readEvents(s, srcDir), retentionDays)
      .toDF()
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        scratchDir("graft_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // last update per user is the final state
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    s.table(name)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("user_id")
  }

  /** Stream-stream interval join (click→purchase attribution): each
    * purchase joins the same user's clicks from the preceding
    * `windowMinutes`. The time-bound condition is what makes this safe on
    * an unbounded stream: with watermarks on BOTH sides, the join state
    * for a click can be dropped once the watermark passes
    * click_ts + window (no purchase can match it anymore), so state is
    * O(events inside the window + watermark), not O(history). An
    * unbounded-condition stream join would keep every row forever — the
    * streaming analog of the n² candidate blowup the dedup caps guard
    * against. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 day")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 day")
    p.join(c, expr(
      s"""p_user = c_user
         | AND click_ts >= purchase_ts - INTERVAL $windowMinutes MINUTES
         | AND click_ts <= purchase_ts""".stripMargin))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        col("value"))
  }

  /** Left-outer variant: purchases with NO in-window click still emit,
    * with null click_id — but only once the click-side watermark passes
    * the purchase's match window, proving no matching click can still
    * arrive. On an unbounded stream that is the fundamental outer-join
    * deal: null results are DELAYED by the watermark, never wrong. In an
    * AvailableNow pass the trailing no-data batch advances the watermark
    * to max(ts) - delay, so the emitted set is: all matched pairs (as the
    * inner join) plus null rows for unmatched purchases old enough that
    * the final watermark closed their window (pinned empirically in
    * `StreamingSpec` and mirrored in the oracle SQL). */
  def attributionJoinOuter(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 day")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 day")
    p.join(c, expr(
      s"""p_user = c_user
         | AND click_ts >= purchase_ts - INTERVAL $windowMinutes MINUTES
         | AND click_ts <= purchase_ts""".stripMargin), "left_outer")
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        col("value"))
  }

  def runAttributionOuterOnce(s: SparkSession, srcDir: String,
      windowMinutes: Int = 30,
      statePartitions: Int = 4): DataFrame = withStatePartitions(s, statePartitions) {
    val name = "graft_stream_oattr_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = attributionJoinOuter(
      readEvents(s, srcDir).filter(col("event_type") === "click"),
      readEvents(s, srcDir).filter(col("event_type") === "purchase"),
      windowMinutes)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        scratchDir("graft_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name).orderBy(col("purchase_id"), col("click_id"))
  }

  /** Run the attribution join synchronously over `srcDir` (AvailableNow,
    * memory sink). In one pass nothing is beyond the initial watermark,
    * so the emitted set equals the batch interval join — which is exactly
    * the oracle the driver checks it against. */
  def runAttributionOnce(s: SparkSession, srcDir: String,
      windowMinutes: Int = 30,
      // a stream-stream join keeps FOUR keyed state stores (two per side);
      // per-partition commit cost dominates until state is huge, so the
      // default sits low (measured 6.2s at 8 partitions -> ~4s at 4)
      statePartitions: Int = 4): DataFrame = withStatePartitions(s, statePartitions) {
    val name = "graft_stream_attr_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val events1 = readEvents(s, srcDir).filter(col("event_type") === "click")
    val events2 = readEvents(s, srcDir).filter(col("event_type") === "purchase")
    val q = attributionJoin(events1, events2, windowMinutes)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        scratchDir("graft_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name).orderBy("purchase_id", "click_id")
  }

  /** Event-time session windows via `flatMapGroupsWithState` +
    * `EventTimeTimeout` — the custom-state sessionizer shape (SURVEY.md
    * §2.8 / the batch `sessionize` operator's streaming twin):
    *
    *  - state = at most ONE open session per user (start, end, count);
    *  - sessions that close inside a batch (next event > gap away) emit
    *    immediately; the still-open session parks in the state store with
    *    `setTimeoutTimestamp(end + gap)`;
    *  - when the WATERMARK passes that timestamp the state times out, the
    *    session emits, and its state is removed — so state size is
    *    O(active users), not O(history), on an unbounded stream.
    *
    * Rows are sorted per (user, batch) in memory: bounded by a user's
    * events per micro-batch, the same bound the state store itself
    * assumes. */
  case class OpenSession(startUs: Long, endUs: Long, n: Long)
  /** Session bounds as unix MICROS (not Timestamp): exact at the source's
    * precision and oracle-comparable (`epoch_us` on the DuckDB side). */
  case class SessionRow(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  def sessionizedStream(events: DataFrame, gapMinutes: Int = 30) = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "1 day")
      // keep `ts` (the watermark column) in the projection; arithmetic
      // runs on unix_micros to preserve sub-millisecond event times
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val open = state.get
            state.remove()
            Iterator.single(
              SessionRow(user, open.startUs, open.endUs, open.n))
          } else {
            // Sweep-merge the batch's events WITH the parked open session
            // as one sorted interval list: a late event arriving in a later
            // micro-batch that precedes the open session either extends it
            // backward (within gap: start = min) or closes as its own
            // EARLIER session (beyond gap) — the two cases the naive
            // append-only fold got wrong (round-2 advisor finding).
            val items: Array[OpenSession] =
              (rows.map { case (_, _, t) => OpenSession(t, t, 1L) } ++
                state.getOption.iterator).toArray.sortBy(_.startUs)
            val closed = scala.collection.mutable.ArrayBuffer[SessionRow]()
            var open: OpenSession = null
            items.foreach { iv =>
              if (open == null) open = iv
              else if (iv.startUs - open.endUs > gapUs) {
                closed += SessionRow(user, open.startUs, open.endUs, open.n)
                open = iv
              } else open = OpenSession(open.startUs,
                math.max(open.endUs, iv.endUs), open.n + iv.n)
            }
            if (open != null) {
              state.update(open)
              state.setTimeoutTimestamp((open.endUs + gapUs) / 1000L)
            }
            closed.iterator
          }
      }
  }

  /** Run the sessionizer synchronously (AvailableNow + memory sink) and
    * return the emitted (closed or timed-out) sessions. */
  def runSessionsOnce(s: SparkSession, srcDir: String,
      gapMinutes: Int = 30,
      statePartitions: Int = 4): DataFrame = withStatePartitions(s, statePartitions) {
    val name = "graft_stream_sessions_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = sessionizedStream(readEvents(s, srcDir), gapMinutes)
      .toDF()
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        scratchDir("graft_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name).orderBy("user_id", "start_us")
  }

  /** Production-shaped continuous sessionizer: append-only parquet sink
    * (closed sessions are immutable facts — no upsert needed), hive
    * `session_day=` partitioning derived from the session start so
    * downstream reads prune by day. Returns the running query; callers
    * manage lifecycle. */
  def continuousSessionSink(s: SparkSession, srcDir: String,
      outPath: String, checkpoint: String,
      gapMinutes: Int = 30,
      trigger: Trigger = Trigger.ProcessingTime("1 hour")) = {
    sessionizedStream(readEvents(s, srcDir), gapMinutes)
      .toDF()
      .withColumn("session_day",
        to_date(timestamp_micros(col("start_us"))))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("session_day")
      .trigger(trigger)
      .start()
  }

  /** Continuous variant: hourly micro-batches, each upserted into the
    * parquet warehouse via dynamic partition overwrite (U1 semantics —
    * re-delivered days replace, not duplicate). Returns the running query;
    * callers manage lifecycle.
    *
    * UPDATE mode is load-bearing at scale: only changed (day, type) groups
    * reach `foreachBatch`, and the 1-day watermark evicts closed windows
    * from the state store. In complete mode the watermark never evicts and
    * each hourly batch would rewrite every day since stream start.
    *
    * The warehouse is partitioned `(date, event_type)` and upserted at
    * that granularity: because an update-mode batch holds only the groups
    * it CHANGED, overwriting whole `date=` partitions would delete a
    * day's untouched event types whenever a batch carries a partial day
    * (any hourly batch, any re-run over a shared warehouse). */
  def continuousDailyUpsert(s: SparkSession, srcDir: String,
      warehousePath: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 hour")) = {
    dailyAgg(readEvents(s, srcDir))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        PartitionedStore.upsertKeyed(batch, warehousePath, "day",
          Seq("event_type"))
      }
      .start()
  }
}
