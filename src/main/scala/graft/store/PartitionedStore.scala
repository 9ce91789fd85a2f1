package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse layer: zstd Parquet, hive `date=` partition layout, and the
  * reference's idempotent per-day "upsert simples" — delete-then-insert of
  * one day inside a transaction (`weather_hourly_pipeline.py:101-112`) —
  * rendered Spark-native as dynamic partition overwrite.
  *
  * Layout matches the reference's S3 key scheme
  * `weather/date=YYYY-MM-DD/...` (`weather_hourly_pipeline.py:77`), so
  * partition pruning on a `date` predicate skips everything but the
  * touched day — the property that makes re-runs and backfills O(day),
  * not O(table), at 100 TB.
  */
object PartitionedStore {

  /** Write a batch, overwriting ONLY the calendar-day partitions present in
    * it (reference semantics: DELETE day + INSERT rows, U1 in SURVEY.md
    * §2.6). Re-running the same batch is a no-op state-wise (idempotent).
    *
    * Rows are sorted WITHIN each write task by (date, time): every
    * parquet file then carries monotone time ranges, so its row-group
    * min/max stats let readers with time predicates skip whole row
    * groups — the intra-file complement of `date=` partition pruning.
    * Free at write (a per-task sort of one day's rows), paid back on
    * every time-sliced read at 100 TB. */
  def upsertDaily(df: DataFrame, path: String, dateCol: String = "time"): Unit =
    dynamicOverwrite(df, path, dateCol, Nil)

  /** Keyed variant for UPDATE-mode streaming aggregates: partition by
    * `(date, keyCols...)` so the dynamic overwrite replaces exactly the
    * GROUPS present in the batch, never the whole day. An update-mode
    * micro-batch carries only the (day, key) groups it changed — each with
    * its full new aggregate value — so overwrite-at-group-granularity is
    * both correct and the minimal write. Overwriting at day granularity
    * instead would DELETE the day's untouched groups (the round-2 advisor
    * finding): an hourly batch containing only some event types for a day
    * silently dropped the rest.
    *
    * Key columns become hive partition directories; keep them
    * low-cardinality strings (e.g. `event_type`). */
  def upsertKeyed(df: DataFrame, path: String, dateCol: String,
      keyCols: Seq[String]): Unit =
    dynamicOverwrite(df, path, dateCol, keyCols)

  /** Dynamic mode is set on this writer only: the session's
    * `spark.sql.sources.partitionOverwriteMode` is never touched, so a
    * concurrent write elsewhere in the session keeps its own mode. */
  private def dynamicOverwrite(df: DataFrame, path: String, dateCol: String,
      keyCols: Seq[String]): Unit =
    df.withColumn("date", to_date(col(dateCol)))
      .sortWithinPartitions(col("date"), col(dateCol))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date" +: keyCols: _*)
      .option("compression", "zstd") // weather_hourly_pipeline.py:73
      .parquet(path)

  /** Read the warehouse back; hive partition discovery restores `date` as a
    * column and prunes on `date` predicates. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Schema-evolution gate — the S5 robustness family stated as an
    * oracle-checked boolean relation: a 100 TB lake's oldest files were
    * written before its newest columns existed, so every reader must
    * handle ADDED-COLUMN drift (the one evolution parquet merges
    * losslessly). The gate writes the documents projection twice — an
    * old batch WITHOUT `lang`, a new batch WITH it — reads both through
    * `mergeSchema`, and pins the read semantics downstream jobs rely
    * on:
    *  - `schema_widened`: the merged schema is exactly the union, new
    *    column last;
    *  - `old_rows_null_filled`: every pre-evolution row reads
    *    `lang IS NULL` (absence, not a default — filters and
    *    aggregates see exactly the rows that carried the value);
    *  - `new_rows_carry_values`: every post-evolution row keeps its
    *    written value (compared against the SOURCE's non-null count
    *    for those rows, so a genuinely-NULL `lang` in the new batch
    *    can never alias evolution null-fill — both booleans are
    *    fixture-independent);
    *  - `rows_conserved`: the merged read loses/duplicates nothing;
    *  - `pruned_read_agrees`: a projection that never touches the
    *    evolved column returns identical aggregates over old files
    *    with and without mergeSchema — evolution cannot tax readers
    *    that don't use the new column.
    *
    * Scale shape: bounded-lifecycle scratch write; at 100 TB the same
    * merge happens per-file at planning time from footer schemas (or
    * one catalog lookup when a table format records the evolution). */
  def schemaEvolutionGate(s: SparkSession, dir: String): DataFrame = {
    val scratch = graft.operators.Similarity.scratchDir(s, "graft-sevo-")
    try {
      val docs = graft.Tables.load(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val neu = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      old.write.mode("overwrite").parquet(s"$scratch/old")
      neu.write.mode("overwrite").parquet(s"$scratch/new")
      val merged = s.read.option("mergeSchema", "true")
        .parquet(s"$scratch/old", s"$scratch/new")
      val m = merged.agg(
        count(lit(1)).as("total"),
        sum(when(col("doc_id") % 2 === 0 && col("lang").isNull, 1L)
          .otherwise(0L)).as("oldNulls"),
        sum(when(col("doc_id") % 2 === 1 && col("lang").isNotNull, 1L)
          .otherwise(0L)).as("carried"),
        sum(col("n_chars")).as("chars")).head()
      val c = docs.agg(
        count(lit(1)).as("n"),
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("nOld"),
        sum(col("n_chars")).as("chars"),
        sum(when(col("doc_id") % 2 === 1 && col("lang").isNotNull, 1L)
          .otherwise(0L)).as("nNewNonNull")).head()
      // the no-new-column projection must agree over the old files
      // whether or not schema merging is on
      val oldPlain = s.read.parquet(s"$scratch/old")
        .agg(sum(col("n_chars"))).head().getLong(0)
      val oldMerged = s.read.option("mergeSchema", "true")
        .parquet(s"$scratch/old")
        .agg(sum(col("n_chars"))).head().getLong(0)
      import s.implicits._
      Seq((merged.columns.toSeq ==
          Seq("doc_id", "source", "n_chars", "lang"),
        m.getLong(1) == c.getLong(1),
        m.getLong(2) == c.getLong(3),
        m.getLong(0) == c.getLong(0) && m.getLong(3) == c.getLong(2),
        oldPlain == oldMerged))
        .toDF("schema_widened", "old_rows_null_filled",
          "new_rows_carry_values", "rows_conserved", "pruned_read_agrees")
    } finally graft.operators.Similarity.deleteScratch(s, scratch)
  }

  /** Right-to-be-forgotten gate — tombstone propagation stated as an
    * oracle-checked boolean relation (the reference roadmap's lifecycle
    * rules, `README.md:203`, applied to the curated layer). A 100 TB
    * lake cannot rewrite the table to honor a deletion list; it must
    * rewrite ONLY the partitions the tombstones live in. The gate
    * writes documents hive-partitioned by `source`, tombstones every
    * `doc_id % 17 == 0` in the lexicographically first source, purges
    * via partition-pruned read → broadcast anti-join → dynamic
    * partition overwrite, and pins:
    *  - `layouts_written`: store complete, ≥2 partitions, ≥1 tombstone
    *    (the purge is non-vacuous);
    *  - `purged_absent`: no tombstoned doc_id survives anywhere;
    *  - `rows_conserved`: exactly the tombstoned rows left;
    *  - `untouched_files_stable`: every partition OUTSIDE the deletion
    *    list keeps its exact files (name+size) — the purge wrote
    *    nothing it didn't have to;
    *  - `touched_partition_rewritten`: the affected partition's files
    *    really were replaced;
    *  - `survivors_intact`: the after-store equals the before-store
    *    minus tombstones VALUE-wise (exceptAll both ways empty).
    *
    * Scale shape: purge cost is O(affected partitions), never O(table);
    * the tombstone list rides as a broadcast; the file-inventory probes
    * are driver metadata (per-partition directory listings), the local
    * stand-in for a table format's manifest diff. */
  def forgetGate(s: SparkSession, dir: String): DataFrame = {
    val scratch = graft.operators.Similarity.scratchDir(s, "graft-forget-")
    try {
      val docs = graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      val store = s"$scratch/store"
      // the store write and the (count, min-source) probe are
      // independent reads of the source table — overlap (guide §2.6)
      val (d0, _) = graft.operators.Par.two(
        docs.agg(count(lit(1)), min(col("source"))).head(),
        graft.plans.Writers.byKeys(docs, col("source")).write
          .mode("overwrite").partitionBy("source").parquet(store))
      val (nDocs, target) = (d0.getLong(0), d0.getString(1))
      val tomb = docs
        .filter(col("source") === target && col("doc_id") % 17 === 0)
        .select(col("doc_id"))
      val before = s.read.parquet(store)
      // tombstone count (source table) and store row count — overlap
      val (nTomb, nBefore) = graft.operators.Par.two(
        tomb.count(), before.count())
      val inv0 = fileInventory(s, store)
      // the expected survivor set, derived from the SOURCE table so its
      // lineage is immune to the store rewrite below
      val expected = docs.join(broadcast(tomb), Seq("doc_id"), "left_anti")
      // partition-pruned read of ONLY the affected source, anti-join
      // against the broadcast tombstones — the O(affected partition)
      // purge input, materialized eagerly before its own files are
      // replaced by the overwrite
      val survivors = before.filter(col("source") === target)
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source").parquet(store)
      val after = s.read.parquet(store)
      val inv1 = fileInventory(s, store)
      val untouched = (inv0.keySet - s"source=$target")
        .forall(k => inv1.get(k).contains(inv0(k)))
      // one pass over the purged store: total rows + surviving
      // tombstones (the tombstone set is predicate-defined, so the
      // membership test needs no join); the multiset-difference probe
      // is an independent read of the same purged store — overlap
      // (guide §2.6; the old `nAfter == …` shortcut only skipped the
      // diff on an already-failed gate, so running it unconditionally
      // changes no value)
      val (a, nDiff) = graft.operators.Par.two(
        after.agg(
          count(lit(1)).as("n"),
          sum(when(col("source") === target && col("doc_id") % 17 === 0,
            1L).otherwise(0L)).as("ghosts")).head(),
        after.select(docs.columns.map(col).toSeq: _*)
          .exceptAll(expected).count())
      val (nAfter, ghosts) = (a.getLong(0), a.getLong(1))
      import s.implicits._
      Seq((nBefore == nDocs && inv0.size >= 2 && nTomb > 0,
        ghosts == 0L,
        nAfter == nDocs - nTomb,
        untouched,
        inv1.get(s"source=$target") != inv0.get(s"source=$target"),
        // equal cardinality + empty one-way difference ⟹ equal multisets
        // (column order aligned: hive layout appends the partition col)
        nAfter == nDocs - nTomb && nDiff == 0L))
        .toDF("layouts_written", "purged_absent", "rows_conserved",
          "untouched_files_stable", "touched_partition_rewritten",
          "survivors_intact")
    } finally graft.operators.Similarity.deleteScratch(s, scratch)
  }

  /** Retention/expiry gate — the roadmap's hot-window lifecycle rule
    * (`README.md:203,209`: keep the newest window in the hot table,
    * expire the rest) stated as an oracle-checked boolean relation.
    * Expiry on a `date=`-partitioned store is a PARTITION DROP — a
    * metadata/filesystem operation that never scans a row — and the
    * gate pins exactly that:
    *  - `layouts_written`: one hive partition per calendar day, all
    *    rows present;
    *  - `expired_dirs_gone`: every partition older than the cutoff is
    *    gone after expiry;
    *  - `kept_files_untouched`: every retained partition keeps its
    *    exact files — expiry wrote and rewrote NOTHING;
    *  - `rows_match_cutoff`: the surviving store holds exactly the
    *    source rows at/after the cutoff;
    *  - `slice_equals_retained`: the post-expiry store is value-equal
    *    to the pre-expiry store filtered by the cutoff predicate —
    *    retention is indistinguishable from the hot-window read it
    *    replaces (so queries need no rewrite when expiry runs).
    *
    * The cutoff keeps the newest half of the days present (the local
    * analog of "keep 400 days hot"). Directory deletes stand in for an
    * object-store lifecycle rule or a table format's DROP PARTITION —
    * O(expired partitions), O(0) data read, at any table size. */
  def retentionGate(s: SparkSession, dir: String): DataFrame = {
    val scratch = graft.operators.Similarity.scratchDir(s, "graft-retain-")
    try {
      val ev = graft.Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val store = s"$scratch/store"
      // the store write and the source count are independent reads of
      // the events table — overlap (guide §2.6)
      val (nEv, _) = graft.operators.Par.two(
        ev.count(), upsertDaily(ev, store, "ts"))
      val before = s.read.parquet(store)
      // row count and day list are independent reads of the store
      val (nBefore, days) = graft.operators.Par.two(
        before.count(),
        before.select(col("date")).distinct()
          .orderBy(col("date")).collect().map(_.getDate(0))) // bounded:
      // one row per calendar day — partition metadata, not data
      val cutoff = days(days.length / 2)
      val keep = days.drop(days.length / 2).toSet
      val pre = before.filter(col("date") >= lit(cutoff))
        .localCheckpoint(true) // pin: partitions vanish underneath
      val inv0 = fileInventory(s, store)
      // expiry: drop expired partition directories, touch nothing else
      days.take(days.length / 2).foreach { d =>
        graft.operators.Similarity.deleteScratch(s,
          new org.apache.hadoop.fs.Path(store, s"date=$d"))
      }
      val after = s.read.parquet(store)
      val inv1 = fileInventory(s, store)
      // the four post-expiry probes (store count, source-side cutoff
      // count, retained-slice count, multiset difference) are
      // independent — overlap in pairs (guide §2.6; the old
      // `nAfter == nPre` shortcut only skipped the diff on an
      // already-failed gate, so running it unconditionally changes no
      // value)
      val ((nAfter, nCut), (nPre, nDiff)) = graft.operators.Par.two(
        graft.operators.Par.two(
          after.count(),
          ev.filter(to_date(col("ts")) >= lit(cutoff)).count()),
        graft.operators.Par.two(
          pre.count(), after.exceptAll(pre).count()))
      import s.implicits._
      Seq((nBefore == nEv && inv0.size == days.length &&
          keep.size < days.length,
        inv1.keySet == keep.map(d => s"date=$d"),
        keep.forall(d => inv1.get(s"date=$d").contains(inv0(s"date=$d"))),
        nAfter == nCut,
        // equal cardinality + empty one-way difference ⟹ equal multisets
        nAfter == nPre && nDiff == 0L))
        .toDF("layouts_written", "expired_dirs_gone",
          "kept_files_untouched", "rows_match_cutoff",
          "slice_equals_retained")
    } finally graft.operators.Similarity.deleteScratch(s, scratch)
  }

  /** Per-partition file inventory of a hive-layout store root:
    * `partitionDir -> {(fileName, bytes)}`. Driver-side metadata (the
    * local stand-in for a manifest listing), resolved through the
    * store's Hadoop [[org.apache.hadoop.fs.FileSystem]] so the probe
    * works against any scheme the store itself lives on; data files
    * only. */
  private def fileInventory(s: SparkSession,
      root: String): Map[String, Set[(String, Long)]] = {
    val base = new org.apache.hadoop.fs.Path(root)
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(base)) Map.empty
    else fs.listStatus(base)
      .filter(p => p.isDirectory && p.getPath.getName.contains("="))
      .map { p =>
        val files = fs.listStatus(p.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map(f => (f.getPath.getName, f.getLen)).toSet
        p.getPath.getName -> files
      }.toMap
  }
}
