package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** Streaming corpus ingestion: the arrival face of the curation surface.
  * A crawl batch LANDS as files; the stream dedups each arriving file
  * against the existing corpus's digest index before it ever reaches the
  * training set — [[graft.operators.Dedup.incrementalDedup]]'s exact
  * lane as a continuously-running filter.
  *
  * Scale shape: the dedup is a stream-static LEFT ANTI join — the stream
  * side carries (doc_id, 16-byte digest) only, the static index side is
  * a digest relation re-planned into every micro-batch (so a warehouse
  * refresh of the index is picked up on the next batch without
  * restarting the stream). Stream-static anti joins are STATELESS: no
  * watermark, no state store, nothing grows with corpus size on the
  * streaming side. At 100 TB the index digest table lives
  * hive-partitioned in the warehouse and the anti join's build side
  * prunes to the digest column — the stream never touches index text. */
object CorpusStream {

  /** The documents schema as the file stream declares it (schema-first:
    * a streaming source never infers). */
  val documentsBatchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Streaming source over a directory of parquet document drops. */
  def readDocuments(s: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    s.readStream
      .schema(documentsBatchSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** The stream-static anti-join filter itself: arriving documents
    * survive iff their content digest is absent from the index. */
  def indexFiltered(docs: DataFrame, indexDigests: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .join(indexDigests, Seq("h"), "left_anti")
      .select(col("doc_id"))

  /** The streaming LSH lane: survivors of one arriving micro-batch
    * against the static band index + shingle relation — the NEAR-dup
    * counterpart of [[indexFiltered]], run in batch mode inside
    * `foreachBatch` (candidate dedup and the per-doc verdict need
    * `distinct`/`groupBy`, which would be stateful as a raw stream; the
    * micro-batch boundary makes them stateless batch work, the
    * runDailyAggOnce discipline). Arriving docs band once (the custom
    * MinHashSignature expression runs fine in a batch projection), probe
    * the capped index buckets, and only CANDIDATES pay the exact-Jaccard
    * verification — the asymmetric probe shape of
    * [[graft.operators.Dedup.incrementalDedup]]: the index never
    * self-joins, and the stream side never sees index text except for
    * its own candidates' shingle rows. */
  def nearDupSurvivors(batch: DataFrame, iBands: DataFrame,
      shI: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.TextFunctions.{jaccard, tokens}
    val bBands = Dedup.bandIndex(batch, 64, 16)
      .select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    val cands = bBands.join(iBands, Seq("band", "bucket"))
      .select(col("b_id"), col("i_id")).distinct()
    val shB = batch.select(col("doc_id").as("b_id"),
      graft.functions.SketchExpressions
        .wordShingles(tokens(col("text"))).as("sh_b"))
    val dropped = cands.join(shB, Seq("b_id")).join(shI, Seq("i_id"))
      .filter(jaccard(col("sh_b"), col("sh_i")) >= threshold)
      .select(col("b_id").as("doc_id")).distinct()
    batch.select(col("doc_id")).join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Exactly-once survivor sink for the streaming LSH lane: batch
    * `batchId`'s survivors land under `batch_id=<id>` via dynamic
    * partition overwrite (the [[graft.store.PartitionedStore]] upsert
    * discipline), so a micro-batch REPLAYED after a crash between the
    * parquet write and the checkpoint commit overwrites its OWN
    * partition instead of double-appending. `foreachBatch`'s documented
    * delivery contract is at-least-once with a replay-stable batchId —
    * keying the overwrite on that id is what upgrades the sink to
    * effectively-exactly-once. */
  def upsertSurvivors(survivors: DataFrame, warehouse: String,
      batchId: Long): Unit =
    survivors.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(warehouse)

  /** Run-once harness for the streaming near-dup filter: same
    * batch/index split and planted index copies as [[runIndexDedupOnce]],
    * but the arriving file is filtered through the LSH lane
    * ([[nearDupSurvivors]]) instead of the exact digest lane. At the
    * 0.99 threshold the only cross-split matches are exact-text groups
    * (planted copies and natural exact dups — the measured
    * incremental_dedup precondition), so the keep set is closed-form:
    * batch docs whose text digest is absent from the index — the SAME
    * oracle relation as the exact lane, reached through banding +
    * verification, which is precisely what makes it a value-checked gate
    * on the streaming LSH path.
    *
    * Oracle-equivalence caveat (data-dependent, inherited from
    * `incrementalDedup`): besides "only exact-text groups cross the 0.99
    * threshold", the closed-form keep set also assumes no two documents
    * with DIFFERENT bytes share an identical word-shingle set — texts
    * differing only in whitespace runs tokenize identically, so their
    * Jaccard is 1.0 and the LSH lane drops a doc the exact-md5 lane
    * keeps. Both preconditions hold for the bundled generator (measured;
    * StreamingSpec + the round oracles pin them); a future corpus
    * generator that emits whitespace-variant near-copies will fail HERE,
    * attributably, not in the operator.
    *
    * The static sides (capped band index, shingle relation) are
    * persisted ONCE for the run and reused by every micro-batch — the
    * harness analog of a deployment materializing both in the warehouse
    * and refreshing them on index compaction (re-planning them per
    * batch re-banded the full index each trigger: measured 45.9 s on
    * the 10× rehearsal slice vs linear once cached). Survivors are
    * written through [[upsertSurvivors]] — batchId-keyed idempotent
    * overwrite, so checkpoint-replayed batches cannot double-append. */
  def runNearDupOnce(s: SparkSession, srcDir: String,
      threshold: Double = 0.99, maxBucket: Int = 1000): DataFrame =
    RunOnce(s, "graft_neardup_") { run =>
      import graft.functions.TextFunctions.tokens
      import org.apache.spark.sql.expressions.Window
      val docs = graft.Tables.load(s, srcDir, "documents")
      val isBatch = col("doc_id") % 10 === 3
      val index = docs.filter(!isBatch).select(col("doc_id"), col("text"))
      // The static sides PERSIST across micro-batches — the harness analog
      // of the deployment shape the scaladoc promises (index bands and
      // shingles materialized in the warehouse, refreshed on compaction).
      // Without this, every micro-batch re-plans the FULL index banding:
      // with maxFilesPerTrigger=1 a multi-file drop pays
      // (#batches × index scan) — measured 45.9 s on the 10× rehearsal
      // slice (~32 drop files), vs linear once cached.
      val iBands = Dedup.bandIndex(index, 64, 16)
        .withColumn("bsz", count(lit(1))
          .over(Window.partitionBy(col("band"), col("bucket"))))
        .filter(col("bsz") <= maxBucket)
        .select(col("band"), col("bucket"), col("doc_id").as("i_id"))
        .persist()
      val shI = index.select(col("doc_id").as("i_id"),
        graft.functions.SketchExpressions
          .wordShingles(tokens(col("text"))).as("sh_i"))
        .persist()
      try {
        // stage the drop AND pre-fill the static-side caches concurrently
        // (guide §2.6): the stream cannot start before the drop lands, so
        // filling the banding/shingle caches on the side thread moves that
        // work off the first micro-batch's critical path for free
        graft.operators.Par.two(
          docs.filter(isBatch).select(col("doc_id"), col("text"))
            .unionByName(index
              .filter(col("doc_id") % 100 === 0 && col("doc_id") < 500)
              .select((col("doc_id") + Dedup.PlantOffset).as("doc_id"),
                col("text")))
            // a DETERMINISTIC 2-file drop at every corpus scale: with
            // maxFilesPerTrigger=1 the file count IS the micro-batch count,
            // and an SF-dependent drop layout would change how many
            // micro-batches the harness runs (the 10x rehearsal slice read
            // back as 32 files -> 32 batches x fixed per-batch cost,
            // drowning the work being measured). Two files keep the
            // multi-batch lane exercised; batch sizing at deployment is a
            // source option, not an operator property.
            .coalesce(2)
            .write.mode("overwrite").parquet(run.drop),
          { iBands.count(); shI.count() })
        run.foreachBatch(readDocuments(s, run.drop)) { (b, batchId) =>
          upsertSurvivors(nearDupSurvivors(b, iBands, shI, threshold),
            run.wh, batchId)
        }
      } finally {
        iBands.unpersist(blocking = false)
        shI.unpersist(blocking = false)
        // the LSH lane leaves corpus-scale broadcast/shuffle state that
        // only the ContextCleaner frees on GC; without this, back-to-back
        // harness runs in one JVM degrade monotonically (measured
        // 6.8 -> 11.2 s across bench reps; the repo-wide gc-between-
        // queries discipline covers queries, not reps)
        System.gc()
      }
      // the batch keep set is corpus-fraction-sized: RunOnce materializes
      // it distributed (localCheckpoint), never as a driver collect
      s.read.parquet(run.wh).select("doc_id").orderBy("doc_id")
    }

  /** Streaming drift monitor — [[graft.operators.TextAnalysis.qualityPsi]]
    * run as an ingestion-time check: the arriving half of the corpus
    * (odd doc_ids — "today's crawl") streams in as file drops, each
    * micro-batch reduces to its ≤68-row quality-band COUNTS (stateless
    * inside foreachBatch — band counts are the sufficient statistic, so
    * nothing text-sized ever persists), and the batchId-keyed partials
    * land through the exactly-once sink. The final report joins the
    * accumulated arriving counts against the static reference half's
    * and applies the shared PSI finisher.
    *
    * Stream = batch by construction: integer band counts are
    * associative, so summing per-micro-batch partials equals the batch
    * lane's single aggregate bit-for-bit — this query SHARES
    * `quality_psi`'s oracle, making it a value-checked stream/batch
    * parity gate for the drift monitor. At 100 TB the warehouse keeps
    * one ≤68-row partial per ingested batch; the report is a bounded
    * rollup at read time. */
  def runDriftOnce(s: SparkSession, srcDir: String): DataFrame =
    RunOnce(s, "graft_drift_") { run =>
      import graft.operators.TextAnalysis
      val docs = graft.Tables.load(s, srcDir, "documents")
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
        .write.mode("overwrite").parquet(run.drop)
      run.foreachBatch(readDocuments(s, run.drop)) { (b, batchId) =>
        upsertSurvivors(
          b.select(TextAnalysis.qualityBand.as("band"))
            .groupBy(col("band")).agg(count(lit(1)).as("n")),
          run.wh, batchId)
      }
      val arriving = s.read.parquet(run.wh)
        .groupBy(col("band")).agg(sum(col("n")).as("n_new"))
      val ref = docs.filter(col("doc_id") % 2 === 0)
        .select(TextAnalysis.qualityBand.as("band"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_ref"))
      val perBand = ref.join(arriving, Seq("band"), "full_outer")
        .select(col("band"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
      TextAnalysis.psiFromBands(perBand)
    }

  /** Synchronous run-once harness over the bundled corpus, mirroring
    * [[graft.operators.Dedup.incrementalDedup]]'s split exactly: the
    * batch slice (doc_id % 10 == 3, plus the five planted index copies)
    * is staged as a parquet drop directory, streamed with AvailableNow,
    * and anti-joined against the index digest relation. Returns the
    * surviving doc_ids — by construction the exact-lane keep set of the
    * batch operator, which is what the oracle states closed-form. */
  def runIndexDedupOnce(s: SparkSession, srcDir: String): DataFrame =
    RunOnce(s, "graft_index_dedup_") { run =>
      val docs = graft.Tables.load(s, srcDir, "documents")
      val isBatch = col("doc_id") % 10 === 3
      val index = docs.filter(!isBatch).select(col("doc_id"), col("text"))
      docs.filter(isBatch).select(col("doc_id"), col("text"))
        .unionByName(index
          .filter(col("doc_id") % 100 === 0 && col("doc_id") < 500)
          .select((col("doc_id") + Dedup.PlantOffset).as("doc_id"),
            col("text")))
        // a DETERMINISTIC 2-file drop at every corpus scale: with
        // maxFilesPerTrigger=1 the file count IS the micro-batch count,
        // and an SF-dependent drop layout would change how many
        // micro-batches the harness runs (the 10x rehearsal slice read
        // back as 32 files -> 32 batches x fixed per-batch cost, drowning
        // the work being measured). Two files keep the multi-batch lane
        // exercised; batch sizing at deployment is a source option, not
        // an operator property.
        .coalesce(2)
        .write.mode("overwrite").parquet(run.drop)
      // persisted across micro-batches (the runNearDupOnce discipline:
      // the static digest index would otherwise re-aggregate per batch)
      val indexDigests = index.select(md5(col("text")).as("h")).distinct()
        .persist()
      try run.memory(indexFiltered(readDocuments(s, run.drop), indexDigests),
        "append").orderBy("doc_id")
      finally indexDigests.unpersist(blocking = false)
    }

  /** `stream_mf_feed` — a TRANSACTIONAL incremental mart consuming the
    * manifest store's change feed
    * ([[graft.store.ManifestStore.changeFeed]]) exactly-once, the
    * downstream half of the CDC story: an upstream store takes three
    * commits (create / partition-replace / add-rows upsert — the
    * mf_change_feed fixture), and a consumer maintains a per-flag
    * running tally by applying ONE commit's feed per micro-batch, the
    * runDailyAggOnce discipline.
    *
    * Exactly-once is TRANSACTIONAL, not best-effort: the consumer's
    * OFFSET (last applied upstream version) lives in the mart store
    * itself, and each application is ONE atomic multi-table commit —
    * `Replace(tally-partitions)` + `Replace(offset)` under the mart's
    * writer lease, with the offset guard-read inside the same planning
    * closure. A re-delivered version (the crash-replay case, exercised
    * here by literally re-applying the last version) reads its own
    * offset, plans NOTHING, and bumps no mart version — the
    * Kafka-transactional-sink pattern on plain object storage.
    *
    * Numerics: the tally accumulates in DECIMAL(38,6) (exact,
    * associative), cast to double only in the report — so the
    * incremental result equals the oracle's one-shot decimal aggregate
    * bit-for-bit. Scale shape: each application reads the feed's
    * touched partitions and replaces only the touched tally
    * partitions; nothing scales with table or history size. */
  def runFeedMartOnce(s: SparkSession, srcDir: String): DataFrame =
    RunOnce(s, "graft_mf_feed_") { run =>
      import graft.store.ManifestStore
      import graft.store.ManifestStore.{Replace, TableDef}
      val src = s"${run.root}/src"
      val mart = s"${run.root}/mart"
      val li = graft.Tables.load(s, srcDir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      def dec(c: org.apache.spark.sql.Column) =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast(org.apache.spark.sql.types.DecimalType(38, 6))
      // upstream: the three-commit CDC fixture
      ManifestStore.create(s, src, li, "l_returnflag")
      import s.implicits._
      // mart init reads ONLY the snapshot-isolated v1 and writes a
      // DIFFERENT store, so it overlaps upstream commits 2-3 (guide
      // §2.6); the consumer loop below still starts strictly after both
      // sides. The overlap is safe because v1's scan is resolved HERE,
      // before either side starts — its file list is fixed from the v1
      // manifest — and the upstream commits run with a policy that
      // vacuums nothing, so none of those files can be reaped mid-read.
      val v1Snapshot = ManifestStore.readTable(s, src, "t",
        version = Some(1L))
      val srcPolicy = ManifestStore.Maintenance()
      require(srcPolicy.vacuumKeepLast.isEmpty,
        "the upstream commits overlap a read of v1 and must not vacuum")
      graft.operators.Par.two(
        {
          ManifestStore.commitTables(s, src, srcPolicy)(Seq(
            ManifestStore.Replace("t", li.filter(col("l_returnflag") === "A")
              .select(col("l_returnflag"),
                (col("l_quantity") * 2).as("l_quantity")))))
          ManifestStore.commitTables(s, src, srcPolicy)(Seq(
            ManifestStore.Upsert("t",
              li.filter(col("l_returnflag") === "N"))))
        },
        {
          // mart init: tally = the v1 snapshot aggregate; offset = 1
          val v1 = v1Snapshot
            .groupBy(col("l_returnflag"))
            .agg(dec(col("l_quantity")).as("sum_q"),
              count(lit(1)).as("n"))
          ManifestStore.createTables(s, mart, Seq(
            (TableDef("tally", "l_returnflag"), v1),
            (TableDef("offsets", "consumer"),
              Seq(("mart", 1L)).toDF("consumer", "applied"))))
        })
      // the consumer: one upstream commit per application, offset
      // guard-read and both Replaces inside ONE atomic mart commit
      def applyVersion(v: Long): Unit =
        ManifestStore.commitTables(s, mart) {
          val applied = ManifestStore.readTable(s, mart, "offsets")
            .filter(col("consumer") === "mart")
            .select("applied").head().getLong(0)
          if (applied >= v) Seq.empty // re-delivery: transactional no-op
          else {
            val delta = ManifestStore
              .changeFeed(s, src, "t", v - 1, v)
              .groupBy(col("l_returnflag"))
              .agg(dec(when(col("_change_type") === "insert",
                col("l_quantity")).otherwise(-col("l_quantity")))
                .as("dq"),
                sum(when(col("_change_type") === "insert", 1L)
                  .otherwise(-1L)).as("dn"))
            val tally = ManifestStore.readTable(s, mart, "tally")
            val updated = delta
              .join(tally, Seq("l_returnflag"), "left_outer")
              .select(col("l_returnflag"),
                (coalesce(col("sum_q"),
                  lit(java.math.BigDecimal.ZERO)
                    .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
                  + col("dq"))
                  .cast(org.apache.spark.sql.types.DecimalType(38, 6))
                  .as("sum_q"),
                (coalesce(col("n"), lit(0L)) + col("dn")).as("n"))
            Seq(Replace("tally", updated),
              Replace("offsets",
                Seq(("mart", v)).toDF("consumer", "applied")))
          }
        }
      val head = ManifestStore.currentVersion(s, src).get
      (2L to head).foreach(applyVersion)
      val before = ManifestStore.currentVersion(s, mart).get
      applyVersion(head) // crash-replay: re-deliver the last version
      val redeliveryNoop =
        ManifestStore.currentVersion(s, mart).contains(before)
      val exactlyOnce =
        ManifestStore.versions(s, mart) == (1L to before).toSeq
      ManifestStore.readTable(s, mart, "tally")
        .select(col("l_returnflag"),
          col("sum_q").cast("double").as("sum_qty"), col("n"),
          lit(redeliveryNoop).as("redelivery_noop"),
          lit(exactlyOnce).as("exactly_once"))
        .orderBy("l_returnflag")
    }

  /** `stream_mf_merge` — TRANSACTIONAL streaming MERGE apply, the
    * UPSTREAM half of the CDC story ([[runFeedMartOnce]] being the
    * downstream half): CDC batches carrying an `_op` envelope (update /
    * insert / tombstone) arrive as a file stream, and `foreachBatch`
    * applies each batch to a manifest-store table as ONE atomic commit
    * — [[graft.store.ManifestStore.Merge]] (tombstones retire their
    * id's live rows, envelope columns never stage) riding together
    * with an applied-batch marker `Upsert` under the same writer
    * lease, the marker guard-read inside the planning closure.
    *
    * Exactly-once is MEMBERSHIP-transactional, not offset-ordered: the
    * marker table records each applied batch id, so re-delivery of ANY
    * batch (crash replay, file-source reprocessing, out-of-order
    * arrival) plans nothing and bumps no version — which also means
    * the lane is safe under the file source's arrival-order freedom,
    * because the three fixture batches touch disjoint row ids and
    * commute. Scale shape: each application reads only the partitions
    * the batch's keys name (the Merge cost model); the marker guard is
    * one metadata-sized read; nothing scales with table size or
    * history length. */
  def runMergeApplyOnce(s: SparkSession, srcDir: String): DataFrame =
    RunOnce(s, "graft_mf_merge_") { run =>
      import graft.store.ManifestStore
      import graft.store.ManifestStore.{Merge, TableDef, Upsert}
      val store = s"${run.root}/store"
      val cust = graft.Tables.load(s, srcDir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      import s.implicits._
      // the three CDC drops, one data file each (maxFilesPerTrigger=1
      // → one micro-batch per drop): corrections, new rows, tombstones
      val b1 = cust.filter(col("c_acctbal") < 0)
        .withColumn("c_acctbal", -col("c_acctbal"))
        .withColumn("_op", lit("U")).withColumn("batch_id", lit(1L))
      val b2 = cust.filter(col("c_custkey") <= 100)
        .withColumn("c_custkey", col("c_custkey") + 100000)
        .withColumn("_op", lit("I")).withColumn("batch_id", lit(2L))
      val b3 = cust.filter(col("c_acctbal").between(0, 1000))
        .withColumn("_op", lit("D")).withColumn("batch_id", lit(3L))
      // store create and drop staging are disjoint outputs over pure
      // reads of the source table — overlap (guide §2.6); the stream
      // starts strictly after both. The drops stay sequential inside
      // their side (arrival order is not load-bearing — the batches
      // commute by disjoint ids — but keeping it avoids a new degree
      // of freedom)
      graft.operators.Par.two(
        ManifestStore.createTables(s, store, Seq(
          (TableDef("t", "c_mktsegment"), cust),
          (TableDef("applied", "bid"),
            Seq(("seed", 1L)).toDF("bid", "one")))),
        Seq(b1, b2, b3).foreach(b =>
          b.coalesce(1).write.mode("append").parquet(run.drop)))
      def applyBatch(b: DataFrame): Unit = {
        val bids = b.select("batch_id").distinct().collect()
          .map(_.getLong(0)).sorted
        bids.foreach { bid =>
          val slice = b.filter(col("batch_id") === bid)
          ManifestStore.commitTables(s, store) {
            val done = ManifestStore.readTable(s, store, "applied",
              parts = Some(Seq(bid.toString))).count() > 0
            if (done) Seq.empty // re-delivery: transactional no-op
            else Seq(
              Merge("t", slice, "c_custkey",
                deleteWhen = Some(col("_op") === "D"),
                envelope = Seq("_op", "batch_id")),
              Upsert("applied",
                Seq((bid.toString, 1L)).toDF("bid", "one")))
          }
        }
      }
      val cdcSchema = StructType(Seq(
        StructField("c_custkey", cust.schema("c_custkey").dataType),
        StructField("c_mktsegment", StringType),
        StructField("c_acctbal",
          cust.schema("c_acctbal").dataType),
        StructField("_op", StringType),
        StructField("batch_id", LongType)))
      val cdc = s.readStream.schema(cdcSchema)
        .option("maxFilesPerTrigger", 1).parquet(run.drop)
      run.foreachBatch(cdc)((b, _) => applyBatch(b))
      val before = ManifestStore.currentVersion(s, store).get
      applyBatch(b3.localCheckpoint(true)) // crash-replay re-delivery
      val redeliveryNoop =
        ManifestStore.currentVersion(s, store).contains(before)
      // v1 create + exactly one commit per CDC batch, nothing else
      val exactlyOnce =
        ManifestStore.versions(s, store) == (1L to 4L).toSeq
      ManifestStore.readTable(s, store, "t")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          graft.operators.Relational.dsum(col("c_acctbal")).as("sum_bal"))
        .select(col("c_mktsegment"), col("n"), col("sum_bal"),
          lit(redeliveryNoop).as("redelivery_noop"),
          lit(exactlyOnce).as("exactly_once"))
        .orderBy("c_mktsegment")
    }
}
