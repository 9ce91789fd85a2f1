package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType,
  StructField, StructType}

import graft.functions.Num
import graft.operators.Dedup

/** Streaming vector search: query embeddings ARRIVE as files (the
  * online face of the similarity surface — a retrieval service's query
  * log, an embedding job's output drops) and each micro-batch probes
  * the static corpus.
  *
  * Scale shape: the probe batch is the SMALL side by construction —
  * it broadcasts, the corpus is scanned once per micro-batch, and the
  * per-query argmax is a partial+final aggregate keyed on q_id (q rows
  * of struct state per task — never a corpus-sized window, never
  * stream-side state). The aggregation forces `foreachBatch` (the
  * runNearDupOnce discipline: groupBy as a raw stream would be
  * stateful; the micro-batch boundary makes it stateless batch work).
  * In production the corpus side is the cell-keyed IVF index and the
  * scan prunes to each query's probe cells ([[runAnnIndexedOnce]]) —
  * the batch argmax below is the exact-baseline rendering of the same
  * contract.
  * Results land through batchId-keyed dynamic partition overwrite
  * ([[CorpusStream.upsertSurvivors]]'s exactly-once discipline). */
object VectorStream {

  /** The probe-batch schema as the file stream declares it
    * (schema-first: a streaming source never infers). */
  val probeBatchSchema: StructType = StructType(Seq(
    StructField("q_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  /** Streaming source over a directory of parquet probe drops. */
  def readProbes(s: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    s.readStream
      .schema(probeBatchSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Exact top-1 of every probe in one corpus pass: broadcast the probe
    * batch, per-query argmax as min(struct(-cos, vec_id)) — the
    * kmeans/argmaxOver tie discipline (raw-cosine compare, smaller
    * vec_id wins bit-equal ties). */
  def annTop1(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val probes = batch.select(col("q_id"), col("embedding").as("q_emb"))
    corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(probes))
      .select(col("q_id"), col("vec_id"),
        graft.functions.SketchExpressions
          .cosineSim(col("embedding"), col("q_emb")).as("cos"))
      .groupBy(col("q_id"))
      .agg(min(struct((-col("cos")).as("neg"), col("vec_id"))).as("best"))
      .select(col("q_id"), col("best.vec_id").as("vec_id"),
        (Num.t6(-col("best.neg")) >= 0.999999).as("is_exact"))
  }

  /** Synchronous run-once harness: the five lowest-vec_id embeddings
    * are staged as a probe drop under plant-offset q_ids, streamed with
    * AvailableNow, and each micro-batch's top-1 results upsert into a
    * batchId-keyed warehouse. Each probe is an EXACT copy of its
    * stored original, so rank-1 retrieval of that original with
    * is_exact = TRUE is closed-form (the ann_*_planted precondition:
    * no natural pair reaches t6-cosine 0.999999). */
  def runAnnProbeOnce(s: SparkSession, srcDir: String,
      n: Int = 5): DataFrame = {
    val corpus = graft.Tables.load(s, srcDir, "embeddings")
    val probeDir = HourlyStream.scratchDir("graft_probe_drop_")
    corpus.filter(col("vec_id") < n)
      .select((col("vec_id") + Dedup.PlantOffset).as("q_id"),
        col("embedding"))
      .write.mode("overwrite").parquet(probeDir)
    val whRoot = HourlyStream.scratchDir("graft_ann_wh_")
    val warehouse = whRoot + "/top1"
    val ckpt = HourlyStream.scratchDir("graft_ckpt_")
    val q = readProbes(s, probeDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        CorpusStream.upsertSurvivors(annTop1(b, corpus), warehouse, batchId)
      }
      .start()
    try q.awaitTermination() finally q.stop()
    // n-row result: materialize, then reap the scratch dirs eagerly
    val out = s.read.parquet(warehouse)
      .select(col("q_id"), col("vec_id"), col("is_exact"))
      .orderBy("q_id")
      .localCheckpoint(true)
    Seq(probeDir, whRoot, ckpt).foreach(HourlyStream.reapScratch)
    out
  }

  /** Streaming probes against the STORED IVF index — the production
    * shape [[annTop1]]'s scaladoc promises: the corpus side is a
    * cell-keyed index on shared storage
    * ([[graft.operators.Similarity.buildIvfIndex]]), and each
    * micro-batch of arriving queries goes through
    * [[graft.operators.Similarity.probeIvfIndex]] — the batch's probed
    * cells prune at the manifest level, so per-trigger read cost is
    * those cells' entries (`≤ distinct probed cells / cells` of the
    * index), NEVER a corpus scan. Static sides honor the run-once
    * discipline that the 10× rehearsal enforced on the other stream
    * lanes: the sampled centroids are collected ONCE (k×dim model
    * metadata) and the index is built once before the stream starts.
    *
    * Closed-form contract as [[runAnnProbeOnce]]: each probe is an
    * exact copy of a stored original under a plant-offset q_id; the
    * copy's centroid ranking evaluates the same doubles as its
    * original's build-side argmax (the
    * [[graft.operators.Similarity.ivfIndexedPlanted]] argument), so the
    * original's home cell is always probed and rank-1 recovery at
    * cosine ~1.0 is deterministic for any nProbe >= 1. Results upsert
    * batchId-keyed (exactly-once). */
  def runAnnIndexedOnce(s: SparkSession, srcDir: String,
      n: Int = 5, nProbe: Int = 4): DataFrame = {
    import graft.operators.Similarity
    val emb = graft.Tables.load(s, srcDir, "embeddings")
    val idxDir = HourlyStream.scratchDir("graft_annidx_")
    val probeDir = HourlyStream.scratchDir("graft_probeidx_drop_")
    // index build and probe-drop staging are disjoint outputs —
    // overlap (guide §2.6); the build side returns the centroid model
    // it sampled, so the static side needs no re-read
    val (cents, _) = graft.operators.Par.two(
      {
        val tr = Similarity.ivfCentroids(emb)
          .map { case (c, v) => (c.toInt, v.map(_.toDouble)) }
        Similarity.buildIvfIndex(s, idxDir,
          emb.select(col("vec_id"), col("embedding"),
            Similarity.argmaxOver(tr).getField("cluster").as("cell")))
        tr
      },
      emb.filter(col("vec_id") < n)
        .select((col("vec_id") + Dedup.PlantOffset).as("q_id"),
          col("embedding"))
        .coalesce(2) // pinned drop-file count: 2 micro-batches at any SF
        .write.mode("overwrite").parquet(probeDir))
    val whRoot = HourlyStream.scratchDir("graft_annidx_wh_")
    val warehouse = whRoot + "/top1"
    val ckpt = HourlyStream.scratchDir("graft_annidx_ckpt_")
    val q = readProbes(s, probeDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val top1 = Similarity.probeIvfIndex(s, idxDir,
            b.select(col("q_id"), col("embedding").as("q_emb")), cents,
            k = 1, nProbe = nProbe)
          .select(col("q_id"), col("vec_id"),
            (col("cos_sim") >= 0.999999).as("is_exact"))
        CorpusStream.upsertSurvivors(top1, warehouse, batchId)
      }
      .start()
    try q.awaitTermination() finally q.stop()
    val out = s.read.parquet(warehouse)
      .select(col("q_id"), col("vec_id"), col("is_exact"))
      .orderBy("q_id")
      .localCheckpoint(true)
    Seq(idxDir, probeDir, whRoot, ckpt).foreach(HourlyStream.reapScratch)
    out
  }

  /** The arriving-VECTOR schema (an embedding job's output drops —
    * the write side of the index, where [[probeBatchSchema]] is the
    * read side). */
  val vectorBatchSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  /** Streaming source over a directory of parquet vector drops. */
  def readVectorBatches(s: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    s.readStream
      .schema(vectorBatchSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** STREAMING INDEX MAINTENANCE — the write-side production shape
    * completing [[runAnnIndexedOnce]]'s read side: vector batches
    * ARRIVE as files (an embedding job's continuous output) and each
    * micro-batch lands in the IVF index as ONE manifest commit
    * ([[graft.operators.Similarity.maintainIvfIndex]] with
    * `upsertById = true`), so
    *
    *  - a crash-restart replay commits a new version with IDENTICAL
    *    content: Structured Streaming commits source offsets AFTER
    *    `foreachBatch` returns, so a restart replays the last
    *    micro-batch, and the anti-join drops every re-delivered row
    *    before the merge (merge∘merge = merge — no batchId
    *    bookkeeping needed);
    *  - concurrent probes NEVER observe a partition mid-rewrite: they
    *    resolve whichever manifest was newest when they planned
    *    (snapshot isolation);
    *  - after the stream drains, every intermediate index state stays
    *    time-travel-readable until vacuumed — the operational story a
    *    production index wants (probe the pre-batch version while
    *    validating the post-batch one).
    *
    * Static-side discipline as every run-once lane: centroids are
    * trained ONCE before the stream starts (frozen — maintenance never
    * retrains) and passed into every merge as k×dim metadata;
    * per-trigger work is the arriving batch's assignment plus a
    * manifest-pruned read/rewrite of its touched cells.
    *
    * Gate contract (`stream_ivf_compact` / `stream_ivf_compact_mf`):
    * the base index holds only the historical slice
    * (vec_id % 10 != 3); the arriving drop (the % 10 == 3 slice PLUS
    * planted copies of the `n` probe seeds) reaches the index ONLY
    * through the streamed commits; after the stream drains, each probe
    * must recover its planted copy at rank 1 with cosine ~1.0, and the
    * full top-k must equal the from-scratch rebuild reference
    * (`agrees_rebuild`) probed through the identical batch plan. */
  def runIvfCompactManifestOnce(s: SparkSession, srcDir: String,
      n: Int = 5, k: Int = 10, nProbe: Int = 4): DataFrame = {
    import graft.operators.Similarity
    import graft.store.ManifestStore
    val emb = graft.Tables.load(s, srcDir, "embeddings")
    val isBatch = col("vec_id") % 10 === 3
    val arriving = emb.filter(isBatch).unionByName(
      emb.filter(col("vec_id") < n)
        .withColumn("vec_id", col("vec_id") + Dedup.PlantOffset))
    val idxDir = HourlyStream.scratchDir("graft_ivfmfs_idx_")
    val dropDir = HourlyStream.scratchDir("graft_ivfmfs_drop_")
    // the whole static-side chain (Lloyd training collects + the store
    // create it feeds) and the drop staging are independent — overlap
    // the chain, not just the final write (guide §2.6)
    val (trained, _) = graft.operators.Par.two(
      {
        // static side: frozen trained centroids, collected once
        val tr = Similarity.collectCentroids(
          Similarity.kmeansIterate(s, srcDir, 2), "cluster")
        ManifestStore.create(s, idxDir,
          emb.filter(!isBatch)
            .select(col("vec_id"), col("embedding"),
              Similarity.argmaxOver(tr).getField("cluster").as("cell")),
          "cell")
        tr
      },
      arriving
        .coalesce(2) // pinned drop-file count: 2 micro-batches at any SF
        .write.mode("overwrite").parquet(dropDir))
    val ckpt = HourlyStream.scratchDir("graft_ivfmfs_ckpt_")
    val q = readVectorBatches(s, dropDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val _ = Similarity.maintainIvfIndex(s, idxDir, b, trained,
          upsertById = true)
      }
      .start()
    try q.awaitTermination() finally q.stop()
    // probe the compacted snapshot and the rebuild reference through
    // the IDENTICAL one-join batch plan
    val centsL = trained.map { case (c, v) => (c.toLong, v) }
    val queries = emb.filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def keyed(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .groupBy(_._1)
        .map { case (qid, rows) =>
          qid -> rows.sortBy(_._4).map(t => (t._2, t._3)).toSeq
        }
    val (stored, rebuild) = graft.operators.Par.two(
      keyed(Similarity.probeBatchOn(
        ManifestStore.read(s, idxDir)
          .select("vec_id", "embedding", "cell"), centsL, queries,
        k, nProbe, excludeSelf = true)),
      keyed(Similarity.probeBatchOn(
        emb.filter(!isBatch).unionByName(arriving)
          .select(col("vec_id"), col("embedding"),
            Similarity.argmaxOver(trained).getField("cluster").as("cell")),
        centsL, queries, k, nProbe, excludeSelf = true)))
    val rows = (0L until n.toLong).map { qid =>
      val b = stored(qid)
      (qid, b.head._1, 1, b.head._2 >= 0.999999, b == rebuild(qid))
    }
    val out = s.createDataFrame(rows)
      .toDF("q_id", "vec_id", "rn", "is_exact", "agrees_rebuild")
      .orderBy("q_id")
      .localCheckpoint(true)
    Seq(idxDir, dropDir, ckpt).foreach(HourlyStream.reapScratch)
    out
  }

  /** Streaming IVF-PQ maintenance over the manifest store — the
    * CODES-level sibling of [[runIvfCompactManifestOnce]]: each
    * micro-batch is encoded by the shared
    * [[graft.operators.Similarity.pqEncodeOn]] projection and lands as
    * ONE manifest commit ([[graft.operators.Similarity.maintainIvfPqIndex]]
    * with `upsertById = true` — re-delivered rows are replaced, not
    * duplicated, so a crash-restart replay is content-idempotent),
    * under frozen centroids AND codebooks (retraining either IS a
    * rebuild). Snapshot isolation per commit; every intermediate codes
    * state stays time-travel-readable until vacuumed.
    *
    * Gate contract (`stream_ivfpq_compact_mf`): the base codes index
    * holds only the historical slice (vec_id % 10 != 3); the arriving
    * drop (the % 10 == 3 slice PLUS planted copies of the probe seeds)
    * reaches the index ONLY through the streamed commits; after the
    * stream drains, the manifest-pruned batch probe must reproduce the
    * oracle's FULL IVF-PQ math replay over the planted corpus — the
    * identical `ann_ivfpq_compact` oracle, because streamed compaction
    * ≡ one-shot compaction ≡ rebuild. */
  def runIvfPqCompactManifestOnce(s: SparkSession, srcDir: String,
      n: Int = 5, k: Int = 10, nProbe: Int = 3): DataFrame = {
    import graft.operators.Similarity
    val emb = graft.Tables.load(s, srcDir, "embeddings")
    val isBatch = col("vec_id") % 10 === 3
    val arriving = emb.filter(isBatch).unionByName(
      emb.filter(col("vec_id") < n)
        .withColumn("vec_id", col("vec_id") + Dedup.PlantOffset))
    val idxDir = HourlyStream.scratchDir("graft_pqmfs_idx_")
    val dropDir = HourlyStream.scratchDir("graft_pqmfs_drop_")
    // the whole static-side chain (model collects + the index build
    // they feed) and the drop staging are independent — overlap the
    // chain, not just the final write (guide §2.6)
    val ((cents, cb), _) = graft.operators.Par.two(
      {
        // static side: frozen centroids + codebooks, collected once
        val c = Similarity.collectCentroids(
          Similarity.labelCentroids(s, srcDir), "label")
        val b = Similarity.pqCodebooks(s, srcDir)
        Similarity.buildIvfPqIndex(s, emb.filter(!isBatch), c, b, idxDir)
        (c, b)
      },
      arriving
        .coalesce(2) // pinned drop-file count: 2 micro-batches at any SF
        .write.mode("overwrite").parquet(dropDir))
    val ckpt = HourlyStream.scratchDir("graft_pqmfs_ckpt_")
    val q = readVectorBatches(s, dropDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val _ = Similarity.maintainIvfPqIndex(s, idxDir, b, cents, cb,
          upsertById = true)
      }
      .start()
    try q.awaitTermination() finally q.stop()
    // manifest-pruned batch probe over the drained store — identical
    // ADC math to the one-shot gate, hence the identical oracle
    val queries = emb.filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val topk = Similarity
      .probeIvfPqIndex(s, srcDir, idxDir, queries, k, nProbe,
        model = Some((cents, cb)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getInt(4)))
    import s.implicits._
    val out = topk.toSeq.toDF("q_id", "vec_id", "cell", "adc_dist", "rn")
      .orderBy("q_id", "rn")
      .localCheckpoint(true)
    Seq(idxDir, dropDir, ckpt).foreach(HourlyStream.reapScratch)
    out
  }
}
