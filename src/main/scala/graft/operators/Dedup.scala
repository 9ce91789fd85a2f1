package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num
import graft.functions.TextFunctions._
import graft.functions.SketchExpressions

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. The reference has no dedup surface; these
  * are the mandated extension operators, designed scale-first:
  *
  * - Exact dedup is one hash-shuffle on a 16-byte digest (never on the
  *   full text): shuffle volume is O(rows x 16B), not O(corpus bytes).
  * - MinHash/LSH never compares all pairs. Each doc emits `bands` rows
  *   (band-id, bucket-key); a self-join *within buckets* yields
  *   candidates, and exact Jaccard runs only on candidates. At 100 TB the
  *   bucket join is the only shuffle and its fan-out is bounded by bucket
  *   sizes — the standard near-dup pipeline (Broder '97 resemblance
  *   sketches, banding as in Spark MLlib's MinHashLSH).
  * - SimHash (Charikar '02) packs a document into 64 bits; banding the
  *   bits into 4x16 gives candidates with Hamming distance <= 3 by
  *   pigeonhole, verified exactly with bit_count.
  *
  * Sketches (shingling, MinHash, banding, SimHash) are custom Catalyst
  * expressions (graft.functions.SketchExpressions) — single-pass per row,
  * immune to lambda re-evaluation and optimizer inlining; see that file's
  * Scaladoc for the measured failure mode of the composed-HOF approach.
  * Signatures derive from xxhash64 + fixed universal-hash coefficients —
  * deterministic across runs, partitionings, and cluster sizes.
  */
object Dedup {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def bitCount(a: Column): Column = call_function("bit_count", a)

  // ---- exact dedup ----

  /** Duplicate-group summary keyed by content digest. */
  def exactGroups(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  /** The deduplicated corpus: first doc_id per distinct content wins
    * (window-dedup pattern — one shuffle on the digest). */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix — the provenance diagnostic behind
    * source weighting (two crawls mirroring each other inflate their
    * combined mixture weight; the matrix shows exactly which source
    * pairs share content and how much): exact-duplicate pairs keyed by
    * content digest, aggregated per ordered source pair (diagonal =
    * within-source duplication). The synthetic corpus has no natural
    * exact pair, so copies of every doc_id ≡ 11 (mod 50) are planted
    * into source `src0` (the decontaminate discipline: the oracle
    * replays the same plant, so counts stay data-derived, not assumed).
    *
    * Scale shape: one digest-keyed shuffle; the group-size cap bounds
    * the pair fan-out exactly as [[minhashCandidates]]' bucket cap
    * (mega-clusters belong to [[exactGroups]], not a pair matrix); the
    * final aggregate is keyed on the bounded source-pair space. */
  def crossSourceDups(s: SparkSession, dir: String,
      maxGroup: Int = 1000): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val planted = t(s, dir, "documents")
      .filter(col("doc_id") % 50 === 11)
      .select((col("doc_id") + PlantOffset).as("doc_id"),
        lit("src0").as("source"), md5(col("text")).as("h"))
    val sized = base.unionByName(planted)
      .withColumn("gsz", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("gsz") <= maxGroup)
      .drop("gsz")
    val a = sized.select(col("h"), col("source").as("source_a"),
      col("doc_id").as("doc_a"))
    val b = sized.select(col("h"), col("source").as("source_b"),
      col("doc_id").as("doc_b"))
    a.join(b, Seq("h"))
      .filter(col("source_a") < col("source_b") ||
        (col("source_a") === col("source_b") && col("doc_a") < col("doc_b")))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("h")).as("n_groups"))
      .orderBy("source_a", "source_b")
  }

  // ---- MinHash + LSH ----

  /** (doc_id, band, bucket) rows — the LSH index. Only 16 longs per doc
    * are shuffled, never text. `posexplode_outer` plus the null filter
    * yields the same rows as `posexplode` (the sketch is never empty)
    * without the generator filter Spark infers for `posexplode`, which
    * would evaluate the sketch a second time per row. */
  private[graft] def bandIndex(docs: DataFrame, k: Int, bands: Int): DataFrame =
    docs
      .select(col("doc_id"),
        SketchExpressions.minhashBands(
          SketchExpressions.wordShingles(tokens(col("text"))), k, bands)
          .as("buckets"))
      .select(col("doc_id"),
        posexplode_outer(col("buckets")).as(Seq("band", "bucket")))
      .filter(col("band").isNotNull)

  /** Candidate pairs from LSH banding (doc_a < doc_b), deduplicated across
    * bands.
    *
    * `maxBucket` caps the self-join fan-out: a bucket of n docs yields
    * n^2/2 pairs, and real corpora have boilerplate mega-clusters that
    * would otherwise go quadratic at 100 TB. Buckets above the cap are
    * dropped here (standard practice — mega-clusters are better handled
    * by exact-hash grouping, which exactGroups already does). */
  def minhashCandidates(docs: DataFrame, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    val idx = bandIndex(docs, k, bands)
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
    val a = idx.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = idx.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Candidate-volume observability: how far from all-pairs the banding
    * actually is — the number the cap exists to bound. One row: corpus
    * size, candidate pairs, n(n-1)/2, and the surviving fraction. At
    * 100 TB this is the dashboard number that tells you whether a
    * boilerplate cluster slipped past the cap (fraction jumps toward 1)
    * long before the join OOMs. */
  def minhashCandidateVolume(s: SparkSession, dir: String,
      k: Int = 64, bands: Int = 16, maxBucket: Int = 1000): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val nCand = minhashCandidates(docs, k, bands, maxBucket)
      .agg(count(lit(1)).as("n_candidates"))
    nDocs.crossJoin(nCand)
      .select(col("n_docs"), col("n_candidates"),
        (col("n_docs") * (col("n_docs") - 1) / lit(2)).cast("long")
          .as("n_all_pairs"),
        Num.t6(col("n_candidates") * lit(2.0)
          / (col("n_docs") * (col("n_docs") - 1))).as("candidate_fraction"))
  }

  /** Value-checked banding invariant over [[minhashCandidateVolume]]:
    * candidates exist (banding actually fires on the planted near-dups)
    * AND stay far below all-pairs (the cap holds). Both booleans are
    * constant-TRUE relations the driver hash-matches — the quadratic-
    * blowup guard as a hard gate rather than a rows-only summary. */
  def minhashCandidateGate(s: SparkSession, dir: String,
      maxFraction: Double = 0.05): DataFrame =
    minhashCandidateVolume(s, dir)
      .select(
        (col("n_candidates") > 0).as("has_candidates"),
        (col("candidate_fraction") <= maxFraction).as("capped"))

  // ---- planted ground truth ----

  /** Offset separating planted copies from original doc_ids. */
  val PlantOffset = 1000000L

  /** The corpus plus identical copies of the `n` lowest doc_ids at
    * doc_id + [[PlantOffset]]. The synthetic corpus has no natural pair at
    * Jaccard 1.0, so planted identical copies give the near-dup pipelines
    * a known, SQL-expressible answer — the round-3 `embed_neardup_pairs`
    * pattern. Banding recovers an identical pair deterministically (equal
    * signatures share every band bucket), so "each planted pair is
    * emitted" is an exact expectation, not a probabilistic one. */
  private[operators] def plantedDocs(docs: DataFrame, n: Int = 10): DataFrame =
    docs.unionByName(
      docs.filter(col("doc_id") < n)
        .withColumn("doc_id", col("doc_id") + PlantOffset))

  /** Full MinHash-LSH near-dup pipeline: candidates -> exact word-shingle
    * Jaccard verification -> pairs above threshold. */
  def minhashPairs(s: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    minhashPairsOn(t(s, dir, "documents"), threshold)

  /** Same pipeline over an arbitrary (doc_id, text) frame. */
  def minhashPairsOn(docs: DataFrame, threshold: Double): DataFrame = {
    val cands = minhashCandidates(docs)
    val sh = docs.select(col("doc_id"),
      SketchExpressions.wordShingles(tokens(col("text"))).as("sh"))
    cands
      .join(sh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Num.t6(jaccard(col("sh_a"), col("sh_b"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Planted-pair recovery gate: run the full pipeline over the planted
    * corpus at a high threshold and keep only the (original, copy) pairs.
    * Every planted identical pair MUST come back with Jaccard exactly 1.0
    * — an oracle-checkable end-to-end proof of shingling -> MinHash ->
    * banding -> bucket join -> exact verification. Natural near-dup pairs
    * (max 0.989 at sf0.01) are excluded by the planted-pair filter, so
    * the expected relation is closed-form. */
  def minhashPairsPlanted(s: SparkSession, dir: String,
      n: Int = 10): DataFrame =
    minhashPairsOn(plantedDocs(t(s, dir, "documents"), n), threshold = 0.9)
      .filter(col("doc_b") === col("doc_a") + PlantOffset)
      .orderBy("doc_a")

  /** Edit-distance verification over candidate pairs carrying their
    * texts — the second-stage verifier fuzzy dedup runs AFTER banding
    * (exact Levenshtein is O(|a|·|b|) per pair, affordable only on the
    * LSH-bounded candidate set, never all-pairs). `edit_sim` is the
    * length-normalized similarity `1 - dist / max(|a|, |b|)`;
    * `dup` thresholds it. Uses Spark's codegen'd `levenshtein` built-in —
    * integer DP, bit-identical across engines, no FP concern beyond the
    * final t6-floored normalization. */
  def editVerifyOn(cand: DataFrame, simThreshold: Double = 0.9): DataFrame =
    cand
      .withColumn("edit_dist", levenshtein(col("text_a"), col("text_b")))
      .withColumn("edit_sim", graft.functions.Num.t6(
        lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(col("text_a")), length(col("text_b")))
            .cast("double")))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        col("edit_sim"), (col("edit_sim") >= simThreshold).as("dup"))
      .orderBy("doc_a")

  /** Planted edit-verification gate: three known mutation families over
    * the first `k` documents — a 3-char prefix insertion (`"xx " ++ t`),
    * a 5-char prefix deletion, and a global character substitution —
    * paired with their originals and pushed through [[editVerifyOn]].
    * The oracle recomputes the full Levenshtein DP in SQL on the same
    * constructions, so the cross-engine check exercises real insert /
    * delete / substitute alignments, not a trivial distance-0 identity. */
  def editVerifyPlanted(s: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val mutant = when(col("doc_id") % 3 === 0,
        concat(lit("xx "), col("text")))
      .when(col("doc_id") % 3 === 1, expr("substring(text, 6)"))
      .otherwise(regexp_replace(col("text"), "a", "o"))
    editVerifyOn(
      t(s, dir, "documents").filter(col("doc_id") < k)
        .select(col("doc_id").as("doc_a"),
          (col("doc_id") + PlantOffset).as("doc_b"),
          col("text").as("text_a"), mutant.as("text_b")))
  }

  /** MinHash ESTIMATOR gate: the sketch's own accuracy contract, the
    * number the banding math rests on. For each planted identical pair,
    * the signature-agreement estimate (fraction of equal minhash
    * components) must be EXACTLY 1.0 — identical shingle sets hash to
    * identical signatures component-for-component, deterministically —
    * alongside the exact shingle Jaccard it estimates. Closed-form
    * oracle; [[DedupSpec]] additionally bounds |est − exact| on the
    * NATURAL candidate pairs, where the estimate is genuinely
    * probabilistic (k=64 components ⇒ stderr ≤ 1/16).
    *
    * Scale shape: signatures are k smallints per doc computed in the
    * same single pass banding already pays; the gate touches only the
    * planted pair rows. */
  def minhashEstGate(s: SparkSession, dir: String,
      n: Int = 10, k: Int = 64): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < n)
    val sigged = docs.select(col("doc_id"),
      SketchExpressions.minhash(
        SketchExpressions.wordShingles(tokens(col("text"))), k).as("sig"),
      SketchExpressions.wordShingles(tokens(col("text"))).as("sh"))
    val a = sigged.select(col("doc_id").as("doc_a"),
      col("sig").as("sig_a"), col("sh").as("sh_a"))
    val b = sigged.select((col("doc_id") + PlantOffset).as("doc_b"),
      col("sig").as("sig_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_b") === col("doc_a") + PlantOffset)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Num.t6(
          size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => x === y), p => p)).cast("double") / lit(k))
          .as("est_jaccard"),
        graft.functions.Num.t6(
          graft.functions.TextFunctions.jaccard(col("sh_a"), col("sh_b")))
          .as("exact_jaccard"))
      .withColumn("est_exact", col("est_jaccard") === col("exact_jaccard"))
      .orderBy("doc_a")
  }

  /** Near-dedup'd corpus: drop the higher doc_id of every confirmed
    * near-dup pair. */
  def minhashDedup(s: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    minhashDedupOn(t(s, dir, "documents"),
      t(s, dir, "documents"), threshold)

  private def minhashDedupOn(pairSrc: DataFrame, keepSrc: DataFrame,
      threshold: Double): DataFrame = {
    val dupes = minhashPairsOn(pairSrc, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    keepSrc
      .join(dupes, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Planted dedup gate: near-dedup the planted corpus at a threshold
    * above the strongest natural pair (0.99 > 0.989 at sf0.01) — the
    * surviving set must be EXACTLY the original corpus, which the oracle
    * states as `SELECT .. FROM documents`. Verifies the drop side of the
    * pipeline end-to-end: every planted copy removed, nothing else.
    *
    * SF robustness: the oracle models natural EXACT duplicates too (an
    * md5-text-group min on the planted corpus — sf0.1 has 8 such pairs),
    * so the gate holds at every bundled SF. The remaining precondition is
    * that no natural NON-exact pair reaches 0.99: measured maxima are
    * 0.989 (sf0.01) and 0.9898 (sf0.1). Same argument for
    * [[nearDupClustersPlanted]]. */
  def minhashDedupPlanted(s: SparkSession, dir: String,
      n: Int = 10): DataFrame = {
    val docs = t(s, dir, "documents")
    minhashDedupOn(plantedDocs(docs, n), plantedDocs(docs, n),
      threshold = 0.99)
  }

  // ---- transitive near-dup clusters ----

  /** Connected components over an undirected pair graph (doc_a, doc_b) by
    * iterative min-label propagation: every node repeatedly adopts the
    * smallest label among itself and its neighbors until fixpoint. The
    * label space collapses toward each component's minimum doc_id, so the
    * result is deterministic and the component representative is "keep
    * the smallest id" — the dedup rule `minhashDedup` already uses for
    * single pairs, lifted to transitive chains (A≈B, B≈C ⇒ {A,B,C} one
    * cluster even when A,C never co-occur in a bucket).
    *
    * Scale shape: each iteration is one join of the edge list with the
    * current labels — shuffle on node id, no driver-side data, and the
    * iteration count is bounded by the component DIAMETER (near-dup
    * clusters are dense, diameters are small; `maxIter` caps adversarial
    * chains). One ACTION per round: the convergence `count` both
    * materializes the round's label cache and reports how many labels
    * moved (a second per-round job — eager checkpoint — measured ~2x the
    * runtime at test scale). The cached labels are an InMemoryRelation,
    * so per-round plans stay shallow instead of doubling.
    *
    * Returns (doc_id, cluster_id) for every node of `pairs`. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // both edge directions from ONE scan of `pairs` (a union of two
    // selects would compute the upstream pair pipeline twice)
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .cache()
    // start one propagation step ahead: label = min(self, neighbors) is
    // the same single shuffle an identity init (distinct on src) would
    // pay, but saves one full join round on every graph — a diameter-1
    // component (the near-dup common case) then converges in ONE loop
    // iteration (its change-detection round) instead of two
    val init = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("m")).as("cluster_id"))
      .cache()
    var labels = init
    var prevCache = init // the cached frame backing `labels`
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // smallest label among self + neighbors, as ONE union+groupBy (a
      // single shuffle) instead of join-then-left-join; the self rows
      // carry the previous label so convergence is read off the SAME
      // materialized result that becomes next round's input (no extra job)
      val nbr = edges
        .join(labels.withColumnRenamed("doc_id", "dst")
          .withColumnRenamed("cluster_id", "lbl"), Seq("dst"))
        .select(col("src").as("doc_id"), col("lbl"),
          lit(null).cast("long").as("prev"))
      val self = labels.select(col("doc_id"), col("cluster_id").as("lbl"),
        col("cluster_id").as("prev"))
      val stepped = nbr.unionByName(self)
        .groupBy(col("doc_id"))
        .agg(min(col("lbl")).as("cluster_id"), max(col("prev")).as("prev"))
        .cache()
      changed = stepped.filter(col("cluster_id") =!= col("prev")).count()
      prevCache.unpersist()
      labels = stepped.select("doc_id", "cluster_id") // lazy view over cache
      prevCache = stepped
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** Near-dup clusters of the corpus: verified MinHash pairs -> connected
    * components. One row per clustered doc (singletons are implicitly
    * their own cluster and are omitted, matching the pair-based view). */
  def nearDupClusters(s: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    connectedComponents(minhashPairs(s, dir, threshold))
      .orderBy("doc_id")

  /** Planted clusters gate: over the planted corpus at threshold 0.99 the
    * only edges are the (original, copy) pairs, so the component labels
    * are closed-form — each original labels itself, each copy adopts its
    * original. Verifies the label-propagation loop end-to-end. */
  def nearDupClustersPlanted(s: SparkSession, dir: String,
      n: Int = 10): DataFrame =
    connectedComponents(
      minhashPairsOn(plantedDocs(t(s, dir, "documents"), n),
        threshold = 0.99))
      .orderBy("doc_id")

  /** Cluster-aware dedup: keep the minimum doc_id of every transitive
    * near-dup cluster (strictly stronger than the pairwise
    * `minhashDedup`, which can keep B of A≈B, B≈C if the (B,C) pair
    * shares no bucket with (A,B)). */
  def clusterDedup(s: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val drop = nearDupClusters(s, dir, threshold)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    t(s, dir, "documents")
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  // ---- SimHash ----

  /** Hamming distance between two packed 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bitCount(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64 bits into 4x16-bit keys
    * (pigeonhole guarantees recall for Hamming distance <= 3), verify with
    * exact Hamming distance. Band buckets above `maxBucket` are dropped
    * before the self-join — same rationale as `minhashCandidates`:
    * boilerplate mega-clusters share band keys and would go O(n²) at
    * scale; exact-hash grouping owns those. */
  def simhashPairs(s: SparkSession, dir: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    simhashPairsOn(t(s, dir, "documents"), maxHamming, maxBucket)

  /** Same pipeline over an arbitrary (doc_id, text) frame — the unit the
    * cap tests exercise with planted mega-clusters. */
  def simhashPairsOn(docsIn: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"),
        SketchExpressions.simhash(tokens(col("text"))).as("sh"))
    val banded = docs.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        call_function("shiftright", col("sh"), lit(b * 16))
          .bitwiseAND(0xFFFFL)): _*)).as(Seq("band", "key")))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("band"), col("key"))))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
    val l = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val r = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    l.join(r, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Planted SimHash gate: identical copies have identical 64-bit
    * signatures, so every planted pair MUST surface with Hamming distance
    * exactly 0 (banding on equal signatures always collides). Natural
    * low-distance pairs are excluded by the planted-pair filter. */
  def simhashPairsPlanted(s: SparkSession, dir: String,
      n: Int = 10): DataFrame =
    simhashPairsOn(plantedDocs(t(s, dir, "documents"), n))
      .filter(col("doc_b") === col("doc_a") + PlantOffset)
      .orderBy("doc_a")

  // ---- character n-gram Jaccard ----

  /** Exact char-5-gram Jaccard over MinHash candidates (LSH prunes the
    * pair space; the expensive set ops run on candidates only). */
  def ngramJaccardPairs(s: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsOn(t(s, dir, "documents"), threshold)

  /** Planted char-n-gram gate: identical copies have identical n-gram
    * sets, so each planted pair MUST verify at Jaccard exactly 1.0. */
  def ngramJaccardPlanted(s: SparkSession, dir: String,
      n: Int = 10): DataFrame =
    ngramJaccardPairsOn(plantedDocs(t(s, dir, "documents"), n),
      threshold = 0.9)
      .filter(col("doc_b") === col("doc_a") + PlantOffset)
      .orderBy("doc_a")

  // ---- asymmetric containment ----

  /** Shingle containment C(A⊆B) = |S(A)∩S(B)| / |S(A)| — the asymmetric
    * near-dup signal Jaccard misses: a short document quoted verbatim
    * inside a long one has Jaccard ≈ |A|/|B| (tiny) but containment 1.0.
    * Runs over LSH candidates like the Jaccard pipelines (the expensive
    * set ops touch candidate pairs only); keeps pairs where either
    * direction clears `threshold`. Input: a (doc_id, text) frame. */
  def containmentPairsOn(docs: DataFrame, threshold: Double): DataFrame = {
    val cands = minhashCandidates(docs)
    val sh = docs.select(col("doc_id"),
      SketchExpressions.wordShingles(tokens(col("text"))).as("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    cands
      .join(sh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Num.t6(inter / size(col("sh_a"))).as("containment_a_in_b"),
        Num.t6(inter / size(col("sh_b"))).as("containment_b_in_a"))
      .filter(greatest(col("containment_a_in_b"),
        col("containment_b_in_a")) >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Planted containment gate: for each of the `n` lowest doc_ids, build
    * the "quoting" document A+A (the doc's token stream twice). Every
    * 3-shingle of A appears in A+A, so C(A ⊆ A+A) is EXACTLY 1.0 while
    * Jaccard(A, A+A) < 1 (the doubled doc adds boundary-crossing
    * shingles) — the pair Jaccard-threshold dedup misses by construction.
    * Pairs join by id (deterministic; banding on non-identical docs is
    * probabilistic), and the oracle recomputes shingle containment with
    * DuckDB list ops, so this is a real value check of the metric, not a
    * constant. */
  def containmentPlanted(s: SparkSession, dir: String,
      n: Int = 10): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < n)
    val orig = docs.select(col("doc_id"),
      SketchExpressions.wordShingles(tokens(col("text"))).as("sh_a"))
    val doubled = docs.select(col("doc_id"),
      SketchExpressions.wordShingles(
        tokens(concat_ws(" ", col("text"), col("text")))).as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    orig.join(doubled, Seq("doc_id"))
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") + PlantOffset).as("doc_b"),
        Num.t6(inter / size(col("sh_a"))).as("containment_a_in_b"),
        Num.t6(jaccard(col("sh_a"), col("sh_b"))).as("jaccard"))
      .orderBy("doc_a")
  }

  /** Same pipeline over an arbitrary (doc_id, text) frame. */
  def ngramJaccardPairsOn(docs: DataFrame, threshold: Double): DataFrame = {
    val cands = minhashCandidates(docs)
    val ng = docs.select(col("doc_id"),
      SketchExpressions.charNgramSet(normalizedText(col("text"))).as("ng"))
    cands
      .join(ng.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("ng", "ng_a"), Seq("doc_a"))
      .join(ng.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("ng", "ng_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Num.t6(jaccard(col("ng_a"), col("ng_b"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  // ---- duplicate-span detection ----

  /** Duplicated-substring span report (Lee et al. '22, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better", n-gram
    * rendering of its suffix-array ExactSubstr): per document, the
    * maximal token spans covered by word `n`-grams that occur MORE THAN
    * ONCE in the corpus, and the fraction of the document's tokens inside
    * such spans — the signal that drives span-level (not whole-doc)
    * dedup of boilerplate, licenses, and quoted passages.
    *
    * Shape: positioned n-grams keyed by the md5 of the joined window
    * (128-bit digest — collision-free at any corpus size, and 16 bytes
    * on the wire instead of the window text); repeated-gram positions
    * are the occurrences whose per-gram count (a window partitioned on
    * the digest) reaches two — the gram stream is shuffled once and
    * duplicated grams are never collected. Each document's repeated-gram
    * starts are collected to one small array and reduced by
    * [[SketchExpressions.spanRuns]]: the union of `[p, p+n)`, linear in
    * the document's covered length, where overlapping and adjacent hits
    * merge into maximal spans. Zero-hit documents surface with zeroed
    * counters via the left join against the narrow per-doc token counts
    * (no second tokenization: `n_tokens` rides along the gram scan's
    * sibling projection); a 0-token document reports `dup_frac` 0.0. */
  def dupSpans(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    dupSpansOn(t(s, dir, "documents"), n)

  /** Same pipeline over an arbitrary (doc_id, text) frame. */
  def dupSpansOn(docs: DataFrame, n: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val lens = toks.select(col("doc_id"),
      size(col("w")).cast("long").as("n_tokens"))
    val starts = positionedGrams(toks, n)
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("cnt") >= 2)
      .groupBy(col("doc_id"))
      .agg(collect_list(col("p")).as("starts"))
    lens.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        SketchExpressions.spanRuns(col("starts"), n).as("r"))
      .select(col("doc_id"), col("n_tokens"), col("r.n_spans"),
        col("r.dup_tokens"),
        // a 0-token document has no duplicated tokens: 0.0, like the
        // zeroed counters of a zero-hit document (and no ANSI division
        // by zero)
        when(col("n_tokens") === 0L, lit(0.0)).otherwise(
          Num.t6(col("r.dup_tokens").cast("double") /
            col("n_tokens").cast("double"))).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** (doc_id, p, g): every positioned word `n`-gram digest of a
    * (doc_id, w) token frame. `posexplode_outer` plus the null filter
    * yields the same rows as `posexplode` without the generator filter
    * Spark infers for `posexplode`, which would compute the digests a
    * second time per row. */
  private def positionedGrams(toks: DataFrame, n: Int): DataFrame =
    toks
      .select(col("doc_id"),
        posexplode_outer(SketchExpressions.wordGramMd5s(col("w"), n))
          .as(Seq("p", "g")))
      .filter(col("p").isNotNull)

  /** Span-level dedup REMOVAL — the action half of [[dupSpans]]'s
    * report (Lee et al. '22 §4: delete all but one occurrence of any
    * duplicated span, keeping the corpus's token-level information
    * content while cutting repeated boilerplate): every word `n`-gram
    * occurring more than once keeps its globally-first occurrence
    * (lowest (doc_id, position) — deterministic, partitioning-free) and
    * every other occurrence marks its `n` tokens for removal; a
    * document's surviving text is its kept tokens in original order.
    * Emits the removal accounting plus the md5 of the surviving token
    * sequence, so the gate value-checks the actual scrubbed CONTENT,
    * not just counts. A fully-duplicated later copy loses every token
    * (n_kept = 0, null hash) — whole-doc dedup falls out as the
    * degenerate case.
    *
    * Scale shape: occurrence ranking is a row_number window partitioned
    * on the 128-bit gram digest (per-gram partitions are occurrence
    * counts — tiny; the shuffle is the same single gram-keyed exchange
    * [[dupSpans]] pays). The non-first occurrences collapse to one
    * `starts: array<int>` per document (removed-span start positions,
    * bounded by the document's own gram count), which joins back to the
    * document's token row; [[SketchExpressions.keptTokens]] then rebuilds
    * the kept sequence in one sweep — per-document work is linear in
    * tokens plus starts, and nothing is pinned in executor memory. */
  def spanScrub(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    spanScrubOn(t(s, dir, "documents"), n)

  /** Same pipeline over an arbitrary (doc_id, text) frame. */
  def spanScrubOn(docs: DataFrame, n: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val wg = Window.partitionBy(col("g")).orderBy(col("doc_id"), col("p"))
    val starts = positionedGrams(toks, n)
      .withColumn("rn", row_number().over(wg))
      .filter(col("rn") > 1)
      .groupBy(col("doc_id"))
      .agg(collect_list(col("p")).as("starts"))
    val nKept = size(col("kept")).cast("long")
    toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        SketchExpressions.keptTokens(col("w"), col("starts"), n).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - nKept).as("n_removed"), nKept.as("n_kept"),
        when(nKept > 0, md5(concat_ws(" ", col("kept")))).as("kept_hash"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints (Schleimer et al. '03, the MOSS local
    * fingerprinting scheme), word-gram rendering: hash every word
    * `n`-gram, slide a window of `w` consecutive hashes, select each
    * window's minimum — the selected set is the document's fingerprint,
    * with the scheme's guarantee that any shared run of at least
    * `w + n - 1` tokens shares at least one selected fingerprint (the
    * local property a sharded dedup needs: two documents can be compared
    * by fingerprint intersection WITHOUT aligning positions, and
    * selection is reproducible on any partitioning because it depends
    * only on the document itself). Reports the fingerprint count,
    * selection density (expected ~2/(w+1)), and an order-independent
    * digest of the fingerprint set — identical documents MUST collide on
    * `fp_digest`, which is how a fingerprint index keys its buckets.
    *
    * Scale shape: one narrow scan; the sliding-window min runs inside
    * per-document window partitions; per-doc `collect_set` is bounded by
    * the document's own gram count (never corpus-sized). Hashes are the
    * top 60 bits of the gram's md5 (numeric, so window MIN and the
    * sorted digest agree across engines). */
  def winnowFingerprints(s: SparkSession, dir: String, n: Int = 4,
      w: Int = 4): DataFrame =
    winnowFingerprintsOn(t(s, dir, "documents"), n, w)

  /** The selected fingerprint hashes themselves, one (doc_id, mh) row
    * per distinct selection — the long-form feed a fingerprint index
    * buckets on (key the table by `mh`, intersect posting lists to
    * compare documents). */
  def winnowSelections(docs: DataFrame, n: Int, w: Int): DataFrame =
    winnowSelectionsCounted(docs, n, w).select(col("doc_id"), col("mh"))

  /** [[winnowSelections]] carrying each doc's gram count alongside, so a
    * consumer can derive window counts WITHOUT a second tokenization of
    * the corpus (g_cnt is already a by-product of the window-min pass;
    * it is constant per doc, so the distinct's cardinality is
    * unchanged). */
  private def winnowSelectionsCounted(docs: DataFrame, n: Int,
      w: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val grams = positionedGrams(toks, n)
      .select(col("doc_id"), col("p"),
        conv(substring(col("g"), 1, 15), 16, 10).cast("long").as("h"))
    val winMin = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.currentRow, w - 1)
    val perDoc = Window.partitionBy(col("doc_id"))
    grams
      .withColumn("mh", min(col("h")).over(winMin))
      .withColumn("g_cnt", count(lit(1)).over(perDoc))
      .filter(col("p") <= col("g_cnt") - w)
      .select(col("doc_id"), col("mh"), col("g_cnt"))
      .distinct()
  }

  /** Same pipeline over an arbitrary (doc_id, text) frame. The document
    * universe comes from a doc_id-only projection (column-pruned scan —
    * no tokenization) and n_windows from the selection pass's own gram
    * count (`g_cnt - (w-1)`, 0 when no grams exist), so the corpus text
    * is tokenized exactly ONCE — the dupSpansOn discipline. */
  def winnowFingerprintsOn(docs: DataFrame, n: Int, w: Int): DataFrame = {
    val fps = winnowSelectionsCounted(docs, n, w)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("mh")).as("fps"), max(col("g_cnt")).as("gc"))
      .select(col("doc_id"),
        greatest(col("gc") - (w - 1), lit(0)).cast("long").as("win"),
        size(col("fps")).cast("long").as("n_fp"),
        md5(concat_ws(",",
          transform(array_sort(col("fps")), _.cast("string"))))
          .as("fp_digest"))
    docs.select(col("doc_id")).join(fps, Seq("doc_id"), "left")
      .na.fill(0L, Seq("win", "n_fp"))
      .select(col("doc_id"), col("win").as("n_windows"), col("n_fp"),
        when(col("win") > 0,
          Num.t6(col("n_fp").cast("double") /
            col("win").cast("double"))).otherwise(0.0).as("density"),
        col("fp_digest"))
      .orderBy("doc_id")
  }

  // ---- incremental (batch-vs-index) dedup ----

  /** Incremental dedup — the continuous-crawl shape: a NEW batch is
    * deduped against the EXISTING corpus without ever joining the index
    * against itself. Batch = the `doc_id % 10 == 3` slice (a
    * deterministic stand-in for today's crawl) plus planted copies of
    * five index documents (ids 0/100/200/300/400 at `+PlantOffset`) so
    * the gate always has true positives; index = everything else.
    *
    * Two detection lanes, both asymmetric:
    * - exact: the index's content digests aggregate to (md5 → min
    *   owner) once — at 100 TB this table is MAINTAINED incrementally,
    *   not recomputed — and the batch LEFT-joins it on the 16-byte
    *   digest.
    * - near: the batch's LSH bands probe the index's band table
    *   (`bandIndex` rows are 16 longs per doc); candidates verify with
    *   exact shingle Jaccard at `threshold`. The join is batch-sized ×
    *   bucket-sized — the index is only ever read through its bands,
    *   so a small batch against a 100 TB index touches bucket-sized
    *   slices, never the corpus. Index-side buckets above `maxBucket`
    *   are dropped (the [[minhashCandidates]] cap argument; exact-lane
    *   coverage of mega-clusters is unaffected).
    *
    * Verdict: drop if either lane names an index owner. At the bundled
    * SFs every true near-dup is md5-exact (strongest natural non-exact
    * pair: Jaccard 0.9898 < 0.99), so the oracle states both lanes
    * closed-form from digest groups — which makes LSH recall a HARD
    * gate: banding must surface every planted and natural copy. */
  def incrementalDedup(s: SparkSession, dir: String,
      threshold: Double = 0.99, maxBucket: Int = 1000): DataFrame = {
    val docs = t(s, dir, "documents")
    val isBatch = col("doc_id") % 10 === 3
    val index = docs.filter(!isBatch).select(col("doc_id"), col("text"))
    val batch = docs.filter(isBatch).select(col("doc_id"), col("text"))
      .unionByName(index
        .filter(col("doc_id") % 100 === 0 && col("doc_id") < 500)
        .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))
    val idxDigests = index
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("exact_dup_of"))
    val exact = batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(idxDigests, Seq("h"), "left")
      .select(col("doc_id"), col("exact_dup_of"))
    val iBands = bandIndex(index, 64, 16)
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsz") <= maxBucket)
      .select(col("band"), col("bucket"), col("doc_id").as("i_id"))
    val bBands = bandIndex(batch, 64, 16)
      .select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    val cands = bBands.join(iBands, Seq("band", "bucket"))
      .select(col("b_id"), col("i_id")).distinct()
    val shB = batch.select(col("doc_id").as("b_id"),
      SketchExpressions.wordShingles(tokens(col("text"))).as("sh_b"))
    val shI = index.select(col("doc_id").as("i_id"),
      SketchExpressions.wordShingles(tokens(col("text"))).as("sh_i"))
    val near = cands.join(shB, Seq("b_id")).join(shI, Seq("i_id"))
      .filter(jaccard(col("sh_b"), col("sh_i")) >= threshold)
      .groupBy(col("b_id"))
      .agg(min(col("i_id")).as("near_dup_of"))
    exact.join(near, col("doc_id") === col("b_id"), "left")
      .select(col("doc_id"), col("exact_dup_of"), col("near_dup_of"),
        when(col("exact_dup_of").isNotNull || col("near_dup_of").isNotNull,
          "drop").otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }

  /** Planted span gate: graft the first `n` tokens of doc 0 onto the
    * tail of each of docs 1..`k` (below the natural corpus all sharing
    * one passage is vanishingly unlikely; after planting it is certain).
    * Every planted document must report a duplicated span reaching its
    * final token, and doc 0's own prefix must flag too — the oracle
    * recomputes the whole report closed-form over the modified corpus. */
  def dupSpansPlanted(s: SparkSession, dir: String, k: Int = 5,
      prefixLen: Int = 16): DataFrame = {
    val docs = t(s, dir, "documents")
    val prefix = concat_ws(" ",
      slice(tokens(col("text")), 1, prefixLen))
    val donor = docs.filter(col("doc_id") === 0).select(prefix.as("pfx"))
    val planted = docs.filter(col("doc_id") >= 1 && col("doc_id") <= k)
      .crossJoin(broadcast(donor))
      .select(col("doc_id") + PlantOffset,
        concat_ws(" ", col("text"), col("pfx")).as("text"))
      .toDF("doc_id", "text")
    dupSpansOn(docs.select(col("doc_id"), col("text"))
      .unionByName(planted), n = 8)
  }
}
