package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num

/** Corpus-curation operators for training-data pipelines (extension
  * surface): deterministic sampling / splitting, weighted corpus mixing,
  * PII redaction, and boilerplate scoring over the `documents` table.
  *
  * The design constraint shared by every operator here is **determinism
  * without coordination**: at 100 TB a sample or split must be (a) a pure
  * narrow projection — no shuffle, no global sort, no `rand()` whose
  * result depends on partitioning or task retries — and (b) reproducible
  * across engines and runs, so the same document always lands in the same
  * split. We get both by bucketing on the md5 of the stable document key:
  * `bucket = int(md5(doc_id)[0:8], 16) % 100`. Every operator below is a
  * scan-project-filter over that bucket (plus the odd broadcast-free
  * aggregation), so it parallelizes embarrassingly on 1000 executors.
  * `rand()`-based `randomSplit` has none of these properties (re-rolls on
  * task retry, not portable to the DuckDB oracle) — which is why it is
  * deliberately absent.
  */
object Curation {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Stable 0..99 bucket from the md5 of a key column. Codegen'd built-ins
    * only (`md5`/`substring`/`conv`): identical hex in every engine, so
    * the DuckDB oracle reproduces assignments bit-for-bit. */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100

  /** Deterministic train/val/test split (90/5/5) keyed on `doc_id`.
    * Pure projection — the full corpus is assigned in one narrow pass;
    * the same doc_id lands in the same split on every run, engine, and
    * cluster size. Emits every assignment so the gate verifies the whole
    * mapping, not just the counts. */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), hashBucket(col("doc_id")).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  /** Deterministic p% sample: `bucket(doc_id) < pct`. A filter, not a
    * `TABLESAMPLE`: stable under retries, composable with any downstream
    * operator, and the complement (`>= pct`) is exactly the rest of the
    * corpus — the property train/holdout protocols need. */
  def hashSample(s: SparkSession, dir: String, pct: Int = 20): DataFrame =
    t(s, dir, "documents")
      .filter(hashBucket(col("doc_id")) < pct)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Deterministic training-shard assignment — the export-side global
    * shuffle every training run needs made reproducible: each document
    * hashes to a shard (`md5(doc_id) % nShards`) and gets a position
    * inside its shard by ascending digest (a deterministic pseudo-random
    * order — hash order IS the shuffle, so no `rand()`, and a retried
    * export lands every document in the identical (shard, pos) slot).
    * Feeds [[packSequences]]: shard → pack → write one file per shard.
    *
    * Scale shape: assignment is a narrow projection; the only shuffle is
    * the hash partition on shard, and the per-shard `row_number` window
    * never sees more than corpus/nShards rows. nShards bounds
    * parallelism, but a real export sizes shards to ~1 GB — thousands of
    * shards at 100 TB, so the window partitions stay both parallel and
    * bounded. A single global `row_number` (one partition, the
    * hybrid_search anti-pattern) is what this per-shard form avoids. */
  def shardAssign(s: SparkSession, dir: String,
      nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .withColumn("shard",
        conv(substring(col("h"), 1, 8), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  /** Weighted corpus mixing: each source is down-sampled to its mixing
    * rate by the same hash-bucket trick (rate per source-family here, a
    * stand-in for the per-corpus weights of a data recipe). One narrow
    * pass over the union'd corpus — no per-source jobs, no shuffle; the
    * mix is re-derivable from (doc_id, source) alone, so recipe changes
    * re-run cheaply without re-reading rejected sources' bytes elsewhere.
    * Rates: src suffix % 4 -> 100%, 50%, 25%, 10%. */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("src_n") % 4 === 0, 100)
      .when(col("src_n") % 4 === 1, 50)
      .when(col("src_n") % 4 === 2, 25)
      .otherwise(10)
    t(s, dir, "documents")
      .withColumn("src_n", substring(col("source"), 4, 10).cast("long"))
      .filter(hashBucket(col("doc_id")) < rate)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled language sampling (the `p_l ∝ n_l^α` mixing rule
    * multilingual LLM recipes use to keep the majority language from
    * drowning the others): with α = 0.5, each language keeps
    * `floor(sqrt(n_min / n_l) · 100)` percent of its documents, so the
    * smallest language keeps 100% and a 100× larger one keeps 10%. (Keyed
    * on `lang` — the corpus's genuinely skewed axis; its `source` sizes
    * are uniform, which would make every rate 100 and the gate vacuous.)
    * The per-language counts are a tiny aggregate; rates broadcast back;
    * the sample itself is the same deterministic md5-bucket filter as
    * `corpusMix` — one narrow pass, retry-stable, no `rand()`. `sqrt` is
    * IEEE-correctly-rounded, so the integer percent is engine-exact. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val m = n.agg(min(col("nl")).as("nmin"))
    val rates = n.crossJoin(broadcast(m))
      .select(col("lang"),
        floor(sqrt(col("nmin").cast("double") / col("nl")) * lit(100.0))
          .cast("long").as("pct"))
    t(s, dir, "documents")
      .join(broadcast(rates), Seq("lang"))
      .filter(hashBucket(col("doc_id")) < col("pct"))
      .select(col("doc_id"), col("lang"), col("pct"))
      .orderBy("doc_id")
  }

  /** Temperature-sampling TOKEN PLAN — the accounting table a data
    * recipe publishes before training: per-source token counts reduced
    * to α=0.5 temperature shares (`share_d ∝ sqrt(T_d)` — the
    * majority-damping rule [[temperatureMix]] applies at row level),
    * target token allocations against a total budget (half the corpus,
    * the [[tokenBudget]] convention), and the implied EPOCH factor
    * `target_d / T_d` — above 1 means the recipe upsamples that source
    * (repeats data), below 1 means it subsamples; the number every
    * mixture-ablation paper reports per domain.
    *
    * Exactness: sqrt over exact longs is IEEE-exact in every engine
    * (the temperatureMix precedent); shares are t6(sqrt / decimal-sum
    * of t6 sqrts); targets floor to whole tokens; epochs divide exact
    * longs, t6-floored. Scale shape: one corpus token aggregate, then
    * domain-count-sized arithmetic (the only broadcast is the 1-row
    * share normalizer + budget). */
  def mixPlan(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val td = t(s, dir, "documents")
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("n_tokens"))
      .withColumn("sq", Num.t6(sqrt(col("n_tokens").cast("double"))))
    val norm = td.agg(
      Relational.dsum(col("sq")).as("sq_sum"),
      floor(sum(col("n_tokens")) / 2).cast("long").as("budget"))
    td.crossJoin(broadcast(norm))
      .withColumn("share", Num.t6(col("sq") / col("sq_sum")))
      .withColumn("target_tokens",
        floor(col("share") * col("budget")).cast("long"))
      .select(col("source"), col("n_tokens"), col("share"),
        col("target_tokens"),
        Num.t6(col("target_tokens").cast("double") /
          col("n_tokens").cast("double")).as("epochs"))
      .orderBy("source")
  }

  /** Domain balancing by water-filling (the data-mixing counterpart of
    * [[mixPlan]]'s temperature sampling): given a global token budget
    * B = `budgetFrac` · total, allocate each source
    * min(available_s, L) tokens where the water level L solves
    * Σ min(available_s, L) = B — small sources keep everything,
    * over-represented sources are capped at a COMMON level (the
    * "no domain may dominate" recipe), then each source keeps its
    * largest documents until its allocation is spent.
    *
    * The water level has a closed form over sources sorted by
    * availability: with prefix sums C and m sources, the first rank i
    * where a_i ≥ (B − C_{i−1})/(m − i + 1) fixes L to that share — pure
    * window arithmetic over the per-source aggregate, so BOTH engines
    * state it in four CTEs and agree bit-for-bit on the doubles (same
    * expression trees; ties in availability broken by source name).
    *
    * Scale shape: two corpus passes (the availability aggregate; the
    * per-source cumulative cut), both shuffling on the bounded source
    * key; every unpartitioned window runs over the sources×1 aggregate
    * — domain-count-sized METADATA, the mixPlan/kmeans-centroid class —
    * and the allocation table broadcasts back to the cut. */
  def domainBalance(s: SparkSession, dir: String,
      budgetFrac: Double = 0.6): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val perDoc = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("ntok"))
    val avail = perDoc.groupBy(col("source"))
      .agg(sum(col("ntok")).as("avail"))
    val tot = avail.agg(sum(col("avail")).as("total"),
      count(lit(1)).as("m"))
    val wOrd = Window.orderBy(col("avail"), col("source"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val ws = avail.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cum", sum(col("avail")).over(wCum))
      .withColumn("budget", col("total").cast("double") * lit(budgetFrac))
      .withColumn("share",
        (col("budget") - (col("cum") - col("avail")).cast("double")) /
          (col("m") - col("rn") + 1).cast("double"))
    val lv = ws.filter(col("avail").cast("double") >= col("share"))
      .agg(min_by(col("share"), col("rn")).as("level"))
    val al = ws.crossJoin(broadcast(lv))
      .withColumn("alloc",
        when(col("level").isNull, col("avail").cast("double"))
          .otherwise(least(col("avail").cast("double"), col("level"))))
      .select(col("source"), col("avail"), col("alloc"))
    val wDoc = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = perDoc
      .join(broadcast(al.select(col("source"), col("alloc"))),
        Seq("source"))
      .withColumn("cumtok", sum(col("ntok")).over(wDoc))
      .filter(col("cumtok").cast("double") <= col("alloc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("ntok")).as("tokens_kept"))
    al.join(kept, Seq("source"), "left")
      .select(col("source"), col("avail").as("avail_tokens"),
        Num.t6(col("alloc")).as("alloc_tokens"),
        (col("alloc") >= col("avail").cast("double")).as("saturated"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
      .orderBy("source")
  }

  /** Corpus snapshot diff (the dataset-versioning primitive behind
    * incremental re-training: which documents were added / removed /
    * changed between two corpus versions?). Both snapshots reduce to
    * narrow (doc_id, md5-digest) projections — the wide text column never
    * reaches the join — then one full-outer join on doc_id classifies
    * every id; unchanged rows are filtered out so the output is the edit
    * script, not the corpus. V2 is derived deterministically from the
    * corpus itself (drop id%17=3, rewrite id%13=5, add id%29=7 under new
    * ids) so the expected diff is closed-form at every SF. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val v1 = docs.select(col("doc_id"), md5(col("text")).as("d1"))
    val v2base = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 5,
          md5(concat(col("text"), lit(" v2"))))
          .otherwise(md5(col("text"))).as("d2"))
    val v2new = docs.filter(col("doc_id") % 29 === 7)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        md5(concat(lit("new "), col("text"))).as("d2"))
    v1.join(v2base.unionByName(v2new), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("d1").isNull, "added")
          .when(col("d2").isNull, "removed")
          .when(col("d1") =!= col("d2"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
      .orderBy("doc_id")
  }

  /** Quality-stratified selection: the top-k quality documents per
    * language — "keep the best of every stratum", the counterpart of
    * uniform down-sampling when a data recipe wants quality-weighted
    * mixtures without starving low-resource strata. Ranking runs on the
    * floor-truncated composite quality (ties by doc_id), so order can
    * never diverge between engines; one shuffle keyed on the language,
    * rank window inside each stratum. */
  def bestPerLang(s: SparkSession, dir: String, k: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.qualityScore
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("quality"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk").cast("int").as("rnk"),
        col("doc_id"), col("quality"))
      .orderBy("lang", "rnk")
  }

  /** Train/test split-leakage audit: exact-duplicate text groups whose
    * members land in MORE THAN ONE split — the contamination mode a
    * hash-split alone cannot prevent (splits key on doc_id; duplicate
    * TEXT under different ids crosses freely). Output: one row per
    * leaking digest group with its member count and the splits it spans.
    *
    * Copies of the `n` lowest doc_ids are planted at +[[Dedup.PlantOffset]]
    * so the audit always has true positives whose split assignment is
    * still the deterministic md5 rule (some copies land back in train —
    * those are NOT leaks, and the oracle agrees from first principles).
    * Natural exact duplicates (sf0.1 has 8 pairs) are audited identically.
    *
    * Scale shape: one shuffle on the 16-byte text digest (the exact-dedup
    * exchange, reused semantics); split assignment stays a narrow
    * projection. */
  def splitLeakage(s: SparkSession, dir: String, n: Int = 10): DataFrame = {
    val docs = t(s, dir, "documents")
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < n)
        .withColumn("doc_id", col("doc_id") + Dedup.PlantOffset))
    planted
      .select(col("doc_id"), md5(col("text")).as("digest"),
        when(hashBucket(col("doc_id")) < 90, "train")
          .when(hashBucket(col("doc_id")) < 95, "val")
          .otherwise("test").as("split"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_docs"),
        count_distinct(col("split")).as("n_splits"),
        concat_ws(",", sort_array(collect_set(col("split")))).as("splits"))
      .filter(col("n_splits") > 1)
      .select(col("keep_id"), col("digest"), col("n_docs"),
        col("n_splits"), col("splits"))
      .orderBy("keep_id")
  }

  /** EMBEDDING-level decontamination — the semantic member of the
    * leakage family ([[decontaminate]] catches shared 8-grams,
    * [[bloomDecontaminate]] its sketch form, [[splitLeakage]] exact
    * duplicate text across splits; none catch a PARAPHRASED eval item,
    * which shares no n-gram but sits at cosine ~1 in embedding space —
    * the contamination mode semantic-dedup papers audit benchmarks
    * for). The eval relation stands in for an external benchmark (the
    * deterministic `vec_id % every = 7` slice); copies of every eval
    * item are planted into the training corpus at +[[Dedup.PlantOffset]]
    * so the audit always has closed-form true positives: flagged pairs
    * must be EXACTLY the planted (eval_id + offset, eval_id) pairs at
    * the self-cosine the shared replay formula produces, and any
    * natural training vector crossing the threshold would break the
    * oracle hash (none does at any bundled SF — the fixture embeddings
    * are well-separated, the same property `embed_neardup_pairs` pins).
    *
    * Scale shape: never all-pairs. The corpus side is banded by the
    * same [[graft.functions.SketchExpressions.hyperplaneBands]]
    * signatures as the near-dup pipeline (pathological buckets capped),
    * the EVAL side is bounded by definition (a benchmark suite, not a
    * split — k rows of metadata), so its signatures and vectors ride
    * broadcast joins; candidates dedup on (train, eval) id pairs before
    * any embedding is read, and the exact cosine verifies only
    * candidates. One corpus scan for signatures, one narrow rescan for
    * candidate hydration. */
  def semanticLeakage(s: SparkSession, dir: String, every: Int = 50,
      threshold: Double = 0.95, planes: Int = 8, bands: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val evalRel = emb.filter(col("vec_id") % every === 7)
      .select(col("vec_id").as("eval_id"), col("embedding").as("eval_emb"))
    val train = emb.filter(col("vec_id") % every =!= 7)
      .unionByName(evalRel.select(
        (col("eval_id") + Dedup.PlantOffset).as("vec_id"),
        col("eval_emb").as("embedding")))
    def sig(c: Column) = posexplode(
      graft.functions.SketchExpressions.hyperplaneBands(c, planes, bands))
    val tsig = train.select(col("vec_id"),
      sig(col("embedding")).as(Seq("band", "bucket")))
    val tidx = tsig
      .withColumn("bsz", count(lit(1))
        .over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
    val esig = evalRel.select(col("eval_id"),
      sig(col("eval_emb")).as(Seq("band", "bucket")))
    val cands = tidx.join(broadcast(esig), Seq("band", "bucket"))
      .select(col("vec_id"), col("eval_id"))
      .distinct()
    cands.join(train, Seq("vec_id"))
      .join(broadcast(evalRel), Seq("eval_id"))
      .select(col("vec_id").as("train_id"), col("eval_id"),
        Num.t6(Similarity.cosine(col("embedding"), col("eval_emb")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy("train_id", "eval_id")
  }

  /** Snapshot merge — the CDC-apply half of [[snapshotDiff]]: apply the
    * edit script (added/removed/changed with payload digests) to v1 and
    * emit the reconstructed corpus, which must equal v2 exactly (the
    * oracle builds v2 directly). The MERGE INTO shape: base anti-joined
    * against (removed ∪ changed) keys, unioned with the (added ∪ changed)
    * payloads — two hash joins on doc_id and a union, no wide columns
    * (digests stand in for document bytes, as in snapshotDiff). */
  def snapshotMerge(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val v1 = docs.select(col("doc_id"), md5(col("text")).as("digest"))
    // the same deterministic v2 derivation as snapshotDiff, with payloads
    val v2 = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 5,
          md5(concat(col("text"), lit(" v2"))))
          .otherwise(md5(col("text"))).as("digest"))
      .unionByName(docs.filter(col("doc_id") % 29 === 7)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          md5(concat(lit("new "), col("text"))).as("digest")))
    // the edit script as a diff consumer would receive it
    val diff = v1.withColumnRenamed("digest", "d1")
      .join(v2.withColumnRenamed("digest", "d2"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("d1").isNull, "added")
          .when(col("d2").isNull, "removed")
          .when(col("d1") =!= col("d2"), "changed")
          .otherwise("unchanged").as("status"),
        col("d2"))
      .filter(col("status") =!= "unchanged")
    // apply: delete removed+changed, upsert added+changed
    val deletes = diff.filter(col("status").isin("removed", "changed"))
      .select("doc_id")
    val upserts = diff.filter(col("status").isin("added", "changed"))
      .select(col("doc_id"), col("d2").as("digest"))
    v1.join(deletes, Seq("doc_id"), "left_anti")
      .unionByName(upserts)
      .orderBy("doc_id")
  }

  /** Int8 symmetric quantization of the embedding column — the 4×
    * storage/bandwidth cut an ANN index takes before sharding. Per-vector
    * max-abs scale; code = round-half-up(x/scale·127) (floor(·+0.5):
    * round() half-ties differ between engines, floor never does). Emits
    * the codes (comma-joined, renderer-independent), the scale, the exact
    * max reconstruction error, and a value-checked bound: error ≤
    * scale/127 (half-step 0.5·scale/127 plus float-widening slack).
    * Pure narrow scan — quantization at 100 TB is embarrassingly
    * parallel, and the codes column is what gets written/shuffled
    * downstream, at a quarter the bytes. */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val rawScale = array_max(transform(e, x => abs(x.cast("double"))))
    t(s, dir, "embeddings")
      .withColumn("scale",
        when(rawScale === 0.0, lit(1.0)).otherwise(rawScale))
      .withColumn("codes", transform(e,
        x => floor(x.cast("double") / col("scale") * 127.0 + 0.5)
          .cast("int")))
      .withColumn("max_err", array_max(zip_with(e, col("codes"),
        (x, c) => abs(x.cast("double")
          - c.cast("double") * col("scale") / 127.0))))
      .select(col("vec_id"), size(e).as("n_dims"),
        Num.t6(col("scale")).as("scale"),
        concat_ws(",", col("codes")).as("codes"),
        Num.t6(col("max_err")).as("max_err"),
        (col("max_err") <= col("scale") / 127.0).as("err_ok"))
      .orderBy("vec_id")
  }

  /** PII redaction: regexp-scrub emails, North-American phone numbers and
    * IPv4 addresses to typed placeholder tags. Chained `regexp_replace`
    * stays inside whole-stage codegen (one generated loop per row, no
    * UDF). The synthetic corpus carries no PII, so the query plants a
    * deterministic contact line per document before scrubbing — the gate
    * then checks actual redaction behavior on every row rather than
    * passing vacuously on text the regexes never touch. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
    val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val planted = concat(
      substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
    t(s, dir, "documents")
      .select(col("doc_id"), planted.as("raw"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), email, "<EMAIL>"),
            phone, "<PHONE>"),
          ipv4, "<IP>"))
      .orderBy("doc_id")
  }

  /** Boilerplate signal: repeated-token ratio `1 - distinct/total` per
    * document (template/boilerplate text repeats its vocabulary; prose
    * does not). Array built-ins only (`split`/`array_distinct`/`size`) —
    * no lambda HOFs, so nothing re-evaluates per element and the whole
    * projection codegens. Narrow scan, no shuffle. */
  def boilerplateScores(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        Num.t6(lit(1.0) -
          size(array_distinct(toks)).cast("double") /
            size(toks).cast("double")).as("repeat_ratio"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag training documents sharing at least
    * one word 8-gram with the held-out eval set (`doc_id % 100 == 7` — a
    * deterministic pseudo-sample standing in for a benchmark suite). The
    * classic contamination filter every pretraining corpus runs before
    * training; 8 words is the standard overlap unit (long enough that
    * coincidental collisions are negligible, short enough to catch
    * paraphrase-free leakage).
    *
    * A copy of each eval document is planted into the training side at
    * doc_id + 1e6 so the gate always has true positives: the planted rows
    * MUST flag, and (at the verify SFs) nothing else shares an 8-gram.
    *
    * Scale shape: the eval side of any decontamination run is tiny by
    * definition — its distinct-gram set broadcasts, so the training side
    * stays a narrow scan + broadcast semi-join + per-doc aggregate; no
    * all-pairs, no big-side shuffle before the aggregate. */
  def decontaminate(s: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val docs = t(s, dir, "documents")
    // single-pass custom expression (same distinct-gram semantics as the
    // HOF `shingles`, one tokenization, no lambda re-evaluation exposure)
    val grams = docs.select(col("doc_id"),
      graft.functions.SketchExpressions
        .wordShingles(tokens(col("text")), n).as("grams"))
    val isEval = col("doc_id") % 100 === 7
    val evalGrams = grams.filter(isEval)
      .select(explode(col("grams")).as("gram")).distinct()
    val train = grams.filter(isEval)
      .withColumn("doc_id", col("doc_id") + Dedup.PlantOffset)
      .unionByName(grams.filter(!isEval))
    // one pass over the training grams: LEFT join against the broadcast
    // eval set and count the matches per doc — zero-hit documents stay in
    // the output without a second scan (shingling is the expensive step;
    // a join-back-for-zeros shape computed it twice)
    train.select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams.withColumn("hit", lit(1))), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_shared_grams"))
      .select(col("doc_id"), col("n_shared_grams"),
        (col("n_shared_grams") > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** [[decontaminate]] behind a Bloom-filter prefilter — same output,
    * different survival envelope. The broadcast-hash-join lane above
    * assumes the eval gram set fits a broadcast hash relation; a full
    * eval-suite sweep (every benchmark, every split, dozens of n-gram
    * sizes) can push that set past broadcast comfort while the corpus
    * side is 100 TB. This lane:
    *
    *  1. builds a Bloom filter over the distinct eval grams with
    *     `DataFrameStatFunctions.bloomFilter` — a distributed
    *     `treeAggregate` of fixed-size bit arrays, ~1.2 MB per million
    *     grams at 1% fpp vs the multi-GB hash relation + its host-side
    *     build the exact join would ship to every executor;
    *  2. screens each training document with the arrays PACKED — one
    *     `mightContainString` sweep per doc, no per-gram row explosion
    *     for the (overwhelmingly common) clean documents. A clean doc
    *     contributes exactly ONE row to the downstream aggregate
    *     (`explode_outer` of a null array) instead of one per gram, so
    *     the per-doc aggregate's input shrinks from O(total grams) to
    *     O(docs + candidate grams);
    *  3. exact-confirms only the Bloom-positive candidates against the
    *     real eval gram set, so false positives (the 1%) fall out with
    *     `n_shared_grams = 0` and the result equals [[decontaminate]]
    *     bit-for-bit — the oracle contract is shared.
    *
    * No false negatives exist by Bloom construction, which is what makes
    * the prefilter sound. The confirm join is left to Catalyst/AQE: at
    * test scale it broadcasts; past broadcast scale it shuffle-joins
    * candidate grams only — the point of the prefilter.
    *
    * fpp compounds per DOCUMENT: a clean doc with g grams is flagged
    * with probability ≈ g·fpp, so the per-gram rate must be sized
    * against typical document gram counts, not against 1 — 1e-4 keeps
    * a 1000-gram doc's false-flag rate under 10% at ~19 bits/gram. */
  def bloomDecontaminate(s: SparkSession, dir: String, n: Int = 8,
      fpp: Double = 1e-4): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val docs = t(s, dir, "documents")
    val grams = docs.select(col("doc_id"),
      graft.functions.SketchExpressions
        .wordShingles(tokens(col("text")), n).as("grams"))
    val isEval = col("doc_id") % 100 === 7
    val evalGrams = grams.filter(isEval)
      .select(explode(col("grams")).as("gram")).distinct()
    val train = grams.filter(isEval)
      .withColumn("doc_id", col("doc_id") + Dedup.PlantOffset)
      .unionByName(grams.filter(!isEval))
    // size the filter from the eval side itself — one extra eval-only
    // scan (the ~1% side), never a corpus pass; in production the
    // eval-suite gram count is catalog metadata and this count is free
    val nEval = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("gram", nEval, fpp)
    val bc = s.sparkContext.broadcast(bloom)
    val anyHit = udf((gs: Seq[String]) =>
      gs != null && gs.exists(g => bc.value.mightContainString(g)))
    train
      .select(col("doc_id"),
        explode_outer(when(anyHit(col("grams")), col("grams"))).as("gram"))
      .join(evalGrams.withColumn("hit", lit(1)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_shared_grams"))
      .select(col("doc_id"), col("n_shared_grams"),
        (col("n_shared_grams") > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Sequence packing: assign documents to fixed-size context windows by
    * cumulative token count, per source, in doc_id order — the GPT-style
    * document-packing step that turns a curated corpus into training
    * sequences. `seq_id` is the window containing the document's first
    * token; `offset` its position inside that window.
    *
    * Scale shape: packing is per (source) partition — a running-sum
    * window over each source's documents, so the only shuffle is the
    * hash partition on source and no global order is ever imposed. At
    * 100 TB the partition key widens to (source, shard) and the same
    * plan holds; a single global running sum — one partition, no
    * parallelism — is the anti-pattern this form exists to avoid. */
  def packSequences(s: SparkSession, dir: String,
      contextLen: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        floor((col("cum_tokens") - col("n_tokens"))
          / lit(contextLen.toDouble)).cast("long").as("seq_id"),
        ((col("cum_tokens") - col("n_tokens")) % contextLen).as("offset"))
      .orderBy("source", "doc_id")
  }

  /** Packing-efficiency report over [[packSequences]]' layout: per
    * source, the numbers a training-throughput review reads — window
    * count, fill ratio of the allocated windows (the stream-packing
    * layout wastes tokens only in each source's tail window), and the
    * count/fraction of documents SPLIT across a window boundary
    * (`offset + n_tokens > contextLen`) — the attention-contamination
    * metric that decides whether a recipe needs document-atomic packing
    * (with its padding cost) instead.
    *
    * Scale shape: one pass over the packed projection, aggregate keyed
    * on the bounded source set. The window count derives from the
    * per-source token total (ceil division), never from materializing
    * windows. */
  def packStats(s: SparkSession, dir: String,
      contextLen: Int = 512): DataFrame =
    packSequences(s, dir, contextLen)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("offset") + col("n_tokens") > contextLen, 1L)
          .otherwise(0L)).as("n_split_docs"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        ceil(col("total_tokens").cast("double") / lit(contextLen.toDouble))
          .cast("long").as("n_windows"),
        Num.t6(col("total_tokens").cast("double") /
          (ceil(col("total_tokens").cast("double") /
            lit(contextLen.toDouble)) * lit(contextLen.toDouble)))
          .as("fill_ratio"),
        col("n_split_docs"),
        Num.t6(col("n_split_docs").cast("double") /
          col("n_docs").cast("double")).as("split_frac"))
      .orderBy("source")

  /** k-anonymity audit over the quasi-identifier combination
    * (lang, source, length bucket) — the privacy-review counterpart of
    * PII redaction: a document whose quasi-identifier group has fewer
    * than k members is re-identifiable by attribute combination alone,
    * redacted strings or not. Emits every group with its member count
    * and the at-risk flag; a release gate reads `at_risk` and either
    * suppresses or generalizes those rows (widen the length bucket,
    * drop the source column) until the audit is clean.
    *
    * Scale shape: one narrow scan + one aggregate keyed on the bounded
    * (langs × sources × buckets) space — group-count-sized output, the
    * profile/datasheet class. */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 5,
      bucketWidth: Int = 100): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("source"),
        (floor(col("n_chars") / lit(bucketWidth)) * bucketWidth)
          .cast("long").as("len_bucket"))
      .groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"), col("len_bucket"), col("n"),
        (col("n") < k).as("at_risk"))
      .orderBy("lang", "source", "len_bucket")

  /** Weighted sampling without replacement — Efraimidis–Spirakis '06
    * A-Res, the algorithm behind "sample documents proportional to
    * weight" (here: length-proportional, the pretraining-mix case where
    * long documents deserve selection mass ∝ their token count): each
    * item draws u ∈ (0,1) and ranks by ln(u)/w; the top-k per group ARE
    * a weighted sample without replacement. Ranking in LOG space (not
    * the textbook u^(1/w)) keeps the arithmetic to ln + divide — both
    * engine-identical IEEE ops (`pow` is not safely portable; ln is the
    * tfidf precedent).
    *
    * Determinism without an RNG: u = (md5-derived 32-bit int + 0.5)/2³²
    * (the dpRelease draw — seeded, engine-portable, never exactly 0/1,
    * so ln(u) is finite). Scale shape: one narrow scan; the per-group
    * rank is a bounded top-k window (WindowGroupLimit prunes to k per
    * task — the stratifiedSample plan class). */
  def weightedSample(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val key = log(u) / col("n_chars").cast("double")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("key").desc, col("doc_id"))
    t(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("key"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_chars"),
        Num.t6(col("key")).as("res_key"))
      .orderBy("lang", "rnk")
  }

  /** Poisson bootstrap over the corpus — THE way to bootstrap on a
    * cluster (resampling n rows with replacement needs global
    * coordination; giving each row an independent Poisson(1)
    * multiplicity per replica needs none and is asymptotically
    * equivalent — Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams"): B replicas of the mean document length, each row's
    * per-replica multiplicity drawn from the truncated Poisson
    * inverse-CDF over the deterministic md5 uniform (the dpRelease
    * draw, keyed by (doc, replica)), and the replica means ranked into
    * a central confidence interval (order statistics 2 and B−1).
    *
    * Scale shape: a B× row amplification of a TWO-COLUMN metadata
    * projection (never text), collapsed immediately by a partial
    * aggregate on the B-key replica space; everything after is
    * B-row arithmetic. Integer multiplicities × integer lengths sum
    * exactly — no decimal plumbing needed before the final mean. */
  def poissonBootstrap(s: SparkSession, dir: String,
      b: Int = 32): DataFrame = {
    // truncated Poisson(1) inverse CDF: cumulative e^-1 * (Σ 1/k!) as
    // exact rational multipliers of exp(-1): identical doubles in both
    // engines (division of exact doubles is correctly rounded)
    val cum = Seq(1.0, 2.0, 2.5, 8.0 / 3.0, 65.0 / 24.0, 163.0 / 60.0,
      1957.0 / 720.0)
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("|"), col("replica").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val m = cum.zipWithIndex.foldLeft(when(lit(false), 0)) {
      case (acc, (c, i)) => acc.when(u < exp(lit(-1.0)) * lit(c), i)
    }.otherwise(cum.length)
    val rep = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(b - 1))).as("replica"))
      .withColumn("m", m)
      .groupBy(col("replica"))
      .agg(sum(col("m")).as("n_eff"),
        sum(col("m") * col("n_chars")).as("tot"))
      .select(col("replica"), col("n_eff"),
        Num.t6(col("tot").cast("double") / col("n_eff").cast("double"))
          .as("mean_chars"))
    // CI bounds via an unbounded window over the SAME B-row frame —
    // one lineage, one pass. The previous crossJoin(lo)/crossJoin(hi)
    // form re-executed the B×N exploded aggregation three times (rep,
    // ranked→lo, ranked→hi); a whole-frame window aggregate over the
    // already-aggregated rows costs nothing and keeps the expensive
    // corpus scan single-shot. The windows have no partition key on
    // purpose: their input is `rep`, one row per replica, so at most
    // `b` rows reach the single partition (WindowExec's "No Partition
    // Defined" warning is expected here) whatever the corpus size.
    val wr = Window.orderBy(col("mean_chars"), col("replica"))
    val wAll = wr.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    rep.withColumn("r", row_number().over(wr))
      .withColumn("ci_lo",
        max(when(col("r") === 2, col("mean_chars"))).over(wAll))
      .withColumn("ci_hi",
        max(when(col("r") === b - 1, col("mean_chars"))).over(wAll))
      .drop("r")
      .orderBy("replica")
  }

  /** Differentially-private count release over the (lang, source)
    * marginal — the publication mechanism k-anonymity's audit gates:
    * each true group count is perturbed with Laplace(1/ε) noise via the
    * inverse-CDF transform, and only the noisy count would leave the
    * boundary (the true count is emitted here because the query IS the
    * mechanism's test — the oracle must check the noise arithmetic,
    * not trust it).
    *
    * Determinism without an RNG: the uniform draw is derived from the
    * md5 of the group key (the hashSample discipline — seeded,
    * engine-portable, identical on any cluster layout): u = (first 8
    * hex digits + 0.5) / 2³², never exactly 0 or 1, so
    * ln(1 − 2|u − ½|) is always finite; noise =
    * −(1/ε)·sign(u−½)·ln(1−2|u−½|). Scale shape: one aggregate on the
    * bounded group space, then group-count-sized arithmetic. A real
    * release recomputes the draw from a private seed; the mechanism,
    * sensitivity-1 count, and ε accounting are exactly this shape. */
  def dpRelease(s: SparkSession, dir: String,
      epsilon: Double = 1.0): DataFrame = {
    val h = md5(concat(col("lang"), lit("|"), col("source")))
    val u = (conv(substring(h, 1, 8), 16, 10).cast("long").cast("double")
      + lit(0.5)) / lit(4294967296.0)
    val noise = Num.t6(lit(-1.0 / epsilon) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5))))
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"), col("n"),
        noise.as("noise"),
        (col("n") + noise).as("n_noisy"))
      .orderBy("lang", "source")
  }

  /** Document chunking: overlapping fixed-size token windows (size 32,
    * stride 16) per document — the preprocessing step that feeds an
    * embedding model or a context-window trainer. Emits the md5 of each
    * chunk's joined tokens rather than the text (compact, hashable, and
    * what a downstream dedup-of-chunks keys on anyway). Chunk starts are
    * every `stride` tokens while inside the document; the last chunk may
    * be short. Pure narrow scan: explode is the only row amplification,
    * there is no shuffle before the presentation sort. */
  def chunkDocuments(s: SparkSession, dir: String,
      chunkSize: Int = 32, stride: Int = 16): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val w = col("w")
    val nChunkIdx = floor((size(w) - 1) / lit(stride.toDouble)).cast("int")
    t(s, dir, "documents")
      .withColumn("w", tokens(col("text")))
      .filter(size(w) > 0)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunkIdx),
          i => slice(w, i * stride + 1, lit(chunkSize))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Exact k-per-stratum sample over (lang, source) — the class-balanced
    * selection step (equal representation per language×source cell, e.g.
    * for eval-set construction or annotation batches). "Random" order
    * inside each stratum is the ascending md5 of the document key: fully
    * deterministic, engine-portable, and stable under retries (the same
    * discipline as [[hashSample]]), with EXACT per-stratum counts, which a
    * probabilistic bucket filter cannot give.
    *
    * Scale shape: strata are bounded (languages × sources), so the window
    * partition count is bounded, and the rank filter is a finite top-k —
    * Spark 4 inserts WindowGroupLimit, so each task keeps only k rows per
    * stratum before the shuffle (map-side prune; the plan never
    * materializes a full stratum's ordering). One shuffle on the stratum
    * key, nothing broadcast, nothing collected. */
  def stratifiedSample(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("h"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("lang"), col("source"), col("rn"))
      .orderBy("doc_id")
  }

  /** Token-budget selection: take documents in quality order (the
    * [[TextAnalysis.qualityLogit]] score, descending) until a token budget
    * is exhausted — the "best N billion tokens" cut every
    * fixed-compute-budget training run makes. Budget here = half the
    * corpus's tokens, computed from the data so the query is meaningful at
    * every SF.
    *
    * Scale shape: a global running sum in score order is the
    * single-partition-window anti-pattern, so the cut is decomposed into
    * bounded score BANDS (floor(logit·8): the logit is a bounded function
    * of bounded features, z ∈ [-5, 3.5], so ≤ 68 bands exist): the
    * running sum runs per-band (partitioned window), and each band adds
    * the total of all strictly-better bands — a band-count-sized aggregate
    * joined back by broadcast. Because floor is monotone, band-major order
    * IS score order, and the banded prefix+cumsum equals the global
    * running sum exactly (integer token counts — no FP reassociation).
    * Same two-pass trick as the histogram deciles in
    * [[TextAnalysis.pplBuckets]]; no task ever sees more than one band's
    * slice. */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    // one tokenization per row (the stack-hoisting lesson — the Column
    // helper forms each re-tokenize); arithmetic bit-identical to the
    // quality_logit feature definitions (the qualityLogitTrain-proven
    // hoisted forms)
    val w = col("w")
    val nTokLD = size(w).cast("long").cast("double")
    val stopArr = array(enStopwords.map(lit): _*)
    val z = lit(-1.0) +
      (size(filter(w, t => array_contains(stopArr, t))).cast("double") /
        nTokLD) * lit(2.0) +
      punctRatio(col("text")) * lit(-4.0) +
      least(nTokLD / lit(256.0), lit(1.0)) * lit(1.5) +
      least((length(regexp_replace(col("text"), "\\s", "")).cast("double") /
        nTokLD) / lit(8.0), lit(1.0)) * lit(1.0)
    val scored = t(s, dir, "documents")
      .withColumn("w", tokens(col("text")))
      // empty-document guard: a whitespace-only doc has size(w) = 0, so
      // every ratio feature divides by zero and the logit goes null/NaN —
      // Spark would then silently drop the row at the band-metadata inner
      // join while the oracle would order NULLs last, a latent cross-engine
      // divergence. Both lanes define the case identically: excluded.
      .filter(size(w) > 0)
      .select(col("doc_id"), Num.t6(z).as("logit"),
        size(w).cast("long").as("n_tokens"))
      .withColumn("band", floor(col("logit") * 8.0).cast("long"))
    val wIn = Window.partitionBy(col("band"))
      .orderBy(col("logit").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE band aggregate yields both the better-band prefix sums and the
    // total-token budget (window over the ≤68-row aggregate — bounded),
    // so the corpus is scanned exactly twice: once into this aggregate,
    // once for the selection itself.
    val bandTot = scored.groupBy(col("band"))
      .agg(sum(col("n_tokens")).as("btot"))
    val wPre = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val meta = bandTot
      .withColumn("prefix", coalesce(sum(col("btot")).over(wPre), lit(0L)))
      .withColumn("budget",
        floor(sum(col("btot")).over(wAll) / 2).cast("long"))
      .select(col("band"), col("prefix"), col("budget"))
    scored
      .withColumn("cum_in_band", sum(col("n_tokens")).over(wIn))
      .join(broadcast(meta), Seq("band"))
      .withColumn("cum_tokens", col("prefix") + col("cum_in_band"))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("logit"), col("n_tokens"),
        col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Eval-set contamination as ROUGE-style n-gram RECALL: for every
    * training document sharing at least one 8-gram with an eval document,
    * the best-covered eval document and the fraction of its distinct
    * grams the training document reproduces. [[decontaminate]] answers
    * "does this doc touch the eval set at all" (any-hit flag);
    * this operator answers "HOW MUCH of WHICH eval item does it leak" —
    * the score thresholded for soft decontamination (e.g. drop at
    * recall ≥ 0.8) instead of the any-hit hard drop. Same planted
    * construction as [[decontaminate]]: eval docs are re-planted shifted
    * by [[Dedup.PlantOffset]], so full-recall (1.0) rows exist by
    * construction at every SF.
    *
    * Scale shape: eval sets are bounded (benchmarks, not corpora), so the
    * per-eval-doc gram lists broadcast (the decontaminate precedent); the
    * train-side grams stream through one broadcast join and collapse
    * immediately to (train_doc, eval_doc) counts — the only shuffle is on
    * that pair key, already aggregated. The best-eval pick is a
    * per-train-doc window (partitioned, WindowGroupLimit-prunable). */
  def rougeRecall(s: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val grams = t(s, dir, "documents").select(col("doc_id"),
      graft.functions.SketchExpressions
        .wordShingles(tokens(col("text")), n).as("grams"))
    val isEval = col("doc_id") % 100 === 7
    val evalG = grams.filter(isEval)
      .select(col("doc_id").as("eval_doc"), explode(col("grams")).as("gram"))
    val evalN = evalG.groupBy(col("eval_doc"))
      .agg(count(lit(1)).as("eval_n"))
    val train = grams.filter(isEval)
      .withColumn("doc_id", col("doc_id") + Dedup.PlantOffset)
      .unionByName(grams.filter(!isEval))
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    val hits = train.join(broadcast(evalG), Seq("gram"))
      .groupBy(col("doc_id"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("recall").desc, col("eval_doc"))
    hits.join(broadcast(evalN), Seq("eval_doc"))
      .withColumn("recall",
        Num.t6(col("n_shared").cast("double") / col("eval_n").cast("double")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("eval_doc"), col("n_shared"), col("recall"))
      .orderBy("doc_id")
  }

  /** Per-source dataset card — the datasheet row every curated corpus
    * export ships with: document and token volumes, language mix
    * (count of declared langs + majority language with deterministic
    * tie-break), size dispersion (min/max/mean chars), and an
    * exact-duplicate rate within the source (distinct text digests vs
    * rows — the first number a data audit asks for). One scan, one
    * aggregate keyed on the bounded source set; the majority language
    * is a second tiny aggregate over (source, lang) counts joined back
    * by broadcast. Means are decimal-sum / count (engine-exact). */
  def sourceDatasheet(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
    val agg = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        Num.t6(Relational.dsum(col("n_chars")) / count(lit(1)))
          .as("mean_chars"),
        countDistinct(col("h")).as("n_distinct_texts"))
      .withColumn("dup_frac", Num.t6(
        (col("n_docs") - col("n_distinct_texts")).cast("double") /
          col("n_docs").cast("double")))
    // majority language per source: count-desc, lang-asc tie-break —
    // a (sources × langs)-sized aggregate, WindowGroupLimit-pruned
    val lw = Window.partitionBy(col("source"))
      .orderBy(col("lc").desc, col("lang"))
    val major = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("lc"))
      .withColumn("rn", row_number().over(lw))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    agg.join(broadcast(major), Seq("source"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_langs"), col("top_lang"), col("min_chars"),
        col("max_chars"), col("mean_chars"), col("n_distinct_texts"),
        col("dup_frac"))
      .orderBy("source")
  }

  /** End-to-end curation funnel — the flagship composition a training-data
    * pipeline runs nightly: keep declared-English documents below a
    * repeated-token ceiling, exact-dedup on text (keep the smallest
    * doc_id, the same survivor rule as [[Dedup.exactDedup]]), then assign
    * deterministic train/val/test splits and report corpus sizes per
    * split. One shuffle total (the dedup group-by on the 16-byte text
    * digest); filters run before it so rejected documents never shuffle.
    */
  def curateCorpus(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val kept = t(s, dir, "documents")
      .filter(col("lang") === "en")
      .filter(size(array_distinct(toks)).cast("double") /
        size(toks).cast("double") > 0.5)
    val deduped = kept
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
    deduped
      .select(hashBucket(col("doc_id")).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split")
  }
}
