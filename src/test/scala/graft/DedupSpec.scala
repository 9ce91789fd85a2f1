package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Dedup pipelines on planted duplicates and on the real test corpus. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = (1 to 60).map(i => s"word$i").mkString(" ")
  // near-dup: ~8% of tokens perturbed
  private val near = ((1 to 55).map(i => s"word$i") ++
    (1 to 5).map(i => s"edit$i")).mkString(" ")
  private val far = (100 to 160).map(i => s"other$i").mkString(" ")

  private def planted = Seq(
    (0L, base, "en", "s0", base.length.toLong),
    (1L, base, "en", "s0", base.length.toLong), // exact dup of 0
    (2L, near, "en", "s0", near.length.toLong), // near dup of 0
    (3L, far, "en", "s0", far.length.toLong))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashCandidates(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("planted corpus on disk: full pipeline keeps singles, drops dups") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_").toString
    planted.write.parquet(s"$dir/documents.parquet")
    val kept = Dedup.minhashDedup(spark, dir, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L) && kept.contains(3L))
    assert(!kept.contains(1L)) // exact dup dropped
    assert(!kept.contains(2L)) // near dup dropped
    val groups = Dedup.exactGroups(spark, dir).collect()
    assert(groups.length === 3) // base, near, far
    assert(groups.map(_.getLong(2)).sum === 4)
    val exact = Dedup.exactDedup(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact === Set(0L, 2L, 3L)) // only the exact dup removed
  }

  test("simhash pairs: exact dup at hamming 0; unrelated docs absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_").toString
    planted.write.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.simhashPairs(spark, dir, maxHamming = 3).collect()
    val zeroPair = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(zeroPair.isDefined && zeroPair.get.getInt(2) === 0)
    assert(!pairs.exists(r => r.getLong(1) == 3L))
  }

  test("ngram jaccard on candidates: exact dup scores 1.0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_").toString
    planted.write.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(spark, dir, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.get((0L, 2L)).forall(_ < 1.0))
  }

  test("real corpus: driver-planted near-duplicates are found") {
    val pairs = Dedup.minhashPairs(spark, TestSpark.sf, threshold = 0.5).count()
    assert(pairs > 0, "expected the synthetic corpus's near-dups to surface")
  }

  test("mega-cluster: the bucket cap bounds the candidate join") {
    import org.apache.spark.sql.functions._
    // a 5000-copy boilerplate cluster — uncapped it alone yields
    // 5000*4999/2 ≈ 12.5M candidate pairs; every one of its band buckets
    // exceeds maxBucket=1000, so the cap must drop them all
    val clones = spark.range(5000)
      .select((col("id") + 100000L).as("doc_id"),
        lit(base).as("text"), lit("en").as("lang"), lit("s0").as("source"),
        lit(base.length.toLong).as("n_chars"))
    val corpus = graft.Tables.load(spark, TestSpark.sf, "documents")
      .unionByName(clones)
    val cands = Dedup.minhashCandidates(corpus)
    val clonePairs = cands
      .filter(col("doc_a") >= 100000L && col("doc_b") >= 100000L).count()
    assert(clonePairs === 0L,
      "capped buckets must contribute zero clone-cluster pairs")
    val total = cands.count()
    assert(total < 100000L, s"candidates stay bucket-bounded, got $total")
    // the mega-cluster is still fully owned by exact-hash grouping
    val g = corpus.groupBy(md5(col("text"))).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(g >= 5000L)
    // simhash path: identical docs share all band keys -> same cap applies
    val simPairs = Dedup.simhashPairsOn(corpus)
      .filter(col("doc_a") >= 100000L && col("doc_b") >= 100000L).count()
    assert(simPairs === 0L, "simhash cap must also bound the clone cluster")
  }

  test("connected components: chains collapse to the min-id cluster") {
    import org.apache.spark.sql.functions.col
    // two components: a 6-node PATH (diameter forces multiple label
    // rounds) and a disjoint pair
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (10L to 15L).foreach(id => assert(got(id) === 10L, s"node $id"))
    assert(got(20L) === 20L && got(21L) === 20L)
  }

  test("cluster dedup: transitive near-dups keep only the cluster min") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_").toString
    planted.write.parquet(s"$dir/documents.parquet")
    // planted: 1 exact-dups 0, 2 near-dups 0 -> one cluster {0,1,2}, keep 0
    val clusters = Dedup.nearDupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(0L) === 0L && clusters(1L) === 0L && clusters(2L) === 0L)
    assert(!clusters.contains(3L), "unrelated doc is no cluster member")
    val kept = Dedup.clusterDedup(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 3L))
  }

  test("planted gates: every pipeline recovers all 10 planted copies exactly") {
    val mh = Dedup.minhashPairsPlanted(spark, TestSpark.sf).collect()
    assert(mh.length === 10)
    mh.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) + Dedup.PlantOffset)
      assert(r.getDouble(2) === 1.0)
    }
    val sh = Dedup.simhashPairsPlanted(spark, TestSpark.sf).collect()
    assert(sh.length === 10 && sh.forall(_.getInt(2) === 0))
    val ng = Dedup.ngramJaccardPlanted(spark, TestSpark.sf).collect()
    assert(ng.length === 10 && ng.forall(_.getDouble(2) === 1.0))
    // dedup over the planted corpus returns exactly the original ids
    val kept = Dedup.minhashDedupPlanted(spark, TestSpark.sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val orig = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === orig)
    // cluster labels are closed-form: originals self-label, copies adopt
    val cl = Dedup.nearDupClustersPlanted(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.size === 20)
    (0L until 10L).foreach { i =>
      assert(cl(i) === i && cl(i + Dedup.PlantOffset) === i)
    }
  }

  test("containment: doubled doc fully contains the original, jaccard < 1") {
    val rows = Dedup.containmentPlanted(spark, TestSpark.sf).collect()
    assert(rows.length === 10)
    assert(rows.forall(_.getAs[Double]("containment_a_in_b") === 1.0))
    assert(rows.forall(_.getAs[Double]("jaccard") < 1.0))
  }

  test("containment pipeline: exact dup pair is mutually contained") {
    val rows = Dedup.containmentPairsOn(planted, 0.8).collect()
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getAs[Double]("containment_a_in_b"),
        r.getAs[Double]("containment_b_in_a"))).toMap
    assert(m.get((0L, 1L)).contains((1.0, 1.0)))
    // the unrelated doc is never contained in anything
    assert(!m.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dup spans: shared 12-token run yields one 12-token span on each " +
      "side, untouched docs report zero") {
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = ((1 to 10).map(i => s"b$i") ++ (1 to 12).map(i => s"a$i"))
      .mkString(" ")
    val c = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
    val rows = Dedup.dupSpansOn(docs, n = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // the 12 shared tokens hold 5 overlapping 8-grams that merge into
    // ONE island covering exactly 12 tokens on each side
    assert(rows(0L) === ((20L, 1L, 12L)))
    assert(rows(1L) === ((22L, 1L, 12L)))
    assert(rows(2L) === ((20L, 0L, 0L)))
  }

  test("dup spans: two separated duplicated runs stay two islands") {
    // doc 1 repeats doc 0's 8-token prefix AND 8-token suffix with an
    // 8-token unique gap between them — islands must NOT merge
    val a = (1 to 30).map(i => s"a$i").mkString(" ")
    val b = ((1 to 8).map(i => s"a$i") ++ (1 to 8).map(i => s"g$i") ++
      (23 to 30).map(i => s"a$i")).mkString(" ")
    val docs = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val rows = Dedup.dupSpansOn(docs, n = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows(0L) === ((2L, 16L)), "doc 0: two 8-token spans")
    assert(rows(1L) === ((2L, 16L)), "doc 1: two 8-token spans")
  }

  test("dup spans planted: grafted prefix flags donor and every planted " +
      "tail; fully-copied originals reach dup_frac 1.0") {
    val rows = Dedup.dupSpansPlanted(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getAs[Double]("dup_frac"))).toMap
    // doc 0's 16-token prefix lives in 5 planted tails -> >= 16 dup tokens
    assert(rows(0L)._2 >= 16L)
    for (i <- 1L to 5L) {
      // original 1..5: full text duplicated by its planted copy
      assert(rows(i)._3 === 1.0, s"doc $i must be fully covered")
      // planted copy: original text + 16-token prefix, all duplicated
      val p = rows(i + Dedup.PlantOffset)
      assert(p._2 >= p._1 - 1,
        s"planted ${i + Dedup.PlantOffset} must be covered to its tail")
    }
  }

  test("incremental dedup: planted batch copies drop through BOTH lanes " +
      "with the right index owner; the natural batch mostly keeps") {
    val rows = Dedup.incrementalDedup(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getAs[String]("verdict"))).toMap
    for (seed <- Seq(0L, 100L, 200L, 300L, 400L)) {
      val (ex, near, verdict) = rows(seed + Dedup.PlantOffset)
      assert(verdict === "drop")
      // owner is the seed itself unless the seed has a lower-id exact
      // twin in the index; either way both lanes agree
      assert(ex.nonEmpty && near.nonEmpty && ex === near)
      assert(ex.get <= seed)
    }
    val naturals = rows.filter(_._1 < Dedup.PlantOffset)
    assert(naturals.values.count(_._3 == "keep") > naturals.size / 2,
      "most of the natural batch slice must survive")
    // lanes always agree at these SFs (no natural 0.99 non-exact pair)
    assert(rows.values.forall(v => v._1 == v._2))
  }

  test("span scrub: first occurrence survives intact, the later exact " +
      "copy is scrubbed to nothing, shared runs cut only on the later side") {
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = ((1 to 10).map(i => s"b$i") ++ (1 to 12).map(i => s"a$i"))
      .mkString(" ")
    val docs = Seq((0L, a), (1L, a), (2L, b)).toDF("doc_id", "text")
    val rows = Dedup.spanScrubOn(docs, n = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[String]("kept_hash"))).toMap
    // doc 0 owns every first occurrence: nothing removed
    assert(rows(0L)._2 === 0L && rows(0L)._3 === 20L)
    // doc 1 is an exact later copy: every token covered, null hash
    assert(rows(1L) === ((20L, 20L, 0L, null)))
    // doc 2: its a1..a12 tail (12 tokens) duplicates doc 0's prefix ->
    // removed; the b-prefix survives
    assert(rows(2L)._2 === 12L && rows(2L)._3 === 10L)
    // surviving content is exactly the b-prefix, verified by hash
    val bOnly = Seq((9L, (1 to 10).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bHash = Dedup.spanScrubOn(bOnly, n = 8).head().getAs[String]("kept_hash")
    assert(rows(2L)._4 === bHash)
  }

  private def words(text: String): Array[String] =
    text.split(" ").filter(_.nonEmpty)

  /** Seeded small corpus with every span shape the kernels merge:
    * overlapping planted runs (a copied run longer than `n`), adjacent
    * (gap 0) and gap-1 copied runs, an exact later copy, natural repeats
    * from a small vocabulary, docs shorter than `n`, and empty docs. Ids
    * are shuffled so "first" is by doc_id, not by row. */
  private def spanCorpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    def fresh(len: Int) = Seq.fill(len)(s"v${rnd.nextInt(12)}")
    val base = Seq.fill(6)(fresh(2 * n + rnd.nextInt(20)))
    def run(len: Int): Seq[String] = {
      val d = base(rnd.nextInt(base.size))
      val at = rnd.nextInt(d.length - len + 1)
      d.slice(at, at + len)
    }
    val planted = Seq(
      fresh(3) ++ run(n + 1 + rnd.nextInt(n)) ++ fresh(2),
      fresh(2) ++ run(n) ++ run(n) ++ fresh(3),
      run(n) ++ fresh(1) ++ run(n),
      base(rnd.nextInt(base.size)),
      fresh(n - 1),
      fresh(1),
      Seq.empty[String],
      Seq.empty[String])
    val texts = (base ++ planted)
      .map(_.mkString(if (rnd.nextBoolean()) " " else "  "))
    rnd.shuffle(texts.indices.map(i => 3L * i + seed)).zip(texts)
  }

  /** Driver-side reference of [[Dedup.spanScrubOn]] and
    * [[Dedup.dupSpansOn]]: per doc, the scrub's (n_tokens, n_removed,
    * n_kept, kept_hash) and the span report's (n_tokens, n_spans,
    * dup_tokens, dup_frac). */
  private def spanReference(docs: Seq[(Long, String)], n: Int) = {
    val toks = docs.map { case (id, t) => id -> words(t) }.sortBy(_._1)
    def grams(w: Array[String]) =
      (0 to w.length - n).map(p => p -> w.slice(p, p + n).toSeq)
    val counts = toks.flatMap(d => grams(d._2).map(_._2))
      .groupBy(identity).map { case (g, v) => g -> v.size }
    val seen = scala.collection.mutable.HashSet[Seq[String]]()
    toks.map { case (id, w) =>
      val removed = scala.collection.mutable.BitSet()
      val dup = scala.collection.mutable.BitSet()
      for ((p, g) <- grams(w)) {
        if (!seen.add(g)) removed ++= p until p + n
        if (counts(g) >= 2) dup ++= p until p + n
      }
      val kept = w.indices.filterNot(removed).map(w(_))
      val hash = if (kept.isEmpty) null else md5Hex(kept.mkString(" "))
      val runs = dup.count(i => !dup.contains(i - 1)).toLong
      val frac =
        if (w.isEmpty) 0.0
        else math.floor(dup.size.toDouble / w.length * 1000000.0) / 1000000.0
      id -> ((w.length.toLong, removed.size.toLong, kept.size.toLong, hash),
        (w.length.toLong, runs, dup.size.toLong, frac))
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("span scrub and dup spans equal a driver-side reference on seeded " +
      "random corpora (overlapping, adjacent, gap-1, exact copies, short)") {
    for (seed <- 1 to 4) {
      val n = 2 + seed % 3
      val docs = spanCorpus(seed, n)
      val ref = spanReference(docs, n)
      val scrub = Dedup.spanScrubOn(docs.toDF("doc_id", "text"), n).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toSeq
      assert(scrub === ref.map(d => d._1 -> d._2._1), s"scrub, seed $seed")
      // empty docs included: their dup_frac is 0.0, not a division error
      assert(docs.exists(d => words(d._2).isEmpty), s"no empty doc, seed $seed")
      val spans = Dedup.dupSpansOn(docs.toDF("doc_id", "text"), n)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toSeq
      assert(spans === ref.map(d => d._1 -> d._2._2), s"dup spans, seed $seed")
    }
  }

  test("sketches are evaluated once per row: no optimized Filter holds " +
      "minhash_band_buckets or word_gram_md5s") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import graft.functions.{MinHashBandBuckets, WordGramMd5s}
    val isSketch: Expression => Boolean = {
      case _: MinHashBandBuckets | _: WordGramMd5s => true
      case _ => false
    }
    // a scanned frame: over a local Seq the optimizer folds the sketches
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    for (df <- Seq(Dedup.bandIndex(docs, 64, 16), Dedup.spanScrubOn(docs, 8))) {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.exists(_.expressions.exists(_.exists(isSketch))))
      val filters = plan.collect { case f: Filter => f.condition }
        .filter(_.exists(isSketch))
      assert(filters.isEmpty, s"sketch re-evaluated in $filters")
    }
  }

  test("span scrub plans no checkpoint scan and at most 3 shuffle exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scrub_").toString
    Seq((0L, "a b c d e f"), (1L, "x a b c d y"), (2L, "a b"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val df = Dedup.spanScrub(spark, dir, n = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Scan ExistingRDD"), plan)
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(shuffles <= 3, s"$shuffles shuffle exchanges:\n$plan")
  }

  test("winnowing: identical docs collide on fp_digest, selection is " +
      "bounded by the window count, short docs zero out") {
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val c = (100 to 140).map(i => s"x$i").mkString(" ")
    val docs = Seq((0L, a), (1L, a), (2L, c), (3L, "t1 t2 t3 t4 t5"))
      .toDF("doc_id", "text")
    val rows = Dedup.winnowFingerprintsOn(docs, n = 4, w = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getAs[Double]("density"), r.getAs[String]("fp_digest"))).toMap
    assert(rows(0L)._4 === rows(1L)._4, "identical docs -> identical digest")
    assert(rows(0L)._4 !== rows(2L)._4, "different docs -> different digest")
    for (id <- Seq(0L, 1L, 2L)) {
      val (nw, nfp, dens, _) = rows(id)
      assert(nfp >= 1 && nfp <= nw, s"doc $id: 1 <= n_fp <= n_windows")
      assert(dens > 0.0 && dens <= 1.0)
    }
    // 5 tokens: grams exist (5 >= n) but no full 4-window -> zeroed
    assert(rows(3L) === ((0L, 0L, 0.0, null)))
  }

  test("winnowing guarantee: a shared run of w+n-1 tokens shares at " +
      "least one selected fingerprint; disjoint docs share none") {
    // docs share EXACTLY a 7-token run (w+n-1 with n=4, w=4); everything
    // else differs, so any selection overlap must come from the run
    val shared = (1 to 7).map(i => s"s$i").mkString(" ")
    val a = (1 to 20).map(i => s"a$i").mkString(" ") + " " + shared
    val b = shared + " " + (1 to 20).map(i => s"b$i").mkString(" ")
    val c = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
    val sel = Dedup.winnowSelections(docs, n = 4, w = 4).collect()
      .groupBy(_.getLong(0)).map { case (k, v) =>
        k -> v.map(_.getLong(1)).toSet }
    assert((sel(0L) & sel(1L)).nonEmpty,
      "shared 7-token run must surface in both selections")
    assert((sel(0L) & sel(2L)).isEmpty && (sel(1L) & sel(2L)).isEmpty,
      "no token overlap -> no fingerprint overlap")
  }

  test("edit verify: Spark's levenshtein equals an independent DP and " +
      "the planted mutation distances land on their closed forms") {
    // independent reference DP (classic two-row Wagner–Fischer)
    def lev(a: String, b: String): Int = {
      var prev = (0 to b.length).toArray
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 10)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Dedup.editVerifyPlanted(spark, TestSpark.sf).collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val a = docs(r.getLong(0))
      val b = r.getLong(0) % 3 match {
        case 0 => "xx " + a
        case 1 => a.substring(math.min(5, a.length))
        case _ => a.replace('a', 'o')
      }
      val d = r.getInt(2)
      assert(d === lev(a, b), s"doc ${r.getLong(0)}: engine DP diverges")
      // closed forms where they exist: pure insertion / pure deletion
      // mutations cost exactly the length delta
      if (r.getLong(0) % 3 == 0) assert(d === 3)
      if (r.getLong(0) % 3 == 1) assert(d === math.min(5, a.length))
      val sim = r.getDouble(3)
      assert(sim <= 1.0 && sim >= 0.0)
      assert(r.getBoolean(4) === (sim >= 0.9))
    }
  }

  test("minhash estimator: exact on planted identicals, statistically " +
      "tight on natural candidate pairs (k=64 => stderr <= 1/16)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{SketchExpressions => SE, TextFunctions => TF}
    val gate = Dedup.minhashEstGate(spark, TestSpark.sf).collect()
    assert(gate.length === 10)
    gate.foreach { r =>
      assert(r.getDouble(2) === 1.0 && r.getDouble(3) === 1.0 &&
        r.getBoolean(4))
    }
    // natural pairs: estimate vs exact on the LSH candidate set — the
    // probabilistic regime the banding math actually depends on
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val sigged = docs.select(col("doc_id"),
      SE.minhash(SE.wordShingles(TF.tokens(col("text"))), 64).as("sig"),
      SE.wordShingles(TF.tokens(col("text"))).as("sh"))
    val errs = Dedup.minhashCandidates(docs)
      .join(sigged.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sigged.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(abs(
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), p => p)).cast("double") / lit(64.0) -
          TF.jaccard(col("sh_a"), col("sh_b"))).as("err"))
      .collect().map(_.getDouble(0))
    assert(errs.nonEmpty, "natural candidate pairs must exist")
    val mean = errs.sum / errs.length
    assert(mean <= 0.12, f"mean |est-exact| $mean%.3f exceeds 2x stderr")
    assert(errs.max <= 0.45, f"worst-case error ${errs.max}%.3f too large")
  }

  test("candidate volume: banding keeps candidates a small all-pairs fraction") {
    val row = Dedup.minhashCandidateVolume(spark, TestSpark.sf).head()
    val (nDocs, nCand, nAll, frac) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    assert(nAll === nDocs * (nDocs - 1) / 2)
    assert(nCand < nAll / 10,
      s"candidates must be <10% of all-pairs, got $nCand of $nAll ($frac)")
  }

  test("cross-source dup matrix equals an independent recount of the " +
      "planted construction") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val all = docs ++ docs.filter(_._1 % 50 == 11)
      .map { case (id, _, h) => (id + Dedup.PlantOffset, "src0", h) }
    val byHash = all.groupBy(_._3).values.filter(_.length > 1).toSeq
    val expect = byHash.flatMap { g =>
      for {
        a <- g.toSeq; b <- g.toSeq
        if a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)
      } yield ((a._2, b._2), a._3)
    }.groupBy(_._1)
      .map { case (k, vs) => k -> ((vs.size.toLong, vs.map(_._2).distinct.size.toLong)) }
    val got = Dedup.crossSourceDups(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === expect)
    assert(got.nonEmpty, "the plant must create at least one pair")
  }
}
