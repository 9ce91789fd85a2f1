package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.store.ManifestStore

/** Contract spec for the versioned-manifest store, the one commit
  * protocol of every maintained table and ANN index. Its claims each
  * get a direct test:
  *
  *  - NO mid-swap window: a scan resolved BEFORE a commit collects the
  *    identical rows AFTER it — published data never moves;
  *  - crash-atomicity with NO healing protocol at all: a pre-commit
  *    crash leaves readers on the old version (orphan segment
  *    invisible), a post-commit crash is simply durable — for random
  *    op mixes over two tables too (the seeded kill property);
  *  - TIME TRAVEL: every retained version stays readable;
  *  - MANIFEST-LEVEL pruning: a parts-filtered read scans only the
  *    named partitions' leaf dirs (asserted on `inputFiles`).
  *
  * Plus the shared maintenance contracts: upsert == rebuild,
  * upsertById re-delivery idempotence, empty-batch no-op, crashed
  * writer's lease stolen by the next writer, vacuum retention. */
class ManifestStoreSpec extends AnyFunSuite with SuiteTempDirs {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def tempDir(tag: String): String = suiteTempDir(tag) + "/store"

  /** Small typed fixture: (id, part, payload). Deterministic. */
  private def rows(ids: Range, tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, i % 4, s"$tag-$i")).toDF("id", "part", "v")
  }

  private def contents(df: DataFrame): Set[(Long, Int, String)] =
    df.select("id", "part", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet

  test("create + read roundtrip; version 1") {
    val root = tempDir("mf-roundtrip")
    val base = rows(0 until 40, "a")
    assert(ManifestStore.create(spark, root, base, "part") === 1L)
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    assert(contents(ManifestStore.read(spark, root)) === contents(base))
    // the partition column survives as a DATA column (the layout
    // duplicate is the hive dir; `part` itself rides in the files)
    assert(ManifestStore.read(spark, root).columns.toSet
      === Set("id", "part", "v"))
    // the recorded schema is the one spark.read.parquet infers from the
    // entry's files, for every column type the contract stores
    import spark.implicits._
    val typed = Seq(
      ("a", Seq(1.5f, 2f), java.sql.Date.valueOf("2026-01-02"),
        BigDecimal("12.345")),
      ("b", Seq(0f), java.sql.Date.valueOf("2026-03-04"),
        BigDecimal("-1.000")))
      .toDF("k", "emb", "day", "amt")
      .withColumn("amt", col("amt").cast("decimal(12,3)"))
    val root2 = tempDir("mf-schema")
    ManifestStore.createTables(spark, root2, Seq(
      (ManifestStore.TableDef("keyed", "k"), typed),
      (ManifestStore.TableDef("app", ""), typed)))
    Seq("keyed", "app").foreach { t =>
      ManifestStore.tableEntries(spark, root2, t).foreach { e =>
        assert(e.schema === spark.read.parquet(s"$root2/${e.dir}").schema,
          s"$t ${e.dir}")
      }
    }
  }

  test("upsert == rebuild; untouched segment files never rewritten") {
    val root = tempDir("mf-upsert")
    val base = rows(0 until 40, "a")
    ManifestStore.create(spark, root, base, "part")
    val before = inventory(root)
    val batch = rows(40 until 60, "b") // parts 0..3 — all touched
    val touched = ManifestStore.upsertPartitions(
      spark, root, batch, "part")
    assert(touched === Seq("0", "1", "2", "3"))
    assert(ManifestStore.currentVersion(spark, root) === Some(2L))
    assert(contents(ManifestStore.read(spark, root))
      === contents(base.unionByName(batch)))
    // every file present at v1 is byte-identical after the commit —
    // immutability is the protocol, not a best effort
    val after = inventory(root)
    before.filterNot(_._1.startsWith("_")).foreach { case (rel, sig) =>
      assert(after.get(rel) === Some(sig), s"v1 file $rel was mutated")
    }
  }

  test("partially-touched upsert keeps untouched entries by reference") {
    val root = tempDir("mf-partial")
    ManifestStore.create(spark, root, rows(0 until 40, "a"), "part")
    import spark.implicits._
    val batch = Seq((100L, 2, "x-100")).toDF("id", "part", "v")
    assert(ManifestStore.upsertPartitions(spark, root, batch, "part")
      === Seq("2"))
    val got = contents(ManifestStore.read(spark, root))
    assert(got === contents(rows(0 until 40, "a")) + ((100L, 2, "x-100")))
  }

  test("no mid-swap window: a pre-commit scan is stable through a commit") {
    val root = tempDir("mf-snapshot")
    val base = rows(0 until 40, "a")
    ManifestStore.create(spark, root, base, "part")
    val inflight = ManifestStore.read(spark, root) // paths resolved NOW
    ManifestStore.upsertPartitions(spark, root,
      rows(40 until 80, "b"), "part")
    // the commit landed (current reader sees it)...
    assert(contents(ManifestStore.read(spark, root)).size === 80)
    // ...and the in-flight scan still collects exactly the old snapshot
    // — nothing it resolved was moved or deleted by the commit
    assert(contents(inflight) === contents(base))
  }

  test("time travel: every retained version readable; bad version loud") {
    val root = tempDir("mf-travel")
    val base = rows(0 until 20, "a")
    ManifestStore.create(spark, root, base, "part")
    ManifestStore.upsertPartitions(spark, root, rows(20 until 30, "b"), "part")
    ManifestStore.upsertPartitions(spark, root, rows(30 until 40, "c"), "part")
    assert(ManifestStore.versions(spark, root) === Seq(1L, 2L, 3L))
    assert(contents(ManifestStore.read(spark, root, version = Some(1L)))
      === contents(base))
    assert(contents(ManifestStore.read(spark, root, version = Some(2L)))
      === contents(base.unionByName(rows(20 until 30, "b"))))
    val e = intercept[IllegalArgumentException] {
      ManifestStore.read(spark, root, version = Some(9L))
    }
    assert(e.getMessage.contains("not retained"))
    // two reads of one version are the same plan (shared caches and
    // reused exchanges); reads of different versions are not
    def v(n: Long) = ManifestStore.read(spark, root, version = Some(n))
    assert(v(2L).sameSemantics(v(2L)))
    assert(!v(2L).sameSemantics(v(3L)))
  }

  test("upsertById: re-delivered batch is content-idempotent") {
    val root = tempDir("mf-redeliver")
    ManifestStore.create(spark, root, rows(0 until 40, "a"), "part")
    val batch = rows(10 until 20, "NEW") // overwrites ids 10..19
    ManifestStore.upsertPartitions(spark, root, batch, "part",
      idCol = Some("id"))
    val once = contents(ManifestStore.read(spark, root))
    assert(once.size === 40) // replaced, not duplicated
    assert(once.count(_._3.startsWith("NEW")) === 10)
    ManifestStore.upsertPartitions(spark, root, batch, "part",
      idCol = Some("id")) // replay
    assert(contents(ManifestStore.read(spark, root)) === once)
  }

  test("empty batch: no version bump, no transaction") {
    val root = tempDir("mf-empty")
    ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    val empty = rows(0 until 8, "a").filter(lit(false))
    assert(ManifestStore.upsertPartitions(spark, root, empty, "part")
      === Seq.empty)
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
  }

  test("crash before manifest publish: readers keep the old version; " +
      "vacuum reaps the orphan segment") {
    val root = tempDir("mf-crash-staged")
    val base = rows(0 until 40, "a")
    ManifestStore.create(spark, root, base, "part")
    ManifestStore.killPoint = p =>
      if (p == "staged") throw new RuntimeException("kill@staged")
    try intercept[RuntimeException] {
      ManifestStore.upsertPartitions(spark, root,
        rows(40 until 60, "b"), "part")
    } finally ManifestStore.killPoint = _ => ()
    // no healing protocol, nothing to recover: the reader just reads
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    assert(contents(ManifestStore.read(spark, root)) === contents(base))
    // the orphan segment is on disk but unreferenced…
    val segs = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "seg")).count()
    assert(segs === 2) // v1's segment + the orphan
    // …and vacuum (under the writer lease, so "unreferenced" = dead)
    // reaps it without touching the live version
    val deleted = ManifestStore.vacuum(spark, root, keepLast = 1)
    assert(deleted.nonEmpty)
    assert(contents(ManifestStore.read(spark, root)) === contents(base))
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "seg")).count() === 1)
  }

  test("crash after manifest publish: the commit is simply durable") {
    val root = tempDir("mf-crash-committed")
    val base = rows(0 until 40, "a")
    ManifestStore.create(spark, root, base, "part")
    ManifestStore.killPoint = p =>
      if (p == "committed") throw new RuntimeException("kill@committed")
    try intercept[RuntimeException] {
      ManifestStore.upsertPartitions(spark, root,
        rows(40 until 60, "b"), "part")
    } finally ManifestStore.killPoint = _ => ()
    assert(ManifestStore.currentVersion(spark, root) === Some(2L))
    assert(contents(ManifestStore.read(spark, root))
      === contents(base.unionByName(rows(40 until 60, "b"))))
  }

  test("crashed writer's expired lease is stolen by the next writer") {
    val root = tempDir("mf-lease-steal")
    ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    // model a crashed writer: a lease file nobody will release,
    // backdated past WriterLeaseMs so it is steal-eligible
    val lock = java.nio.file.Paths.get(root, ManifestStore.WriterLockName)
    java.nio.file.Files.write(lock, "dead-writer".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ManifestStore.WriterLeaseMs - 60000))
    ManifestStore.upsertPartitions(spark, root, rows(8 until 12, "b"), "part")
    assert(contents(ManifestStore.read(spark, root)).size === 12)
    assert(!java.nio.file.Files.exists(lock)) // released by the thief
  }

  test("a live lease blocks a second writer loudly past the wait bound") {
    val root = tempDir("mf-lease-busy")
    ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    val lock = java.nio.file.Paths.get(root, ManifestStore.WriterLockName)
    java.nio.file.Files.write(lock, "live-writer".getBytes("UTF-8"))
    val oldWait = ManifestStore.WriterWaitMs
    ManifestStore.WriterWaitMs = 250
    try {
      val e = intercept[IllegalStateException] {
        ManifestStore.upsertPartitions(spark, root,
          rows(8 until 12, "b"), "part")
      }
      assert(e.getMessage.contains("busy"))
    } finally {
      ManifestStore.WriterWaitMs = oldWait
      java.nio.file.Files.deleteIfExists(lock)
    }
  }

  test("concurrent writers serialize on the lease; both batches land") {
    val root = tempDir("mf-concurrent")
    ManifestStore.create(spark, root, rows(0 until 20, "a"), "part")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(ManifestStore.upsertPartitions(spark, root,
      rows(20 until 30, "b"), "part", idCol = Some("id")))
    val f2 = Future(ManifestStore.upsertPartitions(spark, root,
      rows(30 until 40, "c"), "part", idCol = Some("id")))
    Await.result(f1, 120.seconds); Await.result(f2, 120.seconds)
    assert(ManifestStore.currentVersion(spark, root) === Some(3L))
    assert(contents(ManifestStore.read(spark, root)) === contents(
      rows(0 until 20, "a").unionByName(rows(20 until 30, "b"))
        .unionByName(rows(30 until 40, "c"))))
  }

  test("a NonFatal failure in the plan closure releases the writer " +
      "lease at once") {
    val root = tempDir("mf-fail-release")
    ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    val e = intercept[RuntimeException] {
      ManifestStore.commitTables(spark, root) {
        throw new RuntimeException("transient")
      }
    }
    assert(e.getMessage === "transient")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, ManifestStore.WriterLockName)))
    // a second writer with a 250 ms wait bound commits: it never waits
    // out the failed writer's lease term
    val oldWait = ManifestStore.WriterWaitMs
    ManifestStore.WriterWaitMs = 250
    try ManifestStore.upsertPartitions(spark, root, rows(8 until 12, "b"),
      "part")
    finally ManifestStore.WriterWaitMs = oldWait
    assert(ManifestStore.currentVersion(spark, root) === Some(2L))
    assert(contents(ManifestStore.read(spark, root)).size === 12)
  }

  /** One random commit of the kill property: an optional op on the
    * keyed table `p` and an optional Append to the append-only `a`. */
  private case class KillStep(op: String, pRows: List[(Long, Int, String)],
      aRows: List[(Long, Int, String)], killAt: String)

  private def killSteps(n: Int, seed: Long): List[KillStep] = {
    val row = for {
      id <- Gen.choose(0L, 15L)
      part <- Gen.choose(0, 3)
      tag <- Gen.oneOf("x", "y", "z")
    } yield (id, part, s"$tag$id")
    val step = for {
      op <- Gen.oneOf("upsert", "upsertById", "replace", "deleteKeys",
        "none")
      nP <- Gen.choose(1, 4)
      pRows <- Gen.listOfN(nP, row)
      nA <- Gen.choose(0, 3)
      aRows <- Gen.listOfN(nA, row)
      killAt <- Gen.oneOf("staged", "committed", "none")
    } yield KillStep(op, pRows, aRows, killAt)
    Gen.listOfN(n, step).pureApply(Gen.Parameters.default, Seed(seed))
  }

  test("random two-table commits killed mid-commit leave old or new " +
      "state") {
    // killed at "staged": readers see exactly the old state; killed at
    // "committed": exactly the modelled new one; the next commit lands
    // on top of that state
    import spark.implicits._
    type R = (Long, Int, String)
    val root = tempDir("mf-kill-property")
    val p0 = (0 until 12).map(i => (i.toLong, i % 4, s"p$i")).toList
    ManifestStore.createTables(spark, root, Seq(
      (ManifestStore.TableDef("p", "part"), p0.toDF("id", "part", "v")),
      (ManifestStore.TableDef("a", ""), Seq((0L, 0, "a0"))
        .toDF("id", "part", "v"))))
    def read(t: String): List[R] = ManifestStore.readTable(spark, root, t)
      .select("id", "part", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toList.sorted
    // the in-memory model of each op, over the touched partitions only
    def applyP(live: List[R], st: KillStep): List[R] = {
      val keys = st.pRows.map(_._2).toSet
      st.op match {
        case "upsert" => live ++ st.pRows
        case "upsertById" =>
          val ids = st.pRows.map(_._1).toSet
          live.filterNot(r => keys(r._2) && ids(r._1)) ++ st.pRows
        case "replace" => live.filterNot(r => keys(r._2)) ++ st.pRows
        case "deleteKeys" => live.filterNot(r => keys(r._2))
        case "none" => live
      }
    }
    var model = (p0.sorted, List[R]((0L, 0, "a0")))
    var version = 1L
    var kills = Map("staged" -> 0, "committed" -> 0)
    val t0 = System.nanoTime()
    killSteps(24, seed = 20261018L).zipWithIndex.foreach { case (st, i) =>
      val pDf = st.pRows.toDF("id", "part", "v")
      val ops = (st.op match {
        case "upsert" => Some(ManifestStore.Upsert("p", pDf))
        case "upsertById" =>
          Some(ManifestStore.Upsert("p", pDf, idCol = Some("id")))
        case "replace" => Some(ManifestStore.Replace("p", pDf))
        case "deleteKeys" => Some(ManifestStore.DeleteKeys("p",
          st.pRows.map(_._2.toString).distinct))
        case _ => None
      }).toSeq ++ (if (st.aRows.isEmpty) Nil
        else Seq(ManifestStore.Append("a", st.aRows.toDF("id", "part", "v"))))
      ManifestStore.killPoint = ev =>
        if (ev == st.killAt) throw new RuntimeException(s"KILLED@$ev")
      val killed =
        try { ManifestStore.commitTables(spark, root)(ops); None }
        catch {
          case e: RuntimeException if e.getMessage.startsWith("KILLED@") =>
            Some(st.killAt)
        } finally ManifestStore.killPoint = _ => ()
      val keys = st.pRows.map(_._2).toSet
      val commits = st.aRows.nonEmpty || (st.op match {
        case "none" => false
        case "deleteKeys" => model._1.exists(r => keys(r._2))
        case _ => true
      })
      if (killed.contains("staged")) {
        // readers keep exactly the old version
        assert(ManifestStore.currentVersion(spark, root) === Some(version),
          s"step $i: $st")
      } else {
        model = (applyP(model._1, st).sorted, (model._2 ++ st.aRows).sorted)
        if (commits) version += 1
        assert(ManifestStore.currentVersion(spark, root) === Some(version),
          s"step $i: $st")
      }
      assert(killed.isEmpty || commits, s"step $i: a no-op commit was killed")
      killed.foreach(k => kills += k -> (kills(k) + 1))
      // the next step's commit lands on top of exactly this state
      assert((read("p"), read("a")) === model, s"step $i: $st")
    }
    assert(kills("staged") >= 3 && kills("committed") >= 3,
      s"property exercised too few kills: $kills")
    assert((System.nanoTime() - t0) / 1e9 < 60.0,
      "the kill property must stay inside 60 s")
  }

  test("an empty arriving batch commits nothing on all three index " +
      "facades") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 3)
    val none = emb.filter(col("vec_id") < 0)
    val cents = Similarity.collectCentroids(
      Similarity.labelCentroids(spark, sf), "label")
    val cb = Similarity.pqCodebooks(spark, sf)
    val lsh = tempDir("mf-empty-lsh")
    Similarity.buildLshIndex(spark, base, lsh)
    val ivf = tempDir("mf-empty-ivf")
    Similarity.buildIvfIndex(spark, ivf, base.select(col("vec_id"),
      col("embedding"),
      Similarity.argmaxOver(cents).getField("cluster").as("cell")))
    val pq = tempDir("mf-empty-pq")
    Similarity.buildIvfPqIndex(spark, base, cents, cb, pq)
    val before = Seq(lsh, ivf, pq).map(inventory)
    assert(Similarity.maintainLshIndex(spark, lsh, none,
      upsertById = true) === Seq.empty)
    assert(Similarity.maintainIvfIndex(spark, ivf, none, cents,
      upsertById = true) === Seq.empty)
    assert(Similarity.maintainIvfPqIndex(spark, pq, none, cents, cb)
      === Seq.empty)
    Seq(lsh, ivf, pq).foreach(r =>
      assert(ManifestStore.currentVersion(spark, r) === Some(1L), r))
    assert(Seq(lsh, ivf, pq).map(inventory) === before,
      "an empty batch must leave every store byte-identical")
  }

  test("manifest-level pruning: only the named partitions' dirs scan") {
    val root = tempDir("mf-prune")
    ManifestStore.create(spark, root, rows(0 until 40, "a"), "part")
    ManifestStore.upsertPartitions(spark, root,
      rows(40 until 50, "b"), "part")
    val pruned = ManifestStore.read(spark, root, parts = Some(Seq("2")))
    assert(contents(pruned) ===
      contents(rows(0 until 50, "a").filter(col("part") === 2))
        .map { case (id, p, _) =>
          (id, p, if (id >= 40) s"b-$id" else s"a-$id") })
    // the scan's input files live ONLY under part=2 leaf dirs — the
    // pruning happened in driver-side manifest metadata, before Spark
    // ever listed a path
    val files = pruned.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains("part__p=2")), files.mkString("\n"))
    val allFiles = ManifestStore.read(spark, root).inputFiles
    assert(files.length < allFiles.length)
    // pruned-to-nothing: empty frame, schema intact
    val none = ManifestStore.read(spark, root, parts = Some(Seq("99")))
    assert(none.count() === 0)
    assert(none.columns.toSet === Set("id", "part", "v"))
  }

  test("vacuum: retention horizon; old versions unreadable, current intact") {
    val root = tempDir("mf-vacuum")
    val base = rows(0 until 20, "a")
    ManifestStore.create(spark, root, base, "part")
    ManifestStore.upsertPartitions(spark, root, rows(20 until 30, "b"), "part")
    ManifestStore.upsertPartitions(spark, root, rows(30 until 40, "c"), "part")
    val current = contents(ManifestStore.read(spark, root))
    val deleted = ManifestStore.vacuum(spark, root, keepLast = 1)
    assert(deleted.exists(_.endsWith("v00000001.mf")))
    assert(ManifestStore.versions(spark, root) === Seq(3L))
    assert(contents(ManifestStore.read(spark, root)) === current)
    intercept[IllegalArgumentException] {
      ManifestStore.read(spark, root, version = Some(1L))
    }
    // vacuum keeps PARTIALLY-referenced old segments' live leaves: the
    // kept manifest may reference v1-era leaf dirs for untouched parts
    val kept = ManifestStore.read(spark, root).inputFiles
    assert(kept.nonEmpty) // every referenced file still resolves
  }

  test("create refuses an initialized root; keyed-column mismatch loud") {
    val root = tempDir("mf-guard")
    ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    val e1 = intercept[ManifestStore.AlreadyInitializedException] {
      ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    }
    assert(e1.getMessage.contains("already initialized"))
    import spark.implicits._
    val wrong = Seq((1L, 0, "x")).toDF("id", "other", "v")
    val e2 = intercept[IllegalArgumentException] {
      ManifestStore.upsertPartitions(spark, root, wrong, "other")
    }
    assert(e2.getMessage.contains("keyed by"))
  }

  // ---- multi-table commits (the LSH postings+vectors shape) ----

  /** Two-table fixture: a partitioned "postings" table (composite `bb`
    * key — also the LSH index's earlier postings layout) and an
    * append-only "vectors" table. */
  private def twoTableStore(root: String): Unit = {
    import spark.implicits._
    val postings = (0 until 24)
      .map(i => (i.toLong, i % 3, i % 2, s"${i % 3}_${i % 2}"))
      .toDF("vec_id", "band", "bucket", "bb")
    val vectors = (0 until 8).map(i => (i.toLong, Seq.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    ManifestStore.createTables(spark, root, Seq(
      (ManifestStore.TableDef("postings", "bb"), postings),
      (ManifestStore.TableDef("vectors", ""), vectors)))
  }

  test("multi-table: create + per-table reads; pruning by composite " +
      "key rendering") {
    val root = tempDir("mf-multi")
    twoTableStore(root)
    val p = ManifestStore.readTable(spark, root, "postings")
    assert(p.columns.toSet === Set("vec_id", "band", "bucket", "bb"))
    assert(p.count() === 24)
    val v = ManifestStore.readTable(spark, root, "vectors")
    assert(v.columns.toSet === Set("vec_id", "embedding"))
    assert(v.count() === 8)
    // pruning by the composite rendering still works (manifest keys)
    val pruned = ManifestStore.readTable(spark, root, "postings",
      parts = Some(Seq("1_0")))
    assert(pruned.count() === 4) // i%3==1 && i%2==0: 4,10,16,22
    assert(pruned.inputFiles.forall(_.contains("bb__p=1_0")))
  }

  test("multi-table commit is atomic: kill before the manifest leaves " +
      "BOTH tables old; after, both new") {
    import spark.implicits._
    val root = tempDir("mf-multi-atomic")
    // the postings key (`bb`) kept in the data files, so an Upsert can
    // read its live partition back and merge it
    val postings = (0 until 24)
      .map(i => (i.toLong, i % 3, i % 2, s"${i % 3}_${i % 2}"))
      .toDF("vec_id", "band", "bucket", "bb")
    val vectors = (0 until 8).map(i => (i.toLong, Seq.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    ManifestStore.createTables(spark, root, Seq(
      (ManifestStore.TableDef("postings", "bb"), postings),
      (ManifestStore.TableDef("vectors", ""), vectors)))
    def batchOps() = Seq(
      ManifestStore.Upsert("postings",
        Seq((100L, 0, 0, "0_0")).toDF("vec_id", "band", "bucket", "bb")),
      ManifestStore.Append("vectors",
        Seq((100L, Seq.fill(4)(9f))).toDF("vec_id", "embedding")))
    ManifestStore.killPoint = p =>
      if (p == "staged") throw new RuntimeException("kill@staged")
    try intercept[RuntimeException] {
      ManifestStore.commitTables(spark, root)(batchOps())
    } finally ManifestStore.killPoint = _ => ()
    // NEITHER table moved — the mixed postings-new/vectors-old state
    // is structurally impossible: there is only one commit point
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    assert(ManifestStore.readTable(spark, root, "postings").count() === 24)
    assert(ManifestStore.readTable(spark, root, "vectors").count() === 8)
    val touched = ManifestStore.commitTables(spark, root)(batchOps())
    assert(touched === Map("postings" -> Seq("0_0")))
    assert(ManifestStore.readTable(spark, root, "postings")
      .filter(col("vec_id") === 100L).count() === 1)
    assert(ManifestStore.readTable(spark, root, "vectors")
      .filter(col("vec_id") === 100L).count() === 1)
    // the untouched 0_0-external postings survive; 0_0 was merged
    assert(ManifestStore.readTable(spark, root, "postings").count() === 25)
  }

  test("multi-table: op-kind mismatches fail loudly; unknown table too") {
    import spark.implicits._
    val root = tempDir("mf-multi-guard")
    twoTableStore(root)
    val pdf = Seq((1L, 0, 0, "0_0")).toDF("vec_id", "band", "bucket", "bb")
    val e1 = intercept[IllegalArgumentException] {
      ManifestStore.commitTables(spark, root)(
        Seq(ManifestStore.Upsert("vectors", pdf)))
    }
    assert(e1.getMessage.contains("append-only"))
    val e2 = intercept[IllegalArgumentException] {
      ManifestStore.commitTables(spark, root)(
        Seq(ManifestStore.Append("postings", pdf)))
    }
    assert(e2.getMessage.contains("partitioned"))
    val e3 = intercept[IllegalArgumentException] {
      ManifestStore.commitTables(spark, root)(
        Seq(ManifestStore.Append("nope", pdf)))
    }
    assert(e3.getMessage.contains("no table"))
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
  }

  test("maintainLshIndex: a replayed batch is a no-op under upsertById") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 3)
    val arriving = emb.filter(col("vec_id") % 10 === 3)
    val root = tempDir("mf-lsh-replay")
    graft.operators.Similarity.buildLshIndex(spark, base, root)
    val t1 = graft.operators.Similarity
      .maintainLshIndex(spark, root, arriving, upsertById = true)
    assert(t1.nonEmpty)
    val postings1 = contents3(ManifestStore
      .readTable(spark, root, "postings"))
    val vecIds1 = ManifestStore.readTable(spark, root, "vectors")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    // replay the SAME batch — the anti-join inside the lease-guarded
    // planning closure drops every row; nothing commits
    val t2 = graft.operators.Similarity
      .maintainLshIndex(spark, root, arriving, upsertById = true)
    assert(t2.isEmpty)
    assert(contents3(ManifestStore.readTable(spark, root, "postings"))
      === postings1)
    assert(ManifestStore.readTable(spark, root, "vectors")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      === vecIds1)
    // and no duplicate vec_ids snuck into the vector store
    assert(vecIds1.distinct.size === vecIds1.size)
  }

  private def contents3(df: DataFrame): Set[(Long, Int, Int)] =
    df.select("vec_id", "band", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  test("lshCompactManifestPlanted: compaction == rebuild, copies at rank 1") {
    val got = graft.operators.Similarity
      .lshCompactManifestPlanted(spark, sf).collect()
    assert(got.length === 5)
    got.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) + graft.operators.Dedup.PlantOffset)
      assert(r.getInt(2) === 1)
      assert(r.getBoolean(3), s"planted copy not exact at q=${r.getLong(0)}")
      assert(r.getBoolean(4), s"manifest compaction != rebuild at q=${r.getLong(0)}")
    }
  }

  test("LSH postings are append-only: a commit adds one postings entry " +
      "holding only the batch's postings and one vectors entry, carries " +
      "every earlier entry over, and returns the batch's (band, bucket) " +
      "signatures") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val isBatch = col("vec_id") % 10 === 3
    val root = tempDir("mf-lsh-append")
    Similarity.buildLshIndex(spark, emb.filter(!isBatch), root)
    def dirs(table: String) =
      ManifestStore.tableEntries(spark, root, table).map(_.dir)
    val built = Seq("postings", "vectors").map(t => t -> dirs(t)).toMap
    assert(built("postings").size === 1)
    val pairs = Similarity.maintainLshIndex(spark, root, emb.filter(isBatch))
    // per table: every earlier entry carried over by the same dir, plus
    // exactly one new entry
    val added = Seq("postings", "vectors").map { t =>
      val after = dirs(t)
      assert(built(t).toSet.subsetOf(after.toSet), t)
      assert(after.size === built(t).size + 1, t)
      t -> after.filterNot(built(t).contains).head
    }.toMap
    // the new postings entry holds the batch's postings and nothing
    // else: batch × bands rows, the commit's whole postings write
    val batchIds = emb.filter(isBatch).select("vec_id")
    val batch = batchIds.collect().map(_.getLong(0)).toSet
    val newPostings = spark.read.parquet(s"$root/${added("postings")}")
      .select("vec_id").collect().map(_.getLong(0))
    assert(newPostings.length === batch.size * 8)
    assert(newPostings.toSet === batch)
    val expected = ManifestStore.readTable(spark, root, "postings")
      .join(batchIds, Seq("vec_id"))
      .select("band", "bucket").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    assert(pairs.nonEmpty)
    assert(pairs === expected)
  }

  test("maintainLshIndex job budget: a batch commits in at most 6 jobs, " +
      "a re-delivered one runs only its pairs collect, and a probe frame " +
      "builds with none") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val isBatch = col("vec_id") % 10 === 3
    val root = tempDir("mf-lsh-budget")
    Similarity.buildLshIndex(spark, emb.filter(!isBatch), root)
    // each SQL action runs as one execution: the pairs collect is one,
    // and each append's write is one more
    def executions(jobs: Seq[java.util.Properties]) =
      jobs.map(_.getProperty("spark.sql.execution.id")).distinct
    val (pairs, jobs) = JobWatch.during(spark, "lsh-maintain-budget") {
      Similarity.maintainLshIndex(spark, root, emb.filter(isBatch),
        upsertById = true)
    }
    assert(pairs.nonEmpty)
    assert(jobs.size <= 6, s"the commit submitted ${jobs.size} jobs")
    assert(executions(jobs).size === 3,
      "one pairs collect and two append writes, nothing else")
    val (again, replayJobs) = JobWatch.during(spark, "lsh-replay-budget") {
      Similarity.maintainLshIndex(spark, root, emb.filter(isBatch),
        upsertById = true)
    }
    assert(again.isEmpty)
    assert(ManifestStore.currentVersion(spark, root) === Some(2L))
    assert(replayJobs.nonEmpty && executions(replayJobs).size === 1,
      s"a re-delivered batch must run its pairs collect and no write: " +
        s"${replayJobs.size} jobs in ${executions(replayJobs).size} actions")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val (probe, probeJobs) = JobWatch.during(spark, "lsh-probe-frame") {
      Similarity.probeLshIndex(spark, root, queries)
    }
    assert(probeJobs.isEmpty,
      s"building the probe frame submitted ${probeJobs.size} jobs")
    assert(probe.collect().nonEmpty)
  }

  test("an LSH index with the earlier (band, bucket)-keyed postings " +
      "fails loudly on probe and maintain, asking for a rebuild") {
    import graft.operators.Similarity
    import spark.implicits._
    val root = tempDir("mf-lsh-old-layout")
    twoTableStore(root)
    val queries = Seq((1L, Seq.fill(4)(1f))).toDF("q_id", "q_emb")
    val e1 = intercept[IllegalStateException] {
      Similarity.probeLshIndex(spark, root, queries)
    }
    assert(e1.getMessage.contains("rebuild"))
    val arriving = Seq((100L, Seq.fill(4)(1f))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalStateException] {
      Similarity.maintainLshIndex(spark, root, arriving)
    }
    assert(e2.getMessage.contains("rebuild"))
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    // the band-keyed postings layout is refused the same way
    val banded = tempDir("mf-lsh-band-layout")
    ManifestStore.createTables(spark, banded, Seq(
      (ManifestStore.TableDef("postings", "band"),
        Seq((1L, 0, 0), (1L, 1, 1)).toDF("vec_id", "band", "bucket")),
      (ManifestStore.TableDef("vectors", ""),
        Seq((1L, Seq.fill(4)(1f))).toDF("vec_id", "embedding"))))
    val e4 = intercept[IllegalStateException] {
      Similarity.probeLshIndex(spark, banded, queries)
    }
    assert(e4.getMessage.contains("rebuild"), e4.getMessage)
    val e5 = intercept[IllegalStateException] {
      Similarity.maintainLshIndex(spark, banded, arriving)
    }
    assert(e5.getMessage.contains("rebuild"), e5.getMessage)
    assert(ManifestStore.currentVersion(spark, banded) === Some(1L))
    // a store whose manifest predates format v4 (no recorded files or
    // schemas) is refused with a rebuild message too
    val old = tempDir("mf-v3")
    val mdir = java.nio.file.Paths.get(old, "_manifests")
    java.nio.file.Files.createDirectories(mdir)
    java.nio.file.Files.write(mdir.resolve("v00000001.mf"),
      ("graft-manifest\t3\tt=part\n" +
        "E\tt\t0\tseg/seg-0/part__p=0\t0a1b2c3d4e5f\t10\t\n")
        .getBytes("UTF-8"))
    val e3 = intercept[IllegalStateException] {
      ManifestStore.read(spark, old)
    }
    assert(e3.getMessage.contains("format v3") &&
      e3.getMessage.contains("rebuild"), e3.getMessage)
  }

  test("publish verification: a commit whose manifest was overwritten " +
      "by a racing writer fails loudly — never a silently lost commit") {
    val root = tempDir("mf-publish-verify")
    val base = rows(0 until 20, "a")
    ManifestStore.create(spark, root, base, "part")
    // model an S3-like overwriting race: between this writer's
    // pre-existence check and its publish, the racing winner's content
    // ends up at the published key instead of ours (simulated by
    // rewriting the staged tmp body — same observable: the published
    // manifest is not what this writer staged)
    val mdir = java.nio.file.Paths.get(root, "_manifests")
    val v1 = mdir.resolve("v00000001.mf")
    ManifestStore.beforePublishRename = () =>
      java.nio.file.Files.list(mdir).forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith(".v00000002.mf.tmp-")) {
          java.nio.file.Files.copy(v1, p,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // drop the local FS's checksum sidecar — the out-of-band
          // rewrite models an object store, which has no such sidecar
          java.nio.file.Files.deleteIfExists(p.resolveSibling(s".$name.crc"))
        }
      }
    val e =
      try intercept[IllegalStateException] {
        ManifestStore.upsertPartitions(spark, root,
          rows(20 until 30, "b"), "part")
      } finally ManifestStore.beforePublishRename = () => ()
    assert(e.getMessage.contains("does not contain this writer's commit"))
    // the loser knows its commit did NOT land; readers see the other
    // writer's (here: v1-equivalent) version — nothing silent, nothing
    // corrupt
    assert(contents(ManifestStore.read(spark, root, version = Some(2L)))
      === contents(base))
  }

  test("key-rendering contract is enforced: a key hive would escape " +
      "aborts BEFORE the publish, store intact") {
    import spark.implicits._
    val root = tempDir("mf-key-escape")
    val safe = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "k", "x")
    ManifestStore.create(spark, root, safe, "k")
    // "x:1" renders as x%3A1 in the hive dir — matching live entries by
    // toString would silently miss them; the store refuses instead
    val bad = Seq((3L, "x:1", 3.0)).toDF("id", "k", "x")
    val e = intercept[IllegalArgumentException] {
      ManifestStore.upsertPartitions(spark, root, bad, "k")
    }
    assert(e.getMessage.contains("round-trip"))
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    assert(ManifestStore.read(spark, root).count() === 2)
    // the aborted writer's staged segment is an orphan vacuum reaps
    assert(ManifestStore.vacuum(spark, root, keepLast = 1).nonEmpty)
    assert(ManifestStore.read(spark, root).count() === 2)
    // and the contract holds from the FIRST segment: CREATE with an
    // escaping key is refused too (zero-cost guard — no extra scan)
    val root2 = tempDir("mf-key-escape-create")
    val e2 = intercept[IllegalArgumentException] {
      ManifestStore.create(spark, root2,
        Seq((1L, "x:1", 1.0)).toDF("id", "k", "x"), "k")
    }
    assert(e2.getMessage.contains("render verbatim"))
  }

  test("comma-bearing keys are refused on every commit path — the SQL " +
      "facade's parts delimiter stays unconditionally safe") {
    import spark.implicits._
    // hive renders a comma VERBATIM, so the rendering round-trip alone
    // would accept it — but option("parts", "a,b") through the facade
    // would then split it into two wrong keys and silently mis-prune.
    // Both write-time guards refuse instead.
    val root = tempDir("mf-key-comma")
    val e = intercept[IllegalArgumentException] {
      ManifestStore.create(spark, root,
        Seq((1L, "a,b", 1.0)).toDF("id", "k", "x"), "k")
    }
    assert(e.getMessage.contains("comma"))
    val root2 = tempDir("mf-key-comma-upsert")
    ManifestStore.create(spark, root2,
      Seq((1L, "a", 1.0)).toDF("id", "k", "x"), "k")
    val e2 = intercept[IllegalArgumentException] {
      ManifestStore.upsertPartitions(spark, root2,
        Seq((2L, "a,b", 2.0)).toDF("id", "k", "x"), "k")
    }
    assert(e2.getMessage.contains("comma"))
    assert(ManifestStore.currentVersion(spark, root2) === Some(1L))
    assert(ManifestStore.read(spark, root2).count() === 1)
  }

  test("a NARROWER same-chain batch up-casts on write: the live wider " +
      "type wins, values conserved, no schema change") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    // live n is bigint; the arriving batch carries n as int. That is
    // NOT evolution (nothing widens) — the batch is safely up-cast by
    // the merge union and the rewritten partition keeps bigint. Pinned
    // here because the widenOk chain check is symmetric by design.
    val root = tempDir("mf-narrow-batch")
    ManifestStore.create(spark, root,
      Seq((1L, 0, 5L), (2L, 1, 6L)).toDF("id", "part", "n"), "part")
    ManifestStore.upsertPartitions(spark, root,
      Seq((3L, 0, 7)).toDF("id", "part", "n"), "part")
    val all = ManifestStore.read(spark, root)
    assert(all.schema("n").dataType === LongType)
    assert(all.select("id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 5L), (2L, 6L), (3L, 7L)))
  }

  test("empty pruned read of an evolved table carries the UNION schema") {
    import spark.implicits._
    val root = tempDir("mf-evolve-empty")
    ManifestStore.create(spark, root,
      Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "part", "v"), "part")
    ManifestStore.upsertPartitions(spark, root,
      Seq((3L, 0, "c", 9.5)).toDF("id", "part", "v", "score"), "part")
    // pruning to an absent key must not borrow an arbitrary (possibly
    // pre-evolution) entry's schema: a downstream select("score") that
    // works on non-empty reads must work on the empty one too
    val none = ManifestStore.read(spark, root, parts = Some(Seq("99")))
    assert(none.count() === 0)
    assert(none.columns.toSet === Set("id", "part", "v", "score"))
    assert(none.select("score").count() === 0)
  }

  test("type widening: an int→long evolved upsert reads back widened, " +
      "values conserved; a single-fingerprint pruned read keeps int") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = tempDir("mf-widen")
    ManifestStore.create(spark, root,
      Seq((1L, 0, 5), (2L, 1, 6)).toDF("id", "part", "n"), "part")
    // the arriving batch carries n at the WIDENED type and touches
    // part 0 only — part 1 stays an int segment
    ManifestStore.upsertPartitions(spark, root,
      Seq((3L, 0, 7L)).toDF("id", "part", "n"), "part")
    val all = ManifestStore.read(spark, root)
    assert(all.schema("n").dataType === LongType)
    assert(all.select("id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 5L), (2L, 6L), (3L, 7L)))
    // a pruned read inside the untouched int fingerprint pays nothing
    // and keeps that segment's own narrow type
    val oldOnly = ManifestStore.read(spark, root, parts = Some(Seq("1")))
    assert(oldOnly.schema("n").dataType === IntegerType)
    // and CompactAppend-equivalent full-partition rewrite retires the
    // mix: touch part 1 too, then the whole table is wide
    ManifestStore.upsertPartitions(spark, root,
      Seq((4L, 1, 8L)).toDF("id", "part", "n"), "part")
    assert(ManifestStore.read(spark, root, parts = Some(Seq("1")))
      .schema("n").dataType === LongType)
  }

  test("NON-widening type drift is refused loudly on BOTH sides — " +
      "never silently coerced into corrupted values") {
    import spark.implicits._
    // write side: an upsert changing v string -> int aborts before
    // anything is staged (union coercion would have stringified ints)
    val root = tempDir("mf-nonwiden-write")
    ManifestStore.create(spark, root,
      Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "part", "v"), "part")
    val bad = Seq((3L, 0, 7)).toDF("id", "part", "v")
    val e1 = intercept[IllegalArgumentException] {
      ManifestStore.upsertPartitions(spark, root, bad, "part")
    }
    assert(e1.getMessage.contains("not inside a sanctioned widening"))
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    // read side: Append never reads live data (by design), so a
    // decimal-vs-double drift can land in segments — the READ refuses
    // it before union coercion silently drops the decimal's precision
    val root2 = tempDir("mf-nonwiden-read")
    ManifestStore.createTables(spark, root2, Seq(
      (ManifestStore.TableDef("t", ""),
        Seq((1L, BigDecimal("1.50"))).toDF("id", "amount"))))
    ManifestStore.commitTables(spark, root2)(Seq(
      ManifestStore.Append("t", Seq((2L, 2.5)).toDF("id", "amount"))))
    val e2 = intercept[IllegalStateException] {
      ManifestStore.readTable(spark, root2, "t").collect()
    }
    assert(e2.getMessage.contains("NON-widening"))
    assert(e2.getMessage.contains("amount"))
    // the sanctioned widenings still read fine (int -> long, ManifestStoreSpec
    // "type widening" test covers the full lifecycle)
  }

  test("a RENAMED column is refused loudly (drop + add), with the " +
      "actionable message") {
    import spark.implicits._
    val root = tempDir("mf-rename")
    ManifestStore.create(spark, root,
      Seq((1L, 0, 5)).toDF("id", "part", "n"), "part")
    val renamed = Seq((2L, 0, 6)).toDF("id", "part", "m") // n -> m
    val e = intercept[IllegalArgumentException] {
      ManifestStore.upsertPartitions(spark, root, renamed, "part")
    }
    assert(e.getMessage.contains("renamed"))
    assert(e.getMessage.contains("n")) // names the missing column
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
  }

  test("vacuum reaps crashed writers' manifest tmp litter") {
    val root = tempDir("mf-tmp-litter")
    ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    val litter = java.nio.file.Paths.get(root, "_manifests",
      ".v00000099.mf.tmp-deadbeef")
    java.nio.file.Files.write(litter, "stranded".getBytes("UTF-8"))
    val deleted = ManifestStore.vacuum(spark, root, keepLast = 1)
    assert(deleted.exists(_.endsWith(".v00000099.mf.tmp-deadbeef")))
    assert(!java.nio.file.Files.exists(litter))
    assert(ManifestStore.read(spark, root).count() === 8)
  }

  test("vacuum vs a long-running reader: a snapshot whose segments are " +
      "reaped mid-scan fails LOUDLY — never silent partial rows") {
    val root = tempDir("mf-vacuum-reader")
    val base = rows(0 until 20, "a")
    ManifestStore.create(spark, root, base, "part")
    // the long-running reader resolves its v1 snapshot now (file list
    // fixed at resolution time)
    val inflight = ManifestStore.read(spark, root, version = Some(1L))
    // every v1 partition is superseded wholesale, then vacuum reaps the
    // now-unreferenced v1 segments past the retention horizon
    ManifestStore.replacePartitions(spark, root,
      rows(100 until 120, "b"), "part")
    ManifestStore.vacuum(spark, root, keepLast = 1)
    // the outlived reader fails loudly with a missing-file error (the
    // scaladoc contract: never silent row loss — which also means
    // ignoreMissingFiles must stay off on manifest roots)
    val e = intercept[Throwable] { inflight.collect() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(_.toLowerCase.contains("file"))),
      s"expected a missing-file failure, got: $e")
    // the current snapshot is untouched
    assert(contents(ManifestStore.read(spark, root))
      === contents(rows(100 until 120, "b")))
  }

  test("double-commit backstop: the version-file create arbitrates — " +
      "a writer racing a committed version fails loudly, store intact") {
    val root = tempDir("mf-double-commit")
    val base = rows(0 until 20, "a")
    ManifestStore.create(spark, root, base, "part")
    // model a thief that committed v2 in the window between this
    // writer's version read and its publish (a stall past the lease +
    // steal): the killPoint hook plants the thief's v2 right after our
    // staging completes, WITHOUT unwinding our commit
    val thief = java.nio.file.Paths.get(root, "_manifests", "v00000002.mf")
    val v1 = java.nio.file.Paths.get(root, "_manifests", "v00000001.mf")
    ManifestStore.killPoint = p =>
      if (p == "staged" && !java.nio.file.Files.exists(thief))
        java.nio.file.Files.copy(v1, thief)
    val e =
      try intercept[IllegalArgumentException] {
        ManifestStore.upsertPartitions(spark, root,
          rows(20 until 30, "b"), "part")
      } finally ManifestStore.killPoint = _ => ()
    assert(e.getMessage.contains("already exists"))
    // the loser changed nothing a reader can see: v2 is the thief's,
    // and the loser's staged segment is an unreferenced orphan that
    // vacuum reaps
    assert(contents(ManifestStore.read(spark, root, version = Some(2L)))
      === contents(base))
    ManifestStore.vacuum(spark, root, keepLast = 1)
    assert(contents(ManifestStore.read(spark, root)) === contents(base))
  }

  test("CompactAppend: segments merge to one, content invariant, " +
      "single-segment table is a no-op") {
    import spark.implicits._
    val root = tempDir("mf-compactappend")
    ManifestStore.createTables(spark, root, Seq(
      (ManifestStore.TableDef("vecs", ""),
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"))))
    ManifestStore.commitTables(spark, root)(Seq(
      ManifestStore.Append("vecs", Seq((3L, "c")).toDF("id", "v"))))
    ManifestStore.commitTables(spark, root)(Seq(
      ManifestStore.Append("vecs", Seq((4L, "d")).toDF("id", "v"))))
    assert(ManifestStore.tableEntries(spark, root, "vecs").size === 3)
    def all(v: Option[Long] = None) = ManifestStore
      .readTable(spark, root, "vecs", version = v)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = all()
    ManifestStore.commitTables(spark, root)(Seq(
      ManifestStore.CompactAppend("vecs")))
    assert(ManifestStore.tableEntries(spark, root, "vecs").size === 1)
    assert(all() === before)
    // pre-compaction version untouched (snapshot isolation)
    assert(all(Some(3L)) === before)
    // single-segment table: no-op, no version bump
    val v = ManifestStore.currentVersion(spark, root)
    assert(ManifestStore.commitTables(spark, root)(Seq(
      ManifestStore.CompactAppend("vecs"))) === Map.empty)
    assert(ManifestStore.currentVersion(spark, root) === v)
    // partitioned tables refuse CompactAppend loudly
    val root2 = tempDir("mf-compactappend-part")
    ManifestStore.create(spark, root2, rows(0 until 8, "a"), "part")
    val e = intercept[IllegalArgumentException] {
      ManifestStore.commitTables(spark, root2)(Seq(
        ManifestStore.CompactAppend("t")))
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("manifestLifecycleGate: all five lifecycle invariants hold") {
    val got = graft.operators.Layout.manifestLifecycleGate(spark, sf)
      .collect()
    assert(got.length === 1)
    val r = got.head
    (0 until 5).foreach(i =>
      assert(r.getBoolean(i), s"invariant ${got.head.schema(i).name}"))
  }

  test("schema evolution: evolved upsert null-fills old live rows and " +
      "refuses dropped columns; mergeSchema read spans segments") {
    import spark.implicits._
    val root = tempDir("mf-evolve")
    ManifestStore.create(spark, root,
      Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "part", "v"), "part")
    // the evolved batch carries a NEW column and touches part 0 only
    val evolved = Seq((3L, 0, "c", 9.5)).toDF("id", "part", "v", "score")
    ManifestStore.upsertPartitions(spark, root, evolved, "part")
    // merged read across evolved + pre-evolution segments — WITHOUT
    // any flag: the entry fingerprints disagree, so the store turns
    // schema merging on by itself (safe-by-default evolution)
    val all = ManifestStore.read(spark, root)
    assert(all.columns.toSeq === Seq("id", "part", "v", "score"))
    val byId = all.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(byId === Map(1L -> None, 2L -> None, 3L -> Some(9.5)))
    // a pruned read that stays INSIDE one fingerprint pays no merge
    // and keeps that segment's own schema
    val oldOnly = ManifestStore.read(spark, root, parts = Some(Seq("1")))
    assert(oldOnly.columns.toSeq === Seq("id", "part", "v"))
    // a batch missing a live column is refused loudly (ADD-only)
    val dropping = Seq((4L, 0, 1.0)).toDF("id", "part", "score")
    val e = intercept[IllegalArgumentException] {
      ManifestStore.upsertPartitions(spark, root, dropping, "part")
    }
    assert(e.getMessage.contains("only ADDS"))
  }

  test("mfSchemaEvolutionGate: all seven drift invariants hold " +
      "(added columns + widened types)") {
    val got = graft.operators.Layout.mfSchemaEvolutionGate(spark, sf)
      .collect()
    assert(got.length === 1)
    (0 until 7).foreach(i =>
      assert(got.head.getBoolean(i), s"invariant ${got.head.schema(i).name}"))
  }

  test("Replace: the idempotent day-overwrite semantic — " +
      "load∘load = load, superseded version time-travelable") {
    import spark.implicits._
    val root = tempDir("mf-replace")
    // a date=-keyed mart, the U1 shape on the manifest store
    val day1 = Seq((1L, "2026-01-01", 10.0), (2L, "2026-01-01", 12.0))
      .toDF("id", "day", "temp")
    val day2 = Seq((3L, "2026-01-02", 8.0)).toDF("id", "day", "temp")
    ManifestStore.create(spark, root, day1.unionByName(day2), "day")
    // the corrected reload of day 1 REPLACES it wholesale (row 2 gone)
    val fixed = Seq((1L, "2026-01-01", 11.5)).toDF("id", "day", "temp")
    assert(ManifestStore.replacePartitions(spark, root, fixed, "day")
      === Seq("2026-01-01"))
    def snap(v: Option[Long]) =
      ManifestStore.read(spark, root, version = v)
        .select("id", "day", "temp").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(snap(None) ===
      Set((1L, "2026-01-01", 11.5), (3L, "2026-01-02", 8.0)))
    // load∘load = load: replaying the same load is content-invariant
    ManifestStore.replacePartitions(spark, root, fixed, "day")
    assert(snap(None) ===
      Set((1L, "2026-01-01", 11.5), (3L, "2026-01-02", 8.0)))
    // the pre-fix state is still auditable (time travel), then vacuum
    // retires it
    assert(snap(Some(1L)) === Set((1L, "2026-01-01", 10.0),
      (2L, "2026-01-01", 12.0), (3L, "2026-01-02", 8.0)))
    ManifestStore.vacuum(spark, root, keepLast = 1)
    intercept[IllegalArgumentException] {
      ManifestStore.read(spark, root, version = Some(1L))
    }
    assert(snap(None) ===
      Set((1L, "2026-01-01", 11.5), (3L, "2026-01-02", 8.0)))
  }

  test("streamed manifest maintenance: one version per micro-batch, " +
      "gate closed form holds") {
    val got = StreamLeftovers(spark)(graft.streaming.VectorStream
      .runIvfCompactManifestOnce(spark, sf)).collect()
    assert(got.length === 5)
    got.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) + graft.operators.Dedup.PlantOffset)
      assert(r.getBoolean(3) && r.getBoolean(4))
    }
    val scratch = new java.io.File(
      graft.streaming.HourlyStream.scratchBase).listFiles()
    assert(scratch == null ||
      !scratch.exists(_.getName.startsWith("graft_ivfmfs_")),
      "maintenance stream lane must reap its scratch dirs")
  }

  test("streamed IVF-PQ manifest maintenance: per-micro-batch commits " +
      "compose to the one-shot compaction — relations identical") {
    val streamed = StreamLeftovers(spark)(graft.streaming.VectorStream
      .runIvfPqCompactManifestOnce(spark, sf)).collect().toSeq
    val oneShot = graft.operators.Similarity
      .ivfPqCompactManifestPlanted(spark, sf).collect().toSeq
    assert(streamed === oneShot)
    assert(streamed.nonEmpty)
  }

  test("ivfCompactManifestPlanted: compaction == rebuild, copies at rank 1") {
    val got = graft.operators.Similarity
      .ivfCompactManifestPlanted(spark, sf).collect()
    assert(got.length === 5)
    got.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) + graft.operators.Dedup.PlantOffset)
      assert(r.getInt(2) === 1)
      assert(r.getBoolean(3), s"planted copy not exact at q=${r.getLong(0)}")
      assert(r.getBoolean(4), s"manifest compaction != rebuild at q=${r.getLong(0)}")
    }
  }

  test("concurrent maintainLshIndex calls serialize to the sequential " +
      "result") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 3)
    val b1 = emb.filter(col("vec_id") % 20 === 3)
    val b2 = emb.filter(col("vec_id") % 10 === 3 &&
      col("vec_id") % 20 =!= 3)
    def snapshot(root: String) = (
      contents3(ManifestStore.readTable(spark, root, "postings")),
      ManifestStore.readTable(spark, root, "vectors")
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq)
    // sequential reference through the SAME facades
    val seqRoot = tempDir("mf-facade-seq")
    Similarity.buildLshIndex(spark, base, seqRoot)
    // the facade laid out a manifest store
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(seqRoot, "_manifests")))
    Similarity.maintainLshIndex(spark, seqRoot, b1)
    Similarity.maintainLshIndex(spark, seqRoot, b2)
    // concurrent maintenance: the writer lease serializes the two
    // disjoint batches (the double-fired-maintenance picture: retry +
    // zombie driver); both land, no posting or vector row is lost or
    // duplicated, and the content equals the sequential run
    val conRoot = tempDir("mf-facade-con")
    Similarity.buildLshIndex(spark, base, conRoot)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(Similarity.maintainLshIndex(spark, conRoot, b1))
    val f2 = Future(Similarity.maintainLshIndex(spark, conRoot, b2))
    Await.result(f1, 180.seconds); Await.result(f2, 180.seconds)
    assert(ManifestStore.currentVersion(spark, conRoot) === Some(3L))
    assert(snapshot(conRoot) === snapshot(seqRoot))
  }

  /** Tiny deterministic 8-dim corpus for the facade-level index specs. */
  private def vecs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, (0 until 8).map(j => math.sin(i * 31 + j * 7).toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** Postings, vector ids and probe answers of an LSH index. */
  private def lshState(root: String) = {
    val queries = vecs(Seq(1L, 4L, 13L))
      .withColumnRenamed("vec_id", "q_id")
      .withColumnRenamed("embedding", "q_emb")
    (contents3(ManifestStore.readTable(spark, root, "postings")),
      ManifestStore.readTable(spark, root, "vectors")
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq,
      graft.operators.Similarity.probeLshIndex(spark, root, queries, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSeq)
  }

  private def killedAt[T](point: String)(f: => T): Unit = {
    ManifestStore.killPoint = p =>
      if (p == point) throw new RuntimeException(s"kill@$point")
    try {
      val e = intercept[RuntimeException](f)
      assert(e.getMessage === s"kill@$point")
    } finally ManifestStore.killPoint = _ => ()
  }

  test("maintainLshIndex killed before publish: old index intact, a rerun " +
      "commits") {
    import graft.operators.Similarity
    val base = vecs(0L until 12L)
    val arriving = vecs(12L until 16L)
    val root = tempDir("mf-lsh-kill-staged")
    val ref = tempDir("mf-lsh-kill-staged-ref")
    Similarity.buildLshIndex(spark, base, root)
    Similarity.buildLshIndex(spark, base, ref)
    val before = lshState(root)
    val manifests = inventory(s"$root/${ManifestStore.ManifestDirName}")
    killedAt("staged") {
      Similarity.maintainLshIndex(spark, root, arriving)
    }
    // readers keep exactly the old version: not one manifest byte moved,
    // and the lease was released for the rerun
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    assert(inventory(s"$root/${ManifestStore.ManifestDirName}") === manifests)
    assert(lshState(root) === before)
    Similarity.maintainLshIndex(spark, root, arriving)
    Similarity.maintainLshIndex(spark, ref, arriving)
    assert(ManifestStore.currentVersion(spark, root) === Some(2L))
    assert(lshState(root) === lshState(ref),
      "the rerun must equal a clean run over an unkilled index")
  }

  test("maintainLshIndex killed after publish is durable and equals a clean " +
      "run") {
    import graft.operators.Similarity
    val base = vecs(0L until 12L)
    val arriving = vecs(12L until 16L)
    val root = tempDir("mf-lsh-kill-committed")
    val ref = tempDir("mf-lsh-kill-committed-ref")
    Similarity.buildLshIndex(spark, base, root)
    Similarity.buildLshIndex(spark, base, ref)
    killedAt("committed") {
      Similarity.maintainLshIndex(spark, root, arriving)
    }
    Similarity.maintainLshIndex(spark, ref, arriving)
    // no recovery step: the first reader already sees the new version
    assert(ManifestStore.currentVersion(spark, root) === Some(2L))
    assert(lshState(root) === lshState(ref))
    assert(lshState(root)._2 === (0L until 16L))
  }

  test("maintainIvfIndex killed after publish is durable and equals a clean " +
      "run") {
    import graft.operators.Similarity
    import spark.implicits._
    // 2-cell world: centroids on the axes
    val trained = Array((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
    val base = Seq((10L, Seq(0.9f, 0.1f), 0), (11L, Seq(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "cell")
    val arriving = Seq((12L, Seq(0.2f, 0.8f)), (13L, Seq(0.7f, 0.3f)))
      .toDF("vec_id", "embedding")
    val root = tempDir("mf-ivf-kill-committed")
    val ref = tempDir("mf-ivf-kill-committed-ref")
    Similarity.buildIvfIndex(spark, root, base)
    Similarity.buildIvfIndex(spark, ref, base)
    killedAt("committed") {
      Similarity.maintainIvfIndex(spark, root, arriving, trained)
    }
    Similarity.maintainIvfIndex(spark, ref, arriving, trained)
    def cells(d: String) = ManifestStore.read(spark, d)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(identity).toSeq
    assert(ManifestStore.currentVersion(spark, root) === Some(2L))
    assert(cells(root) === cells(ref))
    assert(cells(root) === Seq((10L, 0), (11L, 1), (12L, 1), (13L, 0)))
  }

  test("maintainLshIndex on a busy lease fails loudly, then commits once " +
      "freed") {
    import graft.operators.Similarity
    val root = tempDir("mf-lsh-lease-busy")
    Similarity.buildLshIndex(spark, vecs(0L until 12L), root)
    val before = lshState(root)
    // a live writer's lease: fresh, so never steal-eligible
    val lock = java.nio.file.Paths.get(root, ManifestStore.WriterLockName)
    java.nio.file.Files.write(lock, "live-writer".getBytes("UTF-8"))
    val oldWait = ManifestStore.WriterWaitMs
    ManifestStore.WriterWaitMs = 250
    try {
      val e = intercept[IllegalStateException] {
        Similarity.maintainLshIndex(spark, root, vecs(12L until 16L))
      }
      assert(e.getMessage.contains(
        s"lock ${ManifestStore.WriterLockName} busy past"))
      assert(ManifestStore.currentVersion(spark, root) === Some(1L))
      assert(lshState(root) === before)
      // the live writer finishes and releases: the next call proceeds
      // inside the same short wait bound
      java.nio.file.Files.delete(lock)
      Similarity.maintainLshIndex(spark, root, vecs(12L until 16L))
    } finally {
      ManifestStore.WriterWaitMs = oldWait
      java.nio.file.Files.deleteIfExists(lock)
    }
    assert(ManifestStore.currentVersion(spark, root) === Some(2L))
    assert(lshState(root)._2 === (0L until 16L))
  }

  test("index facades build a manifest store at v1; each maintain adds a " +
      "version") {
    import graft.operators.Similarity
    // the geometry of the SimilaritySpec IVF-PQ spec: two half-space
    // cells, constant-c codebook entries
    val cents = Array(
      (0, Array.tabulate(64)(i => if (i < 32) 1.0 else 0.0)),
      (1, Array.tabulate(64)(i => if (i < 32) 0.0 else 1.0)))
    val cb = Array.fill(Similarity.PqM)(
      Array.tabulate(Similarity.PqK)(c =>
        Array.fill(Similarity.PqSub)(c.toDouble)))
    def wide(ids: Seq[Long]): DataFrame = {
      import spark.implicits._
      ids.map(i => (i, (0 until 64).map(j =>
        ((i * 7 + j * 3) % Similarity.PqK).toFloat)))
        .toDF("vec_id", "embedding")
    }
    val lsh = tempDir("mf-facade-lsh")
    val ivf = tempDir("mf-facade-ivf")
    val pq = tempDir("mf-facade-pq")
    Similarity.buildLshIndex(spark, vecs(0L until 12L), lsh)
    Similarity.buildIvfIndex(spark, ivf, wide(0L until 12L).select(
      col("vec_id"), col("embedding"),
      Similarity.argmaxOver(cents).getField("cluster").as("cell")))
    Similarity.buildIvfPqIndex(spark, wide(0L until 12L), cents, cb, pq)
    val tables = Map(lsh -> Set("postings", "vectors"),
      ivf -> Set("t"), pq -> Set("codes"))
    tables.foreach { case (r, ts) =>
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(r, ManifestStore.ManifestDirName)), r)
      assert(ManifestStore.currentVersion(spark, r) === Some(1L), r)
      ts.foreach(t =>
        assert(ManifestStore.readTable(spark, r, t).count() > 0, s"$r/$t"))
    }
    assert(Similarity.maintainLshIndex(spark, lsh, vecs(12L until 14L))
      .nonEmpty)
    assert(Similarity.maintainIvfIndex(spark, ivf, wide(12L until 14L), cents)
      .nonEmpty)
    assert(Similarity.maintainIvfPqIndex(spark, pq, wide(12L until 14L),
      cents, cb).nonEmpty)
    tables.keys.foreach(r =>
      assert(ManifestStore.currentVersion(spark, r) === Some(2L), r))
    assert(ManifestStore.read(spark, ivf).count() === 14L)
    assert(ManifestStore.readTable(spark, pq, "codes").count() === 14L)
  }

  test("ivfPqCompactManifestPlanted equals a from-scratch rebuild's probe") {
    // the oracle replays the IVF-PQ math over the planted corpus; a
    // from-scratch index of that corpus, probed through the same ADC
    // lane, is its in-Spark rendering
    import graft.operators.Similarity
    import spark.implicits._
    def tuples(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getInt(4))).toSeq
    val gate = tuples(Similarity.ivfPqCompactManifestPlanted(spark, sf))
    val emb = Tables.load(spark, sf, "embeddings")
    val planted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" < 5)
        .select($"vec_id" + graft.operators.Dedup.PlantOffset, $"embedding")
        .toDF("vec_id", "embedding"))
    val cents = Similarity.collectCentroids(
      Similarity.labelCentroids(spark, sf), "label")
    val cb = Similarity.pqCodebooks(spark, sf)
    val root = tempDir("mf-pq-rebuild")
    Similarity.buildIvfPqIndex(spark, planted, cents, cb, root)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val rebuilt = tuples(Similarity.probeIvfPqIndex(spark, sf, root,
      queries, 10, 3, model = Some((cents, cb))))
    assert(gate === rebuilt,
      "maintenance must be row-for-row equivalent to a full rebuild")
    assert(gate.map(_._1).distinct === Seq(0L, 1L, 2L, 3L, 4L))
    assert(gate.groupBy(_._1).values.forall(_.map(_._5).sorted == (1 to 10)),
      "each query must carry a dense rank 1..10")
  }

  test("segment column stats: footer-harvested min/max are exact, " +
      "skip reads prune without dropping rows, statless columns and " +
      "unbounded shapes never skip") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In,
      IsNull, LessThan, Not}
    val root = tempDir("mf-stats")
    def seg(lo: Int, hi: Int, tag: String) =
      (lo until hi).map(i => (i.toLong, i, s"$tag-$i"))
        .toDF("id", "n", "name")
    ManifestStore.createTables(spark, root, Seq((
      ManifestStore.TableDef("t", "", statsCols = Seq("n", "name")),
      seg(0, 10, "aa"))))
    ManifestStore.commitTables(spark, root)(
      Seq(ManifestStore.Append("t", seg(100, 110, "bb"))))
    ManifestStore.commitTables(spark, root)(
      Seq(ManifestStore.Append("t", seg(200, 210, "cc"))))
    val entries = ManifestStore.tableEntries(spark, root, "t")
    assert(entries.size === 3)
    // exact footer-derived bounds, and staged byte sizes recorded
    val nStats = entries.flatMap(_.stats.find(_.col == "n"))
      .map(cs => (cs.tag, cs.min, cs.max)).toSet
    assert(nStats === Set(("l", "0", "9"), ("l", "100", "109"),
      ("l", "200", "209")))
    val nameStats = entries.flatMap(_.stats.find(_.col == "name"))
    assert(nameStats.map(_.tag).toSet === Set("s"))
    assert(nameStats.map(_.min).toSet === Set("aa-0", "bb-100", "cc-200"))
    assert(entries.forall(_.bytes > 0))
    // a "segment count" = distinct leaf dirs behind the scan (an
    // append segment may hold several part files)
    def segDirs(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.map(f => f.substring(0, f.lastIndexOf('/')))
        .distinct.length
    // skip read: equality prunes to one segment, rows conserved
    val one = ManifestStore.readTable(spark, root, "t",
      skip = Seq(EqualTo("n", 105)))
    assert(segDirs(one) === 1)
    assert(one.filter(col("n") === 105).count() === 1)
    // range skip across two segments
    val two = ManifestStore.readTable(spark, root, "t",
      skip = Seq(GreaterThan("n", 9), LessThan("n", 205)))
    assert(two.select("id").distinct().count() === 20) // segs 2 and 3
    // IN prunes to the named segments' union
    val in2 = ManifestStore.readTable(spark, root, "t",
      skip = Seq(In("n", Array(5, 205))))
    assert(in2.select("id").distinct().count() === 20) // segs 1 and 3
    // string stats skip too
    val str = ManifestStore.readTable(spark, root, "t",
      skip = Seq(GreaterThan("name", "cc")))
    assert(str.select("id").collect().map(_.getLong(0)).forall(_ >= 200))
    // a column with no declared stats never skips
    assert(segDirs(ManifestStore.readTable(spark, root, "t",
      skip = Seq(EqualTo("id", 0L)))) === 3)
    // unbounded shapes (Not, IsNull) never skip
    assert(segDirs(ManifestStore.readTable(spark, root, "t",
      skip = Seq(Not(EqualTo("n", 105)), IsNull("n")))) === 3)
    // an out-of-every-range predicate prunes to the empty frame with
    // the table's schema (the empty-pruned-read contract)
    val none = ManifestStore.readTable(spark, root, "t",
      skip = Seq(EqualTo("n", 999)))
    assert(none.count() === 0)
    assert(none.columns.toSet === Set("id", "n", "name"))
  }

  test("changeFeed: net row changes per commit — carried rows cancel, " +
      "compaction feeds nothing, idempotent replace feeds nothing, " +
      "unretained window loud") {
    import spark.implicits._
    val root = tempDir("mf-feed")
    ManifestStore.create(spark, root,
      Seq((1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"))
        .toDF("id", "part", "v"), "part")
    // v2: upsertById replaces id 2 in part 0 — id 1 is CARRIED through
    // the partition rewrite and must not feed
    ManifestStore.upsertPartitions(spark, root,
      Seq((2L, 0, "B2")).toDF("id", "part", "v"), "part",
      idCol = Some("id"))
    val feed2 = ManifestStore.changeFeed(spark, root, "t", 1L, 2L)
      .select("id", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(feed2 === Set((2L, "b", "delete", 2L), (2L, "B2", "insert", 2L)))
    // v3: an idempotent replay of part 1's identical content — a new
    // version lands, but the feed is NET-empty
    ManifestStore.replacePartitions(spark, root,
      Seq((3L, 1, "c")).toDF("id", "part", "v"), "part")
    assert(ManifestStore.currentVersion(spark, root) === Some(3L))
    assert(ManifestStore.changeFeed(spark, root, "t", 2L, 3L)
      .count() === 0)
    // the full window equals the v1→v3 snapshot multiset diff
    val full = ManifestStore.changeFeed(spark, root, "t", 1L, 3L)
    assert(full.filter(col("_change_type") === "insert").count() === 1)
    assert(full.filter(col("_change_type") === "delete").count() === 1)
    // append-only compaction is CDC-invisible
    val root2 = tempDir("mf-feed-compact")
    ManifestStore.createTables(spark, root2, Seq(
      (ManifestStore.TableDef("docs", ""),
        Seq((1L, "x")).toDF("id", "v"))))
    ManifestStore.commitTables(spark, root2)(Seq(
      ManifestStore.Append("docs", Seq((2L, "y")).toDF("id", "v"))))
    ManifestStore.commitTables(spark, root2)(Seq(
      ManifestStore.CompactAppend("docs")))
    val f2 = ManifestStore.changeFeed(spark, root2, "docs", 1L, 3L)
    assert(f2.filter(col("_change_type") === "delete").count() === 0)
    assert(f2.select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    // a vacuumed-away window refuses loudly
    val e = intercept[IllegalArgumentException] {
      ManifestStore.changeFeed(spark, root2, "docs", 0L, 3L)
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("Maintenance policy: 100 appends stay bounded — segments " +
      "capped, retained versions capped, content exact, zero caller-" +
      "side maintenance calls") {
    import spark.implicits._
    val root = tempDir("mf-maint")
    val policy = ManifestStore.Maintenance(
      maxSegmentsPerTable = Some(10), vacuumKeepLast = Some(5))
    ManifestStore.createTables(spark, root, Seq(
      (ManifestStore.TableDef("t", ""), Seq((0L, 0L)).toDF("id", "x"))))
    (1 until 100).foreach { i =>
      ManifestStore.commitTables(spark, root, policy)(Seq(
        ManifestStore.Append("t", Seq((i.toLong, i.toLong * 2))
          .toDF("id", "x"))))
    }
    // the cap held on EVERY commit by construction; check the end state
    assert(ManifestStore.tableEntries(spark, root, "t").size <= 11)
    assert(ManifestStore.versions(spark, root).size <= 5)
    val got = ManifestStore.readTable(spark, root, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (0 until 100).map(i => (i.toLong, i.toLong * 2)).toSet)
    // a no-op plan with the policy on still commits nothing
    val v = ManifestStore.currentVersion(spark, root)
    ManifestStore.commitTables(spark, root, policy)(Seq.empty)
    assert(ManifestStore.currentVersion(spark, root) === v)
  }

  test("multi-writer/multi-reader stress: commits serialize on the " +
      "lease, versions stay dense, every snapshot a reader observes " +
      "is a committed one") {
    import spark.implicits._
    val root = tempDir("mf-stress")
    val writers = 4
    val perWriter = 5
    ManifestStore.create(spark, root,
      (0 until writers).map(w => (w, -1)).toDF("w", "c"), "w")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    // readers poll the newest snapshot: always exactly `writers` rows
    // (Replace keeps one row per key), each value a counter some
    // writer actually wrote
    val readers = (0 until 2).map { _ =>
      new Thread(() => {
        try while (!done.get()) {
          val rows = ManifestStore.read(spark, root)
            .collect().map(r => (r.getInt(0), r.getInt(1)))
          if (rows.length != writers)
            failures.add(s"saw ${rows.length} rows: ${rows.toSeq}")
          if (!rows.forall { case (_, c) => c >= -1 && c < perWriter })
            failures.add(s"saw out-of-domain counter: ${rows.toSeq}")
        } catch {
          case t: Throwable => failures.add(s"reader: ${t.getMessage}")
        }
      })
    }
    val writerThreads = (0 until writers).map { w =>
      new Thread(() => {
        try (0 until perWriter).foreach { c =>
          ManifestStore.commitTables(spark, root)(Seq(
            ManifestStore.Replace("t",
              Seq((w, c)).toDF("w", "c"))))
        } catch {
          case t: Throwable => failures.add(s"writer $w: ${t.getMessage}")
        }
      })
    }
    (readers ++ writerThreads).foreach(_.start())
    writerThreads.foreach(_.join(300000))
    done.set(true)
    readers.foreach(_.join(60000))
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    // no lost commits, versions dense: 1 (create) + every commit
    assert(ManifestStore.versions(spark, root)
      === (1L to (1L + writers * perWriter)).toSeq)
    // final state: every writer's LAST counter landed
    val fin = ManifestStore.read(spark, root)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(fin === (0 until writers).map(w => (w, perWriter - 1)).toSet)
  }

  test("stat-skip hardening: empty-string stats round-trip the " +
      "manifest, non-finite skip values never throw or skip, and " +
      "supplementary-plane strings compare in parquet's byte order") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    // 1. a legal commit whose string stat IS the empty string must not
    // brick readManifest ('col=s::' round-trips)
    val root = tempDir("mf-stat-empty")
    ManifestStore.createTables(spark, root, Seq((
      ManifestStore.TableDef("t", "", statsCols = Seq("name")),
      Seq((1L, ""), (2L, "")).toDF("id", "name"))))
    assert(ManifestStore.readTable(spark, root, "t").count() === 2)
    ManifestStore.commitTables(spark, root)(Seq(ManifestStore.Append(
      "t", Seq((3L, "x")).toDF("id", "name")))) // re-parses the manifest
    val st = ManifestStore.tableEntries(spark, root, "t")
      .flatMap(_.stats.find(_.col == "name"))
      .map(cs => (cs.min, cs.max)).toSet
    assert(st === Set(("", ""), ("x", "x")))
    // 2. NaN / ±Infinity are legal Spark filter values with no
    // BigDecimal rendering — they must not throw, and must not skip
    val root2 = tempDir("mf-stat-nonfinite")
    ManifestStore.createTables(spark, root2, Seq((
      ManifestStore.TableDef("t", "", statsCols = Seq("x")),
      Seq((1L, 1.5), (2L, 2.5)).toDF("id", "x"))))
    assert(ManifestStore.readTable(spark, root2, "t",
      skip = Seq(EqualTo("x", Double.NaN))).count() === 2)
    assert(ManifestStore.readTable(spark, root2, "t",
      skip = Seq(GreaterThan("x", Double.PositiveInfinity)))
      .count() === 2)
    // 3. U+FFFD (BMP, one UTF-16 unit 0xFFFD) vs U+1F600 (surrogate
    // pair starting 0xD83D): UTF-16 order says FFFD > the pair, but
    // parquet's footer max is byte/code-point order — an equality on
    // the BMP char must still find its segment
    val root3 = tempDir("mf-stat-plane")
    ManifestStore.createTables(spark, root3, Seq((
      ManifestStore.TableDef("t", "", statsCols = Seq("name")),
      Seq((1L, "�"), (2L, "😀")).toDF("id", "name"))))
    val hit = ManifestStore.readTable(spark, root3, "t",
      skip = Seq(EqualTo("name", "�")))
    assert(hit.filter(col("name") === "�").count() === 1)
  }

  test("stat-skip float literals widen before comparing: equality on a " +
      "FLOAT stats column finds its segment at shortest-repr values, " +
      "boundaries never falsely skip, true disjointness still prunes") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual,
      LessThanOrEqual}
    // the unit seam: harvestLeaf renders FLOAT-column stats via
    // doubleValue.toString (0.1f -> "0.10000000149011612") while
    // Float.toString is the shortest repr ("0.1") — the filter literal
    // must widen into the SAME BigDecimal or equality at a boundary
    // value proves a false disjointness (silent row loss)
    val cs = ManifestStore.ColStat("f", "d",
      0.1f.doubleValue.toString, 0.3f.doubleValue.toString)
    assert(ManifestStore.mayMatch(Seq(cs), EqualTo("f", 0.1f)))
    assert(ManifestStore.mayMatch(Seq(cs), LessThanOrEqual("f", 0.1f)))
    assert(ManifestStore.mayMatch(Seq(cs), GreaterThanOrEqual("f", 0.3f)))
    assert(!ManifestStore.mayMatch(Seq(cs), EqualTo("f", 0.4f)))
    // end-to-end: two segments, stats harvested from real footers
    val root = tempDir("mf-stat-float")
    ManifestStore.createTables(spark, root, Seq((
      ManifestStore.TableDef("t", "", statsCols = Seq("f")),
      Seq((1L, 0.1f), (2L, 0.2f)).toDF("id", "f"))))
    ManifestStore.commitTables(spark, root)(Seq(ManifestStore.Append(
      "t", Seq((3L, 0.3f), (4L, 0.4f)).toDF("id", "f"))))
    assert(ManifestStore.readTable(spark, root, "t",
      skip = Seq(EqualTo("f", 0.1f))).filter(col("f") === 0.1f)
      .count() === 1)
    assert(ManifestStore.readTable(spark, root, "t",
      skip = Seq(EqualTo("f", 0.3f))).filter(col("f") === 0.3f)
      .count() === 1)
    // a value strictly between the two segments' ranges prunes BOTH
    assert(ManifestStore.readTable(spark, root, "t",
      skip = Seq(EqualTo("f", 0.25f))).count() === 0)
  }

  test("racing first writers: the loser fails UNDER the lease BEFORE " +
      "staging (zero orphan segment dirs) and the SQL facade routes " +
      "it through mode dispatch as an upsert") {
    import spark.implicits._
    // direct API: an initialized root refuses with the dedicated type
    // on the fast pre-lease path
    val r0 = tempDir("mf-race-direct")
    ManifestStore.create(spark, r0, rows(0 until 8, "a"), "part")
    intercept[ManifestStore.AlreadyInitializedException] {
      ManifestStore.createTables(spark, r0, Seq((
        ManifestStore.TableDef("t2", "part"), rows(0 until 4, "b"))))
    }
    // the race window itself: a second first-writer passes the fast
    // check, then a concurrent create commits v1 before it takes the
    // lease — the create-preflight hook injects that interleaving
    val root = tempDir("mf-race")
    val winner =
      Seq((1L, 0, "w-1"), (2L, 1, "w-2")).toDF("id", "part", "v")
    var fired = false
    ManifestStore.killPoint = {
      case "create-preflight" if !fired =>
        fired = true
        ManifestStore.createTables(spark, root, Seq((
          ManifestStore.TableDef("t", "part"), winner)))
      case _ => ()
    }
    try {
      Seq((2L, 1, "l-2"), (3L, 2, "l-3")).toDF("id", "part", "v")
        .write.format("graft-manifest")
        .option("table", "t").option("key", "part")
        .mode("append").save(root)
    } finally ManifestStore.killPoint = _ => ()
    assert(fired)
    // the loser landed as a facade APPEND (Upsert, no mergeId) on the
    // winner's store: live rows in the touched partitions carry over,
    // the loser's rows join them — nothing lost on either side
    val got = contents(ManifestStore.readTable(spark, root, "t"))
    assert(got === Set((1L, 0, "w-1"), (2L, 1, "w-2"),
      (2L, 1, "l-2"), (3L, 2, "l-3")))
    // and the loser staged NOTHING before failing: with every version
    // retained, vacuum finds zero unreferenced partition dirs — the
    // only unreferenced leaves are the writers' own _SUCCESS markers
    val reaped = ManifestStore.vacuum(spark, root, keepLast = 10)
    assert(reaped.forall(_.endsWith("_SUCCESS")), reaped.toString)
  }

  test("row-level Delete: stats-pruned copy-on-write — untouched " +
      "partitions carry by reference, a fully-matched partition " +
      "retires, NULL verdicts keep rows, and a no-match delete " +
      "commits nothing") {
    import spark.implicits._
    val root = tempDir("mf-delete")
    // part 0: v in [0,9]; part 1: v in [100,109]; part 2: nulls
    val df = ((0 until 10).map(i => (i.toLong, 0, i.toLong)) ++
      (0 until 10).map(i => (100L + i, 1, 100L + i)))
      .toDF("id", "part", "v")
      .unionByName(Seq((200L, 2)).toDF("id", "part")
        .withColumn("v", lit(null).cast("long")))
    ManifestStore.createTables(spark, root, Seq((
      ManifestStore.TableDef("t", "part", statsCols = Seq("v")), df)))
    val v1 = ManifestStore.tableEntries(spark, root, "t")
      .map(e => e.part -> e.dir).toMap
    // delete v < 5: part 0 rewritten, parts 1 & 2 provably disjoint /
    // null-kept — part 1 must carry over BY REFERENCE (same dir)
    val touched = ManifestStore.deleteWhere(spark, root,
      col("v") < 5, table = "t")
    assert(touched === Seq("0"))
    val v2 = ManifestStore.tableEntries(spark, root, "t")
      .map(e => e.part -> e.dir).toMap
    assert(v2("1") === v1("1"), "disjoint partition must not be rewritten")
    assert(v2("2") === v1("2"), "all-null partition must not be rewritten")
    assert(v2("0") !== v1("0"))
    val got = ManifestStore.readTable(spark, root, "t")
      .select("id").as[Long].collect().toSet
    assert(got === ((5 until 10).map(_.toLong) ++
      (0 until 10).map(100L + _) ++ Seq(200L)).toSet)
    // NULL verdict keeps the row (id 200 has v = null)
    ManifestStore.deleteWhere(spark, root, col("v") < 1000, table = "t")
    assert(ManifestStore.readTable(spark, root, "t")
      .select("id").as[Long].collect().toSet === Set(200L))
    // a delete matching nothing (stats prove it) commits NO version
    val vNow = ManifestStore.currentVersion(spark, root).get
    ManifestStore.deleteWhere(spark, root, col("v") < 1000, table = "t")
    assert(ManifestStore.currentVersion(spark, root).get === vNow,
      "no-candidate delete must not bump the version")
  }

  test("Delete on an append-only table retires only the candidate " +
      "segments; DeleteKeys is pure metadata and idempotent") {
    import spark.implicits._
    val root = tempDir("mf-delete-app")
    ManifestStore.createTables(spark, root, Seq((
      ManifestStore.TableDef("t", "", statsCols = Seq("v")),
      (0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"))))
    ManifestStore.commitTables(spark, root)(Seq(ManifestStore.Append(
      "t", (0 until 10).map(i => (100L + i, 100L + i))
        .toDF("id", "v"))))
    val before = ManifestStore.tableEntries(spark, root, "t")
      .map(_.dir).toSet
    ManifestStore.deleteWhere(spark, root, col("v") >= 100, table = "t")
    val after = ManifestStore.tableEntries(spark, root, "t")
      .map(_.dir).toSet
    // the low segment survives untouched; the high one is gone and
    // (being fully matched) nothing replaced it
    assert(after.size === 1 && before.contains(after.head))
    assert(ManifestStore.readTable(spark, root, "t")
      .select("id").as[Long].collect().toSet ===
      (0 until 10).map(_.toLong).toSet)
    // DeleteKeys: keyed store, metadata-only drop, re-delete free
    val root2 = tempDir("mf-delkeys")
    ManifestStore.create(spark, root2, rows(0 until 8, "a"), "part")
    val v1 = ManifestStore.currentVersion(spark, root2).get
    val dirs1 = ManifestStore.tableEntries(spark, root2, "t").map(_.dir).toSet
    assert(ManifestStore.deletePartitions(spark, root2, Seq("1", "9"))
      === Seq("1"))
    val dirs2 = ManifestStore.tableEntries(spark, root2, "t").map(_.dir).toSet
    assert(dirs2.subsetOf(dirs1) && dirs1.size - dirs2.size === 1,
      "key drop must stage nothing and retire exactly one entry")
    assert(ManifestStore.currentVersion(spark, root2).get === v1 + 1)
    assert(ManifestStore.deletePartitions(spark, root2, Seq("1"))
      === Seq.empty)
    assert(ManifestStore.currentVersion(spark, root2).get === v1 + 1,
      "re-delivered key delete must commit nothing")
    assert(ManifestStore.readTable(spark, root2, "t").select("part").distinct()
      .as[Int].collect().toSet === Set(0, 2, 3))
  }

  test("mayMatch: all-null tag 'n' skips every null-false shape but " +
      "never null-matching ones; StringStartsWith prunes by prefix " +
      "interval in unsigned-byte order") {
    import org.apache.spark.sql.sources._
    val n = Seq(ManifestStore.ColStat("c", "n", "", ""))
    assert(!ManifestStore.mayMatch(n, EqualTo("c", "x")))
    assert(!ManifestStore.mayMatch(n, LessThan("c", "x")))
    assert(!ManifestStore.mayMatch(n, In("c", Array("x", "y"))))
    assert(!ManifestStore.mayMatch(n, IsNotNull("c")))
    assert(!ManifestStore.mayMatch(n, StringStartsWith("c", "x")))
    assert(ManifestStore.mayMatch(n, IsNull("c")), "IsNull must not skip")
    assert(ManifestStore.mayMatch(n, EqualNullSafe("c", null)))
    // prefix interval [p, nextPrefix(p)) against [min,max]
    val s = Seq(ManifestStore.ColStat("c", "s", "banana", "cherry"))
    assert(ManifestStore.mayMatch(s, StringStartsWith("c", "ba")))
    assert(ManifestStore.mayMatch(s, StringStartsWith("c", "c")))
    assert(!ManifestStore.mayMatch(s, StringStartsWith("c", "a")),
      "prefix entirely below min must skip")
    assert(!ManifestStore.mayMatch(s, StringStartsWith("c", "d")),
      "prefix entirely above max must skip")
    // boundary: min itself carries the prefix
    assert(ManifestStore.mayMatch(s, StringStartsWith("c", "banana")))
    // multi-byte UTF-8 prefix (U+FFFF = EF BF BF): the increment works
    // on the raw byte tail, and a segment sitting entirely at the top
    // of the code space still matches its own prefix
    val hi = Seq(ManifestStore.ColStat("c", "s", "￿￿", "￿￿"))
    assert(ManifestStore.mayMatch(hi, StringStartsWith("c", "￿")))
    assert(!ManifestStore.mayMatch(s, StringStartsWith("c", "￿")))
  }

  test("pruneFilters translation: literal-side casts fold, sound " +
      "column-side casts unwrap (int→long, ntz↔ts under UTC), unsound " +
      "shapes translate to nothing") {
    import spark.implicits._
    import org.apache.spark.sql.sources
    val df = Seq((1, 1.5f, "a"))
      .toDF("i", "f", "s")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf(
        "2020-01-02 03:04:05")).cast("timestamp_ntz"))
    // literal coerced up to the column's type (folds to Literal)
    assert(ManifestStore.pruneFilters(df, col("i") < 5)
      === Seq(sources.LessThan("i", 5)))
    // column cast up to the literal's wider type — unwrapped
    assert(ManifestStore.pruneFilters(df, col("i") < lit(5L))
      === Seq(sources.LessThan("i", 5L)))
    assert(ManifestStore.pruneFilters(df, col("f") < lit(0.5d))
      === Seq(sources.LessThan("f", 0.5d)))
    // ntz column vs instant literal: cast on the column, UTC session
    val t = java.sql.Timestamp.valueOf("2020-06-01 00:00:00")
    val fs = ManifestStore.pruneFilters(df, col("ts") < lit(t))
    assert(fs === Seq(sources.LessThan("ts", t)))
    // conjuncts split; the untranslatable half drops, the rest stays
    val mixed = ManifestStore.pruneFilters(df,
      col("i") < 5 && length(col("s")) > 1)
    assert(mixed === Seq(sources.LessThan("i", 5)))
    // string-typed comparison on a numeric column (cast DOWN the
    // column to string) is NOT order-preserving — no pruning
    assert(ManifestStore.pruneFilters(df,
      col("i").cast("string") < "3").isEmpty)
  }

  test("Merge applies update + insert + tombstone in one atomic " +
      "commit; envelope column never stages; tombstone-emptied " +
      "partition retires; deletes flow through the change feed") {
    import spark.implicits._
    val root = tempDir("mf-merge")
    // part 0: ids 0,1; part 1: ids 10,11; part 2: id 20 (to be emptied)
    val base = Seq((0L, 0, "a-0"), (1L, 0, "a-1"), (10L, 1, "a-10"),
      (11L, 1, "a-11"), (20L, 2, "a-20")).toDF("id", "part", "v")
    ManifestStore.createTables(spark, root, Seq((
      ManifestStore.TableDef("t", "part"), base)))
    val src = Seq(
      (1L, 0, "b-1", "U"),   // update id 1
      (2L, 0, "b-2", "I"),   // insert id 2
      (20L, 2, "a-20", "D")) // tombstone id 20 — empties part 2
      .toDF("id", "part", "v", "_op")
    val touched = ManifestStore.mergeInto(spark, root, src, idCol = "id",
      deleteWhen = Some(col("_op") === "D"), table = "t",
      envelope = Seq("_op"))
    assert(touched === Seq("0", "2"))
    val got = contents(ManifestStore.readTable(spark, root, "t"))
    assert(got === Set((0L, 0, "a-0"), (1L, 0, "b-1"), (2L, 0, "b-2"),
      (10L, 1, "a-10"), (11L, 1, "a-11")))
    assert(!ManifestStore.readTable(spark, root, "t").columns
      .contains("_op"), "envelope column must never stage")
    assert(ManifestStore.tableEntries(spark, root, "t")
      .forall(_.part != "2"), "tombstone-emptied partition must retire")
    // the feed sees exactly the net changes: one update (delete+insert
    // pair), one insert, one delete
    val feed = ManifestStore.changeFeed(spark, root, "t", 1L, 2L)
      .select("_change_type", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(feed === Set(("delete", 1L, "a-1"), ("insert", 1L, "b-1"),
      ("insert", 2L, "b-2"), ("delete", 20L, "a-20")))
    // re-delivered batch: content-identical (CDC re-apply safe)
    ManifestStore.mergeInto(spark, root, src, idCol = "id",
      deleteWhen = Some(col("_op") === "D"), table = "t",
      envelope = Seq("_op"))
    assert(contents(ManifestStore.readTable(spark, root, "t")) === got)
    // an envelope name colliding with a live column fails loudly
    // (declaring 'v' envelope would silently drop it for the touched
    // partitions — the evolution check refuses)
    val bad = intercept[IllegalArgumentException] {
      ManifestStore.mergeInto(spark, root, src, idCol = "id",
        deleteWhen = Some(lit(false)), table = "t",
        envelope = Seq("v", "_op"))
    }
    assert(bad.getMessage.contains("missing live column"))
  }

  test("manifest-spec delimiters are refused in table names and " +
      "partition/stats column names") {
    // a '|' partCol would round-trip as a different key + phantom
    // stats list on the NEXT commit; a ';'/'=' table name corrupts the
    // header spec itself
    intercept[IllegalArgumentException] {
      ManifestStore.TableDef("t", "a|b")
    }
    intercept[IllegalArgumentException] {
      ManifestStore.TableDef("t;u", "k")
    }
    intercept[IllegalArgumentException] {
      ManifestStore.TableDef("t=u", "k")
    }
    intercept[IllegalArgumentException] {
      ManifestStore.TableDef("t", "k", statsCols = Seq("a|b"))
    }
  }

  test("mfStatsSkipGate: skipping and conservation booleans all hold") {
    val row = graft.operators.Layout.manifestStatsSkipGate(spark, sf)
      .collect().head
    assert(row.getBoolean(2), "scala_skip_prunes")
    assert(row.getBoolean(3), "facade_where_skips")
    assert(row.getBoolean(4), "rows_identical")
    assert(row.getBoolean(5), "bytes_recorded")
    assert(row.getLong(1) > 0)
  }

  /** Recursive (relative path → (length, content hash)) inventory —
    * byte-level immutability checks. */
  private def inventory(root: String): Map[String, (Long, Long)] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) return Map.empty
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    java.nio.file.Files.walk(base).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p)) {
        val bytes = java.nio.file.Files.readAllBytes(p)
        var h = 1125899906842597L
        bytes.foreach(b => h = h * 31 + b)
        out(base.relativize(p).toString) = (bytes.length.toLong, h)
      }
    }
    out.toMap
  }
}
