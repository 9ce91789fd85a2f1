package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.ManifestStore

/** The SQL front door over the manifest store
  * ([[graft.sources.ManifestSource]]): `spark.read.format(
  * "graft-manifest")` must (a) return exactly the Scala API's rows,
  * (b) resolve to the REAL pruned multi-root parquet scan — not a
  * wrapper operator — so filters push down and columns prune, (c)
  * honor `version` time travel, and (d) stay correct on the
  * selections that cannot be one file relation (schema-evolved) via
  * the row-scan relation. */
class ManifestFacadeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"

  private def rows(ids: Range, tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, i % 4, s"$tag-$i")).toDF("id", "part", "v")
  }

  private def facade(root: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft-manifest")) {
      case (r, (k, v)) => r.option(k, v)
    }.load(root)

  test("facade read == Scala API read; the plan IS the pruned parquet " +
      "file scan; filters push down to the scan") {
    val root = tempDir("mff-plan")
    ManifestStore.create(spark, root, rows(0 until 40, "a"), "part")
    val viaApi = ManifestStore.read(spark, root, parts = Some(Seq("2")))
      .collect().map(_.toSeq).toSet
    val df = facade(root, "parts" -> "2")
    assert(df.collect().map(_.toSeq).toSet === viaApi)
    // manifest-level pruning happened before Spark listed anything:
    // only part=2 leaf dirs reach the scan
    assert(df.inputFiles.nonEmpty)
    assert(df.inputFiles.forall(_.contains("part__p=2")))
    // the executed plan is the native parquet FileScan (the facade
    // unwrapped to the file relation), with predicate pushdown intact
    val plan = df.filter(col("id") === 2L).queryExecution
      .executedPlan.toString
    assert(plan.contains("FileScan parquet"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)"),
      plan)
    // a parquet file dropped into a committed leaf dir without a commit
    // is read by neither door: the scan reads the recorded files only
    val leaf = new java.io.File(df.inputFiles.head.stripPrefix("file:"))
    java.nio.file.Files.copy(leaf.toPath,
      leaf.toPath.resolveSibling("part-99999-stray.zstd.parquet"))
    assert(ManifestStore.read(spark, root).count() === 40)
    assert(facade(root).count() === 40)
    assert(facade(root, "parts" -> "2").collect().map(_.toSeq).toSet
      === viaApi)
    // resolving either door's frame starts no Spark job: the scan is
    // built from the manifest alone (a listener sees every job start in
    // order, so a fence job marks the end of the window)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(
          e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("mff-resolve", "resolve only")
      ManifestStore.read(spark, root).schema
      facade(root).schema
      facade(root, "parts" -> "1").createOrReplaceTempView("mff_jobs_v")
      spark.table("mff_jobs_v").columns
      sc.setJobGroup("mff-fence", "fence")
      spark.range(1).collect()
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains("mff-fence") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.contains("mff-fence"))
      assert(!seen.contains("mff-resolve"),
        "resolving a manifest read must start no Spark job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a plain SQL WHERE on the key prunes at the MANIFEST level: " +
      "unmatched partitions are never listed, never scanned") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val root = tempDir("mff-where")
    ManifestStore.create(spark, root, rows(0 until 40, "a"), "part")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = facade(root) // NO parts option — the WHERE must do it
      df.createOrReplaceTempView("mff_where_v")
      val q = spark.sql(
        "SELECT id, part, v FROM mff_where_v WHERE part = 2")
      val got = q.collect().map(_.toSeq).toSet
      val want = ManifestStore.read(spark, root, parts = Some(Seq("2")))
        .select("id", "part", "v").collect().map(_.toSeq).toSet
      assert(got === want)
      assert(got.nonEmpty)
      // the manifest index saw the partition filter and selected ONLY
      // part 2 — the other three partitions' dirs were never listed
      val index = q.queryExecution.analyzed.collectFirst {
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
          h.location.asInstanceOf[graft.sources.ManifestFileIndex]
      }.get
      assert(index.lastSelectedParts === Some(Seq("2")))
      // and the executed scan touched exactly part 2's files
      val scan = q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }.head
      val part2Files = index.inputFiles.count(_.contains("part__p=2"))
      assert(scan.metrics("numFiles").value === part2Files)
      assert(part2Files < index.inputFiles.length)
      // the key rides as a PartitionFilter, not a pushed data filter
      assert(scan.metadata("PartitionFilters").contains("part"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a facade WHERE on a stats column skips segments for every shape " +
      "the store's translator knows: LIKE prefix, IS NOT NULL, long IN") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val root = tempDir("mff-stats")
    // one segment per key: part 0 names "aa-*", part 1 "bb-*", part 2
    // only nulls (its stat is the all-null tag)
    val data = (0 until 12).map { i =>
      val p = i % 3
      (i.toLong, p, if (p == 2) None else Some(Seq("aa", "bb")(p) + s"-$i"))
    }.toDF("id", "part", "name")
    ManifestStore.createTables(spark, root, Seq((
      ManifestStore.TableDef("t", "part", statsCols = Seq("name")), data)))
    facade(root, "table" -> "t").createOrReplaceTempView("mff_stats_v")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def selected(where: String): (Set[Long], Option[Seq[String]]) = {
        val q = spark.sql(s"SELECT id FROM mff_stats_v WHERE $where")
        val ids = q.collect().map(_.getLong(0)).toSet
        val index = q.queryExecution.analyzed.collectFirst {
          case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
            h.location.asInstanceOf[graft.sources.ManifestFileIndex]
        }.get
        (ids, index.lastSelectedParts)
      }
      // prefix: only part 1's segment can hold a "bb" name
      assert(selected("name LIKE 'bb%'") ===
        ((Set(1L, 4L, 7L, 10L), Some(Seq("1")))))
      // IS NOT NULL: the all-null segment holds no match
      assert(selected("name IS NOT NULL") ===
        ((Set(0L, 1L, 3L, 4L, 6L, 7L, 9L, 10L), Some(Seq("0", "1")))))
      // a long IN list reaches the index as InSet
      val names = (0 until 12).map(i => s"'bb-$i'").mkString(", ")
      assert(selected(s"name IN ($names)") ===
        ((Set(1L, 4L, 7L, 10L), Some(Seq("1")))))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a facade WHERE on a stats column skips append-only segments: " +
      "the selected dirs show which segments survived") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val root = tempDir("mff-stats-append")
    // three segments, all under part "": ids 0-9, 10-19, 20-29
    ManifestStore.createTables(spark, root, Seq((
      ManifestStore.TableDef("t", "", statsCols = Seq("id")),
      (0L until 10L).toDF("id"))))
    for (lo <- Seq(10L, 20L))
      ManifestStore.commitTables(spark, root)(Seq(
        ManifestStore.Append("t", (lo until lo + 10L).toDF("id"))))
    val segs = ManifestStore.tableEntries(spark, root, "t").map(_.dir)
    assert(segs.size === 3)
    facade(root, "table" -> "t").createOrReplaceTempView("mff_append_v")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def selected(where: String) = {
        val q = spark.sql(s"SELECT id FROM mff_append_v WHERE $where")
        val ids = q.collect().map(_.getLong(0)).toSet
        val index = q.queryExecution.analyzed.collectFirst {
          case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
            h.location.asInstanceOf[graft.sources.ManifestFileIndex]
        }.get
        (ids, index.lastSelectedParts, index.lastSelectedDirs)
      }
      // the one segment whose id range holds 12..14 survives; the part
      // list alone cannot tell it from a read of all three
      val holding12 = segs.filter(d =>
        spark.read.parquet(s"$root/$d").filter(col("id") === 12L)
          .count() == 1L)
      assert(holding12.size === 1)
      assert(selected("id >= 12 AND id < 15") ===
        ((Set(12L, 13L, 14L), Some(Seq("")), Some(holding12))))
      val (all, allParts, allDirs) = selected("id >= 0")
      assert(all === (0L until 30L).toSet)
      assert(allParts === Some(Seq("")))
      assert(allDirs.map(_.sorted) === Some(segs.sorted))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dynamic partition pruning reaches the manifest index through " +
      "a broadcast join: partitions the dim filter excludes are never " +
      "scanned") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val root = tempDir("mff-dpp")
    ManifestStore.create(spark, root, rows(0 until 40, "a"), "part")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val f = facade(root)
      // the dim must be a REAL source (not a LocalRelation): a filter
      // over local rows constant-folds away before the PartitionPruning
      // rule could see a selective predicate to prune by
      val dimPath = tempDir("mff-dpp-dim")
      Seq((2, "keep"), (3, "drop")).toDF("part", "tag")
        .write.parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      val q = f.join(
        org.apache.spark.sql.functions.broadcast(
          dim.filter(col("tag") === "keep")), Seq("part"))
      // collect q ITSELF — the metric/plan assertions below must read
      // the executed instance, not a derived frame's fresh plan
      val got = q.collect()
      assert(got.length === 10) // ids ≡ 2 (mod 4) of 0..39
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collect { case s: FileSourceScanExec
        if s.relation.location.isInstanceOf[graft.sources.ManifestFileIndex]
        => s }.head
      // the runtime filter reached the scan as a partition filter…
      assert(scan.partitionFilters.exists(pf => pf.find(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .DynamicPruningExpression]).isDefined),
        s"no runtime pruning filter in: ${scan.partitionFilters}")
      // …and the executed scan touched ONLY part 2's files
      val index = scan.relation.location
        .asInstanceOf[graft.sources.ManifestFileIndex]
      val part2Files = index.inputFiles.count(_.contains("part__p=2"))
      assert(scan.metrics("numFiles").value === part2Files)
      assert(part2Files < index.inputFiles.length)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("keyInData tables keep the exact Scala-read schema and column " +
      "order; the key column is served from the manifest, not the files") {
    val root = tempDir("mff-order")
    ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    val viaApi = ManifestStore.read(spark, root)
    val df = facade(root)
    // one relation builder: the same fields, types and nullability
    assert(df.schema === viaApi.schema)
    assert(df.collect().map(_.toSeq).toSet
      === viaApi.collect().map(_.toSeq).toSet)
  }

  test("mf_facade_pruned gate: WHERE-only pruning booleans hold and " +
      "the aggregate equals the direct filtered aggregate") {
    val got = graft.operators.Layout.manifestFacadePruned(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(got.forall(_._4), s"where_pruned must hold: ${got.toSeq}")
    assert(got.forall(_._5), s"scan_files_pruned must hold: ${got.toSeq}")
    val want = Tables.load(spark, sf, "lineitem")
      .filter(col("l_returnflag").isin("A", "N"))
      .groupBy("l_returnflag")
      .agg(graft.operators.Relational.dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === want.toSeq)
  }

  test("version option time-travels; default reads the newest") {
    val root = tempDir("mff-travel")
    val base = rows(0 until 20, "a")
    ManifestStore.create(spark, root, base, "part")
    ManifestStore.upsertPartitions(spark, root,
      rows(20 until 30, "b"), "part")
    assert(facade(root, "version" -> "1").count() === 20)
    assert(facade(root).count() === 30)
    // two loads of one version are the same plan; of two versions not
    assert(facade(root, "version" -> "2").sameSemantics(
      facade(root, "version" -> "2")))
    assert(!facade(root, "version" -> "1").sameSemantics(
      facade(root, "version" -> "2")))
    val e = intercept[IllegalArgumentException] {
      facade(root, "version" -> "9").collect()
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("multi-table store: the table option selects; unknown loud") {
    import spark.implicits._
    val root = tempDir("mff-multi")
    ManifestStore.createTables(spark, root, Seq(
      (ManifestStore.TableDef("docs", ""),
        Seq((1L, "x"), (2L, "y")).toDF("id", "v")),
      (ManifestStore.TableDef("keyed", "part"),
        rows(0 until 8, "a"))))
    assert(facade(root, "table" -> "docs").count() === 2)
    assert(facade(root, "table" -> "keyed").count() === 8)
    val e = intercept[IllegalArgumentException] {
      facade(root, "table" -> "nope").collect()
    }
    assert(e.getMessage.contains("no table"))
  }

  test("evolved and empty selections fall back correctly: unioned " +
      "rows with the union schema; empty frame with the union schema") {
    import spark.implicits._
    val root = tempDir("mff-evolved")
    ManifestStore.create(spark, root,
      Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "part", "v"), "part")
    ManifestStore.upsertPartitions(spark, root,
      Seq((3L, 0, "c", 9.5)).toDF("id", "part", "v", "score"), "part")
    val evolved = facade(root)
    assert(evolved.columns.toSet === Set("id", "part", "v", "score"))
    assert(evolved.count() === 3)
    assert(evolved.filter(col("score").isNotNull).count() === 1)
    val empty = facade(root, "parts" -> "99")
    assert(empty.count() === 0)
    assert(empty.columns.toSet === Set("id", "part", "v", "score"))
  }

  test("mf_facade_time_travel gate: v1 replays the raw aggregate, v2 " +
      "shows the replaced partition doubled, others untouched") {
    val got = graft.operators.Layout.manifestFacadeTimeTravel(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    val raw = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(graft.operators.Relational.dsum(col("l_quantity")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = raw.keys.toSeq.sorted.map(f => (1, f, raw(f))) ++
      raw.keys.toSeq.sorted.map(f =>
        (2, f, if (f == "A") raw(f) * 2 else raw(f)))
    assert(got.toSeq === want)
  }

  test("mf_facade_read gate: the spark.sql aggregate through the view " +
      "equals the direct aggregate under the equivalent IN filter") {
    val got = graft.operators.Layout.manifestFacadeRead(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val want = Tables.load(spark, sf, "lineitem")
      .filter(col("l_returnflag").isin("A", "N"))
      .groupBy("l_returnflag")
      .agg(graft.operators.Relational.dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
    assert(got.map(_._1).toSeq === Seq("A", "N")) // pruning value-visible
  }

  test("write facade: create on a fresh root, append adds rows, " +
      "overwrite replaces only the touched partitions — one atomic " +
      "commit each") {
    import spark.implicits._
    val root = tempDir("mff-write")
    val base = rows(0 until 12, "a")
    base.write.format("graft-manifest").option("key", "part").save(root)
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    // append = add-rows upsert (live rows kept)
    rows(12 until 16, "b").write.format("graft-manifest")
      .mode("append").save(root)
    assert(ManifestStore.read(spark, root).count() === 16)
    // overwrite = dynamic partition replace: part 2 only
    Seq((99L, 2, "fix")).toDF("id", "part", "v")
      .write.format("graft-manifest").mode("overwrite").save(root)
    val after = ManifestStore.read(spark, root)
    assert(after.filter(col("part") === 2).count() === 1)
    assert(after.filter(col("part") =!= 2).count() === 12)
    assert(ManifestStore.versions(spark, root) === Seq(1L, 2L, 3L))
    // and time travel still replays the pre-overwrite state
    assert(ManifestStore.read(spark, root, version = Some(2L))
      .count() === 16)
  }

  test("write facade: mergeId append replaces matching ids instead of " +
      "keeping them") {
    import spark.implicits._
    val root = tempDir("mff-mergeid")
    rows(0 until 8, "a").write.format("graft-manifest")
      .option("key", "part").save(root)
    Seq((3L, 3, "fixed")).toDF("id", "part", "v")
      .write.format("graft-manifest").mode("append")
      .option("mergeId", "id").save(root)
    val got = ManifestStore.read(spark, root)
      .filter(col("id") === 3L).collect()
    assert(got.length === 1)
    assert(got.head.getString(2) === "fixed")
    assert(ManifestStore.read(spark, root).count() === 8)
  }

  test("facade CDC merge options: deleteWhen+mergeId+envelope apply " +
      "tombstones through the writer; deleteWhen without mergeId or " +
      "with overwrite is refused") {
    import spark.implicits._
    val root = tempDir("mff-merge")
    Seq((0L, 0, "a-0"), (1L, 0, "a-1"), (20L, 2, "a-20"))
      .toDF("id", "part", "v")
      .write.format("graft-manifest").option("key", "part").save(root)
    val src = Seq((1L, 0, "b-1", "U"), (2L, 0, "b-2", "I"),
      (20L, 2, "a-20", "D")).toDF("id", "part", "v", "_op")
    src.write.format("graft-manifest")
      .option("key", "part").option("mergeId", "id")
      .option("deleteWhen", "_op = 'D'").option("envelope", "_op")
      .mode("append").save(root)
    val got = ManifestStore.readTable(spark, root, "t")
      .select("id", "part", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got === Set((0L, 0, "a-0"), (1L, 0, "b-1"), (2L, 0, "b-2")))
    assert(!ManifestStore.readTable(spark, root, "t").columns
      .contains("_op"))
    val e1 = intercept[IllegalArgumentException] {
      src.write.format("graft-manifest")
        .option("deleteWhen", "_op = 'D'").option("envelope", "_op")
        .mode("append").save(root)
    }
    assert(e1.getMessage.contains("needs mergeId"))
    val e2 = intercept[IllegalArgumentException] {
      src.write.format("graft-manifest")
        .option("mergeId", "id").option("deleteWhen", "_op = 'D'")
        .option("envelope", "_op").mode("overwrite").save(root)
    }
    assert(e2.getMessage.contains("mode(\"append\") only"))
  }

  test("write facade refusals: errorifexists on an initialized root, " +
      "key mismatch, overwrite on append-only; ignore is a no-op") {
    import spark.implicits._
    val root = tempDir("mff-wrefuse")
    rows(0 until 8, "a").write.format("graft-manifest")
      .option("key", "part").save(root)
    // default mode is errorifexists — loud on an initialized root
    val e1 = intercept[IllegalStateException] {
      rows(0 until 4, "b").write.format("graft-manifest").save(root)
    }
    assert(e1.getMessage.contains("already initialized"))
    val e2 = intercept[IllegalArgumentException] {
      rows(0 until 4, "b").write.format("graft-manifest")
        .mode("append").option("key", "id").save(root)
    }
    assert(e2.getMessage.contains("keyed by 'part'"))
    // ignore: no version bump, content untouched
    rows(0 until 4, "zzz").write.format("graft-manifest")
      .mode("ignore").save(root)
    assert(ManifestStore.currentVersion(spark, root) === Some(1L))
    // append-only table: overwrite has no partitions to replace
    val root2 = tempDir("mff-wappendonly")
    Seq((1L, "x")).toDF("id", "v").write.format("graft-manifest")
      .save(root2) // no key option -> append-only
    Seq((2L, "y")).toDF("id", "v").write.format("graft-manifest")
      .mode("append").save(root2)
    assert(facade(root2).count() === 2)
    val e3 = intercept[IllegalArgumentException] {
      Seq((3L, "z")).toDF("id", "v").write.format("graft-manifest")
        .mode("overwrite").save(root2)
    }
    assert(e3.getMessage.contains("append-only"))
  }

  test("raw SQL INSERT INTO a facade view is refused at ANALYSIS — " +
      "before InsertIntoHadoopFsRelationCommand's overwrite-delete " +
      "step could touch anything; segment dirs stay immutable") {
    val root = tempDir("mff-insert")
    ManifestStore.create(spark, root, rows(0 until 8, "a"), "part")
    facade(root).createOrReplaceTempView("mff_insert_v")
    val before = ManifestStore.read(spark, root).count()
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    // the two-rootPaths guard fires Spark's analysis-time MULTI_PATH
    // refusal for plain INSERT...
    val e = intercept[Throwable] {
      spark.sql("INSERT INTO mff_insert_v VALUES (99, 0, 'rogue')")
    }
    assert(messages(e).exists(_.contains("single path")),
      s"unexpected refusal: ${messages(e)}")
    // ...and crucially for INSERT OVERWRITE, whose command DELETES the
    // output path before writing — the store must be untouched
    val e2 = intercept[Throwable] {
      spark.sql("INSERT OVERWRITE TABLE mff_insert_v " +
        "VALUES (99, 0, 'rogue')")
    }
    assert(messages(e2).exists(_.contains("single path")),
      s"unexpected refusal: ${messages(e2)}")
    assert(ManifestStore.read(spark, root).count() === before)
    // the evolved-table relation refuses too (TableScan relation)
    import spark.implicits._
    val root2 = tempDir("mff-insert2")
    ManifestStore.createTables(spark, root2, Seq(
      (ManifestStore.TableDef("docs", ""),
        Seq((1L, "x")).toDF("id", "v"))))
    ManifestStore.commitTables(spark, root2)(Seq(ManifestStore.Append(
      "docs", Seq((2L, "y", 0.5)).toDF("id", "v", "score"))))
    val evolved = facade(root2, "table" -> "docs")
    assert(evolved.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
        if l.relation.isInstanceOf[graft.sources.ManifestFrameRelation] => l
    }.isDefined)
    evolved.createOrReplaceTempView("mff_insert_docs")
    intercept[Throwable] {
      spark.sql("INSERT INTO mff_insert_docs VALUES (9, 'rogue', 1.0)")
    }
    assert(ManifestStore.readTable(spark, root2, "docs").count() === 2)
  }

  test("mf_facade_write gate: the three-commit replay matches the " +
      "direct computation") {
    val got = graft.operators.Layout.manifestFacadeWrite(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3)))
    assert(got.forall(_._4), s"three_commits must hold: ${got.toSeq}")
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
    val eff = li.filter(col("l_returnflag") === "A")
      .select(col("l_returnflag"), (col("l_quantity") * 2).as("q"))
      .union(li.filter(col("l_returnflag") =!= "A")
        .select(col("l_returnflag"), col("l_quantity").as("q")))
      .union(li.filter(col("l_returnflag") === "N")
        .select(col("l_returnflag"), col("l_quantity").as("q")))
    val want = eff.groupBy("l_returnflag")
      .agg(graft.operators.Relational.dsum(col("q")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === want.toSeq)
  }
}
