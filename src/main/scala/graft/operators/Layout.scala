package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Physical-layout operators: the multi-dimensional clustering audit a
  * 100 TB table runs when it bakes a Z-order (Morton) curve into its
  * file layout.
  *
  * Why this is an engine capability and not an afterthought: parquet
  * data skipping prunes files by per-file min/max column stats, which
  * only helps when each file covers a NARROW range of the filter
  * column. A table can only be range-sorted on one key — Z-ordering
  * interleaves the bits of two keys so files stay narrow on BOTH
  * (each Z-range is a small rectangle in (x, y) space), which is what
  * lakehouse OPTIMIZE ZORDER jobs rewrite files by. The operator here
  * computes the curve position and emits the audit such a job reports:
  * per-Z-bucket row counts and (x, y) bounding boxes, whose areas
  * quantify how much data skipping a two-key predicate would get.
  *
  * The bit-interleave is a pure integer Column expression (shift/and/
  * or terms — codegen'd, no UDF), generated by the same loop that
  * emits the oracle's SQL, so Spark and DuckDB compute identical
  * 32-bit Morton codes. Scale shape: one narrow scan, one aggregate
  * keyed on the bounded bucket count; in production the same `zValue`
  * column is what `repartitionByRange` + per-file write orders by. */
object Layout {

  /** 32-bit Morton code: interleave the low 16 bits of x (even bit
    * positions) and y (odd positions). */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .plus(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)

  /** The matching oracle-side SQL for [[zValue]], generated by the same
    * loop so the term order and masking agree exactly. */
  def zValueSql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Join-key skew audit — the diagnostic that decides whether a join
    * needs salting ([[Relational.saltedJoin]]'s knob) or AQE skew
    * splitting before it runs at scale: per-key row counts on
    * lineitem's l_partkey reduced to the numbers that matter — total
    * keys, max/mean per-key cardinality, the skew ratio between them,
    * and the top-10 heaviest keys (count-desc, key-asc tie-break,
    * WindowGroupLimit-pruned). A skew ratio near 1 means hash
    * partitions balance; a mega-key shows up here long before it shows
    * up as one straggler task holding a 1000-executor stage hostage.
    * One scan, one aggregate on the key, then key-count-sized work. */
  def skewAudit(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      max(col("n")).as("max_n"),
      graft.functions.Num.t6(sum(col("n")) / count(lit(1))).as("mean_n"))
    val w = Window.orderBy(col("n").desc, col("l_partkey"))
    counts
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .crossJoin(broadcast(stats))
      .select(col("rnk"), col("l_partkey"), col("n"), col("n_keys"),
        col("max_n"), col("mean_n"),
        graft.functions.Num.t6(col("max_n") / col("mean_n"))
          .as("skew_ratio"))
      .orderBy("rnk")
  }

  /** Small-files compaction plan — the OPTIMIZE/rewrite manifest a
    * 100 TB lake computes before merging millions of under-sized files
    * into target-sized ones (small files are THE operational tax at
    * scale: per-file open cost, per-file planning cost, starved scan
    * parallelism). Files here are the documents table's rows (one
    * "file" of `n_chars` bytes each — the metadata inventory a real
    * planner reads from the table log); the plan packs each source's
    * files next-fit-decreasing into `targetBytes` merge groups and
    * emits the per-group manifest (file count, bytes, size range).
    *
    * Scale shape: the global running sum in size order that next-fit
    * packing needs is the single-partition-window anti-pattern, so it
    * is decomposed EXACTLY as [[graft.operators.Curation.tokenBudget]]'s
    * cut: files band by integer bit-length of their size (≤ 64 bands,
    * no FP log at a band boundary), the running sum is a per-(source,
    * band) partitioned window, and each band adds the broadcast prefix
    * of all larger bands. Bit-length is monotone in size, so band-major
    * order IS (bytes desc, doc_id) order and the banded sum equals the
    * oracle's global window bit-for-bit (integer sums — nothing to
    * reassociate). The scan reads three metadata columns, never text. */
  def compactionPlan(s: SparkSession, dir: String,
      targetBytes: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars").as("bytes"))
      // both lanes define degenerate sizes identically: excluded
      .filter(col("bytes") > 0)
      .withColumn("band", length(bin(col("bytes"))).cast("long"))
    val bandTot = files.groupBy(col("source"), col("band"))
      .agg(sum(col("bytes")).as("btot"))
    val wPre = Window.partitionBy(col("source")).orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val meta = bandTot
      .withColumn("prefix", coalesce(sum(col("btot")).over(wPre), lit(0L)))
      .select(col("source"), col("band"), col("prefix"))
    val wIn = Window.partitionBy(col("source"), col("band"))
      .orderBy(col("bytes").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum_in_band", sum(col("bytes")).over(wIn))
      .join(broadcast(meta), Seq("source", "band"))
      .withColumn("grp",
        floor((col("prefix") + col("cum_in_band") - col("bytes"))
          / lit(targetBytes.toDouble)).cast("long"))
      .groupBy(col("source"), col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("grp_bytes"),
        max(col("bytes")).as("max_file"), min(col("bytes")).as("min_file"))
      .orderBy("source", "grp")
  }

  /** File-skipping PROOF for the clustering lane — the gate that turns
    * [[zorderStats]]/[[compactionPlan]]'s "clustering quality" reports
    * into a demonstrated I/O property: write the SAME relation twice,
    * once range-clustered on the predicate column (each file a narrow
    * contiguous l_partkey slice — the single-key projection of what an
    * OPTIMIZE ZORDER rewrite buys on every z-dimension) and once
    * hash-scattered on an uncorrelated key (every file spans the full
    * domain), then evaluate a selective range predicate against each
    * copy's PER-FILE min/max stats — exactly the footer stats parquet
    * data skipping prunes by.
    *
    * Closed-form booleans (the planted-oracle discipline):
    *  - `unclustered_full_scan`: every scattered file's [min,max]
    *    intersects the range — without clustering, stats prune NOTHING;
    *  - `clustered_skips`: at most half the clustered files intersect
    *    (actually ~range-fraction of them) — the layout alone turned a
    *    full scan into a pruned one;
    *  - `rows_agree`: both copies answer the predicate identically —
    *    skipping is free of false negatives.
    * `LayoutSpec` additionally pins the ENGINE-level effect: the
    * clustered scan's parquet reader emits a fraction of the
    * unclustered scan's rows under the pushed predicate (row-group
    * stats skip the non-overlapping groups before any value is
    * decoded).
    *
    * Scale shape: the copies are a bounded-lifecycle scratch write
    * (the ann_ivf_indexed discipline); the stats relation is one
    * `input_file_name` aggregate — file-count-sized, the same class of
    * metadata a table-format manifest stores, which is where a lake
    * would read it from instead of re-deriving it. */
  def layoutSkippingGate(s: SparkSession, dir: String,
      nFiles: Int = 16): DataFrame = {
    val scratch = Similarity.scratchDir(s, "graft-skip-")
    try {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      // the two layout copies are disjoint outputs — overlap (§2.6)
      Par.two(
        li.repartitionByRange(nFiles, col("l_partkey"))
          .write.mode("overwrite").parquet(s"$scratch/clustered"),
        li.repartition(nFiles, col("l_orderkey"))
          .write.mode("overwrite").parquet(s"$scratch/unclustered"))
      val maxPk = li.agg(max(col("l_partkey"))).head().getLong(0)
      val lo = maxPk / 4
      val hi = lo + math.max(maxPk / 16, 8L)
      def stats(path: String): (Long, Long, Long) = {
        val f = s.read.parquet(path)
          .groupBy(input_file_name().as("f"))
          .agg(min(col("l_partkey")).as("mn"),
            max(col("l_partkey")).as("mx"))
          .agg(count(lit(1)).as("files"),
            sum(when(col("mx") >= lo && col("mn") <= hi, 1L)
              .otherwise(0L)).as("olap"))
          .head()
        val rows = s.read.parquet(path)
          .filter(col("l_partkey") >= lo && col("l_partkey") <= hi)
          .count()
        (f.getLong(0), f.getLong(1), rows)
      }
      val ((fc, oc, rc), (fu, ou, ru)) = Par.two(
        stats(s"$scratch/clustered"), stats(s"$scratch/unclustered"))
      import s.implicits._
      Seq((fc >= nFiles / 2 && fu >= nFiles / 2,
        ou == fu,
        oc * 2 <= ou,
        rc == ru))
        .toDF("layouts_written", "unclustered_full_scan",
          "clustered_skips", "rows_agree")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** Rows the parquet READER emits for `pred` over `path` — post
    * row-group skip, pre re-filter. This is the engine-level skipping
    * measurement [[graft.LayoutSpec]] pioneered, shared here so gates
    * can state it as a contract boolean: AQE is toggled off for the
    * probe so the FileSourceScan node (and its `numOutputRows` metric)
    * sits directly in the executed plan, and the probe requires the
    * predicate to reach `PushedFilters` — a measurement of an unpushed
    * filter would silently measure nothing. */
  private def readerRows(s: SparkSession, path: String,
      pred: Column, pushedCol: String): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = s.read.parquet(path).filter(pred).agg(count(lit(1)))
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = plan.collect { case f: FileSourceScanExec => f }
      require(scans.nonEmpty, "no FileSourceScanExec in the probe plan")
      require(scans.head.metadata("PushedFilters").contains(pushedCol),
        s"predicate on $pushedCol must reach PushedFilters")
      scans.head.metrics("numOutputRows").value
    } finally s.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Per-file min/max skipping stats for BOTH z-dimensions in one
    * pass, plus both predicate row counts in a second: (files, y-olap,
    * x-olap, y-rows, x-rows). The same footer-stats evaluation parquet
    * data skipping runs, stated over `input_file_name` — file-count-
    * sized metadata, what a table-format manifest stores. Conditional
    * aggregation keeps it at two scan jobs per layout instead of four
    * (one per dimension per measurement). */
  private def fileRangeStats2(s: SparkSession, path: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long):
      (Long, Long, Long, Long, Long) = {
    val f = s.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_partkey")).as("xmn"), max(col("l_partkey")).as("xmx"),
        min(col("l_suppkey")).as("ymn"), max(col("l_suppkey")).as("ymx"))
      .agg(count(lit(1)).as("files"),
        sum(when(col("ymx") >= yLo && col("ymn") <= yHi, 1L)
          .otherwise(0L)).as("oy"),
        sum(when(col("xmx") >= xLo && col("xmn") <= xHi, 1L)
          .otherwise(0L)).as("ox"))
      .head()
    val c = s.read.parquet(path)
      .agg(
        sum(when(col("l_suppkey") >= yLo && col("l_suppkey") <= yHi, 1L)
          .otherwise(0L)).as("ry"),
        sum(when(col("l_partkey") >= xLo && col("l_partkey") <= xHi, 1L)
          .otherwise(0L)).as("rx"))
      .head()
    (f.getLong(0), f.getLong(1), f.getLong(2), c.getLong(0), c.getLong(1))
  }

  /** Z-ORDER file-skipping proof — the two-dimensional completion of
    * [[layoutSkippingGate]]: a range sort can keep per-file stats
    * narrow on ONE key; interleaving range-bucket ids of two keys
    * (the [[zValue]] curve over per-column equal-width bucket ids —
    * exactly the per-column normalization production OPTIMIZE ZORDER
    * rewrites apply before interleaving, since raw key domains are
    * lopsided) keeps them narrow on BOTH. The gate writes the same
    * lineitem projection twice — range-clustered on `l_partkey` alone,
    * and laid out as ALIGNED Z-CELLS (one file per top-4-bit Morton
    * prefix, via hive `zcell=` partitioning — exact cell boundaries,
    * where a sampled range-partition on the raw code can straddle an
    * x-quadrant transition and go x-wide, since the curve refines y
    * before x between cells) — then evaluates a ~1/8-domain range
    * predicate on EACH dimension against per-file min/max stats.
    *
    * Closed-form booleans:
    *  - `single_key_blind_y`: the single-key layout prunes NOTHING on
    *    the second dimension (every file spans the suppkey domain);
    *  - `single_key_skips_x`: …while pruning well on its own sort key;
    *  - `zorder_skips_y` / `zorder_skips_x`: the z-layout prunes at
    *    most half the files on BOTH dimensions (geometrically: each
    *    file is one aligned z-cell — a 1/4 x 1/4 rectangle — so a
    *    1/8-domain slab intersects exactly the 4 of 16 cells in its
    *    quadrant row/column);
    *  - `rows_agree`: both copies answer both predicates identically.
    *
    * Scale shape: bounded-lifecycle scratch copies (the
    * layoutSkippingGate discipline); the curve is a pure integer
    * Column expression; per-column maxima are one metadata agg row. */
  def zorderSkippingGate(s: SparkSession, dir: String,
      nFiles: Int = 16, nb: Int = 256): DataFrame = {
    // the shift derivation below (2*8 - log2(nFiles)) only yields
    // ALIGNED z-cells when nFiles is a power of two; any other value
    // would silently misalign the cells and fail the gate for reasons
    // unrelated to the property under test
    require(Integer.bitCount(nFiles) == 1 && nFiles >= 2 && nFiles <= 256,
      s"zorderSkippingGate: nFiles must be a power of two in [2,256], got $nFiles")
    val scratch = Similarity.scratchDir(s, "graft-zskip-")
    try {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (maxX, maxY) = (mx.getLong(0), mx.getLong(1))
      val xb = floor(col("l_partkey") * lit(nb.toLong) / lit(maxX + 1))
        .cast("long")
      val yb = floor(col("l_suppkey") * lit(nb.toLong) / lit(maxY + 1))
        .cast("long")
      // one file per aligned z-cell: top log2(nFiles) Morton bits as a
      // hive partition column — deterministic cell boundaries, no
      // range-partitioner sampling
      val shift = 2 * 8 - (31 - Integer.numberOfLeadingZeros(nFiles))
      // the two layout copies are disjoint outputs — overlap (§2.6)
      Par.two(
        li.repartitionByRange(nFiles, col("l_partkey"))
          .write.mode("overwrite").parquet(s"$scratch/single"),
        li.withColumn("zcell", shiftright(zValue(xb, yb, 8), shift))
          .repartition(nFiles, col("zcell"))
          .write.mode("overwrite").partitionBy("zcell")
          .parquet(s"$scratch/zorder"))
      val xLo = (maxX + 1) / 2
      val xHi = xLo + math.max((maxX + 1) / 8, 1L) - 1
      val yLo = (maxY + 1) / 2
      val yHi = yLo + math.max((maxY + 1) / 8, 1L) - 1
      val ((fsY, osY, osX, rsY, rsX), (fzY, ozY, ozX, rzY, rzX)) =
        Par.two(
          fileRangeStats2(s, s"$scratch/single", xLo, xHi, yLo, yHi),
          fileRangeStats2(s, s"$scratch/zorder", xLo, xHi, yLo, yHi))
      import s.implicits._
      Seq((fsY >= nFiles / 2 && fzY >= nFiles / 2,
        osY == fsY,
        osX * 2 <= fsY,
        ozY * 2 <= fzY,
        ozX * 2 <= fzY,
        rsY == rzY && rsX == rzX))
        .toDF("layouts_written", "single_key_blind_y",
          "single_key_skips_x", "zorder_skips_y", "zorder_skips_x",
          "rows_agree")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** BLOOM-FILTER file-skipping proof — the point-lookup complement of
    * the min/max gates: footer range stats can never prune an equality
    * probe on a hash-scattered high-cardinality key (every file's
    * [min,max] spans the domain), which is exactly the needle-in-a-
    * 100 TB-haystack lookup shape (find one doc_id / trace one order).
    * Parquet bloom filters close it: a per-row-group bitset the writer
    * derives from the column's value set, which the reader consults
    * BEFORE decoding — "definitely absent" row groups are skipped
    * wholesale.
    *
    * The gate writes the same hash-scattered relation twice — once
    * plain, once with a bloom filter on `l_orderkey` — with dictionary
    * encoding disabled on the probe column in BOTH copies (at real
    * scale a high-cardinality chunk overflows the dictionary page
    * anyway, and parquet's dictionary-filter would otherwise prune for
    * free and mask the contrast), then point-probes one known key:
    *  - `stats_blind_full_decode`: the plain copy decodes EVERY row —
    *    range stats are provably useless for this probe;
    *  - `bloom_skips`: the bloomed copy's reader emits at most half
    *    the rows (hash routing puts the key in ONE file; the other 15
    *    blooms reject it up to the documented false-positive rate);
    *  - `rows_agree`: both copies return the same matching rows —
    *    bloom pruning has no false negatives by construction.
    *
    * Scale shape: bounded-lifecycle scratch write; the probe reads one
    * row group plus fp noise — the 100 TB point lookup cost model. */
  def bloomSkippingGate(s: SparkSession, dir: String,
      nFiles: Int = 16): DataFrame = {
    val scratch = Similarity.scratchDir(s, "graft-bskip-")
    try {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val scattered = li.repartition(nFiles, col("l_orderkey"))
      // the two copies are disjoint outputs — overlap (§2.6)
      Par.two(
        scattered.write.mode("overwrite")
          .option("parquet.enable.dictionary#l_orderkey", "false")
          .parquet(s"$scratch/plain"),
        scattered.write.mode("overwrite")
          .option("parquet.enable.dictionary#l_orderkey", "false")
          .option("parquet.bloom.filter.enabled#l_orderkey", "true")
          .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
          .parquet(s"$scratch/bloom"))
      val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0)
      // an existing key near the middle of the domain — metadata aggs
      val key = li.filter(col("l_orderkey") >= maxOk / 2)
        .agg(min(col("l_orderkey"))).head().getLong(0)
      val pred = col("l_orderkey") === key
      val rowsPlain = readerRows(s, s"$scratch/plain", pred, "l_orderkey")
      val rowsBloom = readerRows(s, s"$scratch/bloom", pred, "l_orderkey")
      // total + matching rows in ONE unfiltered pass per copy
      // (readerRows stays sequential: it toggles a session conf)
      val (p, nBloom) = Par.two(
        s.read.parquet(s"$scratch/plain")
          .agg(count(lit(1)).as("total"),
            sum(when(pred, 1L).otherwise(0L)).as("n")).head(),
        s.read.parquet(s"$scratch/bloom")
          .agg(sum(when(pred, 1L).otherwise(0L))).head().getLong(0))
      val (total, nPlain) = (p.getLong(0), p.getLong(1))
      import s.implicits._
      Seq((total > 0L && nPlain >= 1L,
        rowsPlain == total,
        rowsBloom * 2 <= total,
        nPlain == nBloom))
        .toDF("layouts_written", "stats_blind_full_decode",
          "bloom_skips", "rows_agree")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** Z-order clustering audit over lineitem's (l_partkey, l_suppkey):
    * Morton code per row, Z-buckets of 256x256-aligned cells (code >> 16), per-bucket row
    * count and bounding box on both dimensions. A narrow box relative
    * to the full key domain is exactly the per-file min/max tightness
    * data skipping needs; row-order or single-key-sorted layouts leave
    * one of the two boxes domain-wide. */
  def zorderStats(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_partkey").bitwiseAND(lit(65535L))
    val y = col("l_suppkey").bitwiseAND(lit(65535L))
    Tables.load(s, dir, "lineitem")
      .select(x.as("x"), y.as("y"))
      .withColumn("z", zValue(col("x"), col("y")))
      .withColumn("bucket", shiftright(col("z"), 16))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy("bucket")
  }

  /** Small-file compaction EXECUTED — the lifecycle gate that turns
    * [[compactionPlan]]'s bin-packing manifest into a demonstrated
    * rewrite, completing the layout-gate family (layout/zorder/bloom
    * prove READ-side skipping; this proves the WRITE-side maintenance
    * that keeps skipping possible). The small-file problem is the
    * dominant metadata tax of a streamed-into lake: a 100 TB table fed
    * by per-trigger appends accretes millions of KB-sized files, and
    * every query pays one open/footer-parse/seek per file regardless
    * of how little data survives pruning — so lakehouses run OPTIMIZE
    * (bin-pack) as routinely as they run ingestion.
    *
    * Lifecycle on scratch: the documents relation is written once as
    * ingest debris (one hash-scattered file per writer task — the
    * many-small-files shape) and then compacted by reading the debris
    * back and rewriting it at the planned file count. Closed-form
    * booleans (constant TRUE by construction, the planted-oracle
    * discipline):
    *  - `small_layout_fragmented` / `compacted_bounded`: the debris
    *    actually fragmented (≥ 4× the target) and the rewrite landed at
    *    ≤ `targetFiles` — the ≥ 4× open-call reduction is real;
    *  - `rows_conserved`: source, debris and compacted row counts agree;
    *  - `content_conserved`: an order-independent whole-row content
    *    checksum (sum of per-row xxhash64 over every column) is
    *    identical across source → debris → compacted — compaction moved
    *    bytes between files without creating, dropping or mutating one
    *    row, whatever order the rewrite shuffled them into;
    *  - `bytes_not_worse`: the compacted copy's data bytes are ≤ the
    *    debris bytes — fewer files amortize footers/dictionaries, and
    *    bigger row groups compress no worse.
    *
    * Scale shape: both writes are one-pass shuffles of the relation
    * (`repartition` by key for the debris, round-robin at the planned
    * count for the rewrite); the checksum is a partial+final hash
    * aggregate (no sort); file counts/bytes come from a FileSystem
    * listing — file-count-sized metadata, exactly what a table-format
    * manifest stores. At 100 TB the same rewrite runs per partition
    * (compact yesterday's debris, never the whole table) — the
    * O(delta) discipline `mart_incremental` pins for marts. */
  def fileCompactionGate(s: SparkSession, dir: String,
      smallFiles: Int = 32, targetFiles: Int = 4): DataFrame = {
    val scratch = Similarity.scratchDir(s, "graft-filecompact-")
    try {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
      val rowHash = xxhash64(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
      // decimal(38) accumulator: a sum of full-range xxhash64 longs
      // overflows int64 (which ANSI mode turns into a runtime error)
      def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
        val r = df.agg(count(lit(1)).as("n"),
          sum(rowHash.cast("decimal(38,0)")).as("h")).head()
        (r.getLong(0), r.getDecimal(1))
      }
      docs.repartition(smallFiles, col("doc_id"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$scratch/small")
      s.read.parquet(s"$scratch/small")
        .repartition(targetFiles)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$scratch/compacted")
      def listing(sub: String): (Long, Long) = {
        val p = new org.apache.hadoop.fs.Path(scratch, sub)
        val fs = p.getFileSystem(s.sessionState.newHadoopConf())
        val parts = fs.listStatus(p)
          .filter(_.getPath.getName.startsWith("part-"))
        (parts.length.toLong, parts.map(_.getLen).sum)
      }
      val (smallN, smallBytes) = listing("small")
      val (compN, compBytes) = listing("compacted")
      val (nSrc, hSrc) = checksum(docs)
      val (nSmall, hSmall) = checksum(s.read.parquet(s"$scratch/small"))
      val (nComp, hComp) = checksum(s.read.parquet(s"$scratch/compacted"))
      import s.implicits._
      Seq((smallN >= targetFiles.toLong * 4,
        compN <= targetFiles.toLong,
        nSrc == nSmall && nSmall == nComp,
        hSrc.compareTo(hSmall) == 0 && hSmall.compareTo(hComp) == 0,
        compBytes <= smallBytes))
        .toDF("small_layout_fragmented", "compacted_bounded",
          "rows_conserved", "content_conserved", "bytes_not_worse")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** `mf_lifecycle_gate` — the [[fileCompactionGate]] discipline for
    * the versioned-manifest store ([[graft.store.ManifestStore]]),
    * executed end-to-end: an append-only table grown one segment per
    * batch (the streaming write pattern — one manifest commit per
    * micro-batch leaves one narrow segment each), then compacted
    * through `CompactAppend` (one scan, one merged segment, old
    * entries retired by METADATA — nothing moves), audited through
    * time travel, and vacuumed down to the retention horizon.
    *
    * Oracle-checked booleans, each a lifecycle invariant:
    *  - `segments_fragmented`: the appends really left one segment
    *    per batch (4) — the precondition the compaction exists for;
    *  - `content_conserved`: the compacted table holds exactly the
    *    pre-compaction rows (ids value-equal);
    *  - `segments_compacted`: one segment remains — at a production
    *    1000-batch run this is the 1000-file → 1-file listing/open
    *    amortization [[fileCompactionGate]] quantifies byte-wise;
    *  - `history_consistent`: the PRE-compaction version still reads
    *    identically after the compaction commit (snapshot isolation:
    *    compaction retired entries from the new version only);
    *  - `vacuum_safe`: after `vacuum(keepLast=1)` the current read is
    *    unchanged and only the newest version is retained — retention
    *    reaps superseded segments without touching live data.
    *
    * Scale shape: the store ops are bounded-metadata commits; the one
    * corpus-scale job is the compaction's single scan-and-rewrite of
    * the table — exactly the bytes a production OPTIMIZE would move.
    * The gate's collects are the bounded 400-id audit slices. */
  def manifestLifecycleGate(s: SparkSession, dir: String): DataFrame = {
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mflife-")
    try {
      val root = s"$scratch/store"
      val emb = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 400)
        .select(col("vec_id"), col("embedding"))
      def slice(i: Int) = emb.filter(pmod(col("vec_id"), lit(4)) === i)
      ManifestStore.createTables(s, root, Seq(
        (ManifestStore.TableDef("vectors", ""), slice(0))))
      (1 to 3).foreach { i =>
        ManifestStore.commitTables(s, root)(
          Seq(ManifestStore.Append("vectors", slice(i))))
      }
      def ids(version: Option[Long]): Seq[Long] = ManifestStore
        .readTable(s, root, "vectors", version = version)
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      val before = ids(None)
      val segsBefore = ManifestStore.tableEntries(s, root, "vectors").size
      val preCompactV = ManifestStore.currentVersion(s, root).get
      ManifestStore.commitTables(s, root)(
        Seq(ManifestStore.CompactAppend("vectors")))
      val after = ids(None)
      val segsAfter = ManifestStore.tableEntries(s, root, "vectors").size
      val historyConsistent = ids(Some(preCompactV)) == before
      ManifestStore.vacuum(s, root, keepLast = 1)
      val vacuumSafe = ids(None) == before &&
        ManifestStore.versions(s, root) == Seq(preCompactV + 1)
      import s.implicits._
      Seq((segsBefore == 4, after == before, segsAfter == 1,
        historyConsistent, vacuumSafe))
        .toDF("segments_fragmented", "content_conserved",
          "segments_compacted", "history_consistent", "vacuum_safe")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** `mf_schema_evolution_gate` —
    * [[graft.store.PartitionedStore.schemaEvolutionGate]]'s
    * added-column drift contract carried onto the versioned-manifest
    * store, where evolution happens ACROSS SEGMENTS: the oldest
    * segments of a long-lived append table were written before the
    * table's newest columns existed — and, second axis, before a
    * column's type was WIDENED. The gate appends an old batch WITHOUT
    * `lang` and with `n_chars` as INT, then a new batch WITH `lang`
    * and `n_chars` at its native LONG, reads back FLAG-FREE (the
    * fingerprints disagree, so the store handles both axes by
    * itself), and pins:
    *
    *  - `schema_widened`: the merged read's schema is the union, new
    *    column last;
    *  - `type_widened`: the merged read carries `n_chars` as LONG —
    *    the int-file/long-file mix parquet's own footer merge refuses
    *    is read at the widened type;
    *  - `widened_values_conserved`: `sum(n_chars)` over the merged
    *    read equals the source's — widening changed no value;
    *  - `old_rows_null_filled`: every pre-evolution row reads
    *    `lang IS NULL`;
    *  - `new_rows_carry_values`: every post-evolution row keeps its
    *    written value (counted against the source's non-null count,
    *    so genuine nulls can't alias null-fill);
    *  - `rows_conserved`: the merged read loses/duplicates nothing;
    *  - `compaction_bakes_schema`: after [[graft.store.ManifestStore.CompactAppend]]
    *    the table reads identically from ONE segment — the rewritten
    *    segment is schema-homogeneous, so the same op that retires the
    *    small files retires the per-read union of schema versions.
    *    That is the manifest store's answer to evolution debt: a
    *    bounded rewrite, not a permanent read tax.
    *
    * Scale shape: bounded scratch lifecycle; the only corpus-scale job
    * is the compaction's one scan-and-rewrite. */
  def mfSchemaEvolutionGate(s: SparkSession, dir: String): DataFrame = {
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mfsevo-")
    try {
      val root = s"$scratch/store"
      val docs = Tables.load(s, dir, "documents")
      // the old batch predates BOTH evolutions: no `lang`, int n_chars
      val old = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
      val neu = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      ManifestStore.createTables(s, root, Seq(
        (ManifestStore.TableDef("docs", ""), old)))
      ManifestStore.commitTables(s, root)(Seq(
        ManifestStore.Append("docs", neu)))
      // FLAG-FREE read: the entry fingerprints disagree, so the store
      // handles added-column AND widened-type drift by itself
      val merged = ManifestStore.readTable(s, root, "docs")
      def audit(df: DataFrame) = df.agg(
        count(lit(1)).as("total"),
        sum(when(col("doc_id") % 2 === 0 && col("lang").isNull, 1L)
          .otherwise(0L)).as("oldNulls"),
        sum(when(col("doc_id") % 2 === 1 && col("lang").isNotNull, 1L)
          .otherwise(0L)).as("carried"),
        sum(col("n_chars")).as("charSum")).head()
      val m = audit(merged)
      val c = docs.agg(
        count(lit(1)).as("n"),
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("nOld"),
        sum(when(col("doc_id") % 2 === 1 && col("lang").isNotNull, 1L)
          .otherwise(0L)).as("nNewNonNull"),
        sum(col("n_chars")).as("charSum")).head()
      ManifestStore.commitTables(s, root)(Seq(
        ManifestStore.CompactAppend("docs")))
      // post-compaction: ONE segment carries the union/widened schema
      val baked = ManifestStore.readTable(s, root, "docs")
      val b = audit(baked)
      import org.apache.spark.sql.types.LongType
      import s.implicits._
      Seq((merged.columns.toSeq ==
          Seq("doc_id", "source", "n_chars", "lang"),
        m.getLong(1) == c.getLong(1),
        m.getLong(2) == c.getLong(2),
        m.getLong(0) == c.getLong(0),
        baked.columns.toSeq == merged.columns.toSeq &&
          b == m &&
          ManifestStore.tableEntries(s, root, "docs").size == 1,
        merged.schema("n_chars").dataType == LongType &&
          baked.schema("n_chars").dataType == LongType,
        m.getLong(3) == c.getLong(3) && b.getLong(3) == c.getLong(3)))
        .toDF("schema_widened", "old_rows_null_filled",
          "new_rows_carry_values", "rows_conserved",
          "compaction_bakes_schema", "type_widened",
          "widened_values_conserved")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** `mf_facade_read` — the SQL front door over the manifest store
    * ([[graft.sources.ManifestSource]]): a return-flag-keyed lineitem
    * slice is committed into a manifest store, read back through
    * `spark.read.format("graft-manifest")` with manifest-level pruning
    * (`parts = A,N`), registered as a temp view, and aggregated in
    * `spark.sql`. Oracle: the same aggregate over the raw parquet
    * with the equivalent `WHERE l_returnflag IN ('A','N')` — the
    * facade must change no row, and the pruning is value-visible (the
    * un-selected 'R' group is absent without any filter in the SQL).
    * The plan behind the view is the real pruned multi-root parquet
    * scan (spec-asserted on inputFiles and the FileScan node) — the
    * facade unwraps to the file relation, it does not interpose. The
    * k-row aggregate is collected before the scratch store is deleted
    * (the lifecycle-gate discipline). */
  def manifestFacadeRead(s: SparkSession, dir: String): DataFrame = {
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mffacade-")
    try {
      val root = s"$scratch/store"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      ManifestStore.create(s, root, li, "l_returnflag")
      s.read.format("graft-manifest")
        .option("parts", "A,N").load(root)
        .createOrReplaceTempView("mf_facade_li")
      val rows = s.sql(
        """SELECT l_returnflag,
          | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
          |   AS sum_qty,
          | count(*) AS n
          |FROM mf_facade_li GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      import s.implicits._
      rows.toSeq.toDF("l_returnflag", "sum_qty", "n")
        .orderBy("l_returnflag")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** `mf_facade_time_travel` — time travel through the SQL front door,
    * oracle-checked end to end: a return-flag-keyed lineitem store is
    * committed (v1), then the 'A' partition is REPLACED wholesale by a
    * corrected slice with doubled quantities (v2 — the U1
    * day-overwrite semantic on the manifest store), and the facade
    * reads BOTH versions:
    *
    *  - `option("version", 1)` must aggregate exactly the raw parquet
    *    — the pre-correction state stays auditable after the fix;
    *  - the default (newest) read must show the 'A' group doubled and
    *    the other groups untouched — partition replacement is
    *    surgical.
    *
    * Both expectations are plain SQL over the raw table (the oracle
    * computes v2's 'A' group with a CASE), so the driver hash-checks
    * snapshot isolation + replacement through the facade, not just a
    * boolean gate. The 6-row result is collected before the scratch
    * store is deleted (the lifecycle-gate discipline). */
  def manifestFacadeTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mftravel-")
    try {
      val root = s"$scratch/store"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      ManifestStore.create(s, root, li, "l_returnflag")
      val fixed = li.filter(col("l_returnflag") === "A")
        .select(col("l_returnflag"),
          (col("l_quantity") * 2).as("l_quantity"))
      ManifestStore.replacePartitions(s, root, fixed, "l_returnflag")
      def agg(version: Option[Long], tag: Int) = {
        val reader = s.read.format("graft-manifest")
        version.foreach(v => reader.option("version", v))
        reader.load(root).createOrReplaceTempView("mf_travel_li")
        s.sql(
          """SELECT l_returnflag,
            | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
            |   AS sum_qty
            |FROM mf_travel_li GROUP BY l_returnflag""".stripMargin)
          .collect()
          .map(r => (tag, r.getString(0), r.getDouble(1)))
      }
      val rows = agg(Some(1L), 1) ++ agg(None, 2)
      import s.implicits._
      rows.toSeq.toDF("version", "l_returnflag", "sum_qty")
        .orderBy("version", "l_returnflag")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** `mf_facade_write` — the write-side facade
    * ([[graft.sources.ManifestSource]]'s `CreatableRelationProvider`
    * path), oracle-checked end to end through THREE commit shapes, all
    * routed through the store's lease + atomic-publish protocol:
    *
    *  1. `df.write.format("graft-manifest").option("key", ...)` on a
    *     FRESH root creates the store (v1);
    *  2. `mode("append")` adds the 'N' slice a second time — the
    *     add-rows upsert, so N's count and sum double (v2);
    *  3. `mode("overwrite")` replaces the 'A' partition wholesale with
    *     a doubled-quantity correction — dynamic partition overwrite
    *     as a manifest commit, 'R' and 'N' untouched (v3).
    *
    * The read-back aggregate (through the read facade, naturally) must
    * hash-match a DuckDB replay of the same three mutations, and the
    * store must hold exactly versions 1..3 (`three_commits` — each
    * write is ONE atomic manifest commit, nothing more). */
  def manifestFacadeWrite(s: SparkSession, dir: String): DataFrame = {
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mfwrite-")
    try {
      val root = s"$scratch/store"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      li.write.format("graft-manifest")
        .option("key", "l_returnflag").save(root)
      li.filter(col("l_returnflag") === "N")
        .write.format("graft-manifest").mode("append").save(root)
      li.filter(col("l_returnflag") === "A")
        .select(col("l_returnflag"),
          (col("l_quantity") * 2).as("l_quantity"))
        .write.format("graft-manifest").mode("overwrite").save(root)
      val threeCommits =
        ManifestStore.versions(s, root) == Seq(1L, 2L, 3L)
      s.read.format("graft-manifest").load(root)
        .createOrReplaceTempView("mf_write_li")
      val rows = s.sql(
        """SELECT l_returnflag,
          | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
          |   AS sum_qty,
          | count(*) AS n
          |FROM mf_write_li GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
          threeCommits))
      import s.implicits._
      rows.toSeq
        .toDF("l_returnflag", "sum_qty", "n", "three_commits")
        .orderBy("l_returnflag")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** `mf_change_feed` — the manifest store's CDC read
    * ([[graft.store.ManifestStore.changeFeed]]), oracle-checked
    * end-to-end: lineitem lands keyed by return flag (v1), the 'A'
    * partition is REPLACED by a doubled-quantity correction (v2), and
    * an add-rows upsert lands the 'N' slice a second time (v3). The
    * feed over (v1, v3] must equal the DuckDB multiset diff of the
    * replayed snapshots, per commit:
    *
    *  - commit 2: inserts = doubled-A rows EXCEPT ALL original-A rows,
    *    deletes = the converse — rows whose doubled value happens to
    *    collide with an existing quantity cancel multiset-wise, so
    *    this pins the NET-diff semantic, not entry bookkeeping;
    *  - commit 3: inserts = exactly one extra copy of each N row
    *    (the upsert's rewrite carries the originals through — carried
    *    rows cancel and feed nothing), deletes = none.
    *
    * Result is the per-(commit, change_type, flag) aggregate of the
    * feed — compact, fully DuckDB-replayable. */
  def manifestChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mffeed-")
    try {
      val root = s"$scratch/store"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      ManifestStore.create(s, root, li, "l_returnflag")
      ManifestStore.replacePartitions(s, root,
        li.filter(col("l_returnflag") === "A")
          .select(col("l_returnflag"),
            (col("l_quantity") * 2).as("l_quantity")),
        "l_returnflag")
      ManifestStore.commitTables(s, root)(Seq(ManifestStore.Upsert("t",
        li.filter(col("l_returnflag") === "N"))))
      val feed = ManifestStore.changeFeed(s, root, "t", 1L, 3L)
      val rows = feed
        .groupBy(col("_commit_version"), col("_change_type"),
          col("l_returnflag"))
        .agg(Relational.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("_commit_version", "_change_type", "l_returnflag")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3), r.getLong(4)))
      import s.implicits._
      rows.toSeq.toDF("_commit_version", "_change_type", "l_returnflag",
        "sum_qty", "n")
        .orderBy("_commit_version", "_change_type", "l_returnflag")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** `mf_stats_skip_gate` — segment-level column stats in the manifest
    * ([[graft.store.ManifestStore.ColStat]]): file skipping on a
    * selective NON-key predicate, decided by manifest metadata alone.
    * Lineitem lands in an append-only store as one segment per
    * shipdate YEAR (each segment a tight date range), with
    * `statsCols = l_shipdate` harvested from the parquet footers at
    * stage time — zero extra data scans to collect, zero footer opens
    * to use. One year's range predicate then:
    *
    *  - `scala_skip_prunes`: `readTable(skip = ...)` selects exactly
    *    ONE of the seven segments (≥4× fewer files than the statless
    *    full read — the at-scale claim, stated as a file-count bound);
    *  - `facade_where_skips`: the same predicate as a plain SQL WHERE
    *    through the facade view drives
    *    [[graft.sources.ManifestFileIndex]]'s data-filter
    *    intersection — the executed FileScan's `numFiles` equals the
    *    one surviving segment's files (unmatched segments never listed);
    *  - `rows_identical`: the skip-read, re-filtered, returns exactly
    *    the full read's filtered rows — stats bound what a segment MAY
    *    hold, they never drop rows;
    *  - `bytes_recorded`: every v3 entry carries its staged byte size
    *    (what makes the facade's `sizeInBytes` exact with zero list
    *    calls).
    *
    * The aggregate row itself (sum/count of the selected year) is the
    * DuckDB-hash-checked value; the booleans ride alongside
    * (closed-form TRUE). AQE is toggled off for the facade probe so
    * the FileSourceScan node sits directly in the executed plan. */
  def manifestStatsSkipGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mfstats-")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = s"$scratch/store"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_shipdate"), col("l_quantity"))
      val years = li.select(year(col("l_shipdate")).as("y")).distinct()
        .collect().map(_.getInt(0)).sorted
      def slice(y: Int) = li.filter(year(col("l_shipdate")) === y)
      ManifestStore.createTables(s, root, Seq((
        ManifestStore.TableDef("days", "",
          statsCols = Seq("l_shipdate")), slice(years.head))))
      years.tail.foreach(y => ManifestStore.commitTables(s, root)(
        Seq(ManifestStore.Append("days", slice(y)))))
      val target = years(years.length / 2)
      // the synthetic lineitem renders shipdates as timestamp[us] —
      // the skip values carry the SAME domain (stats comparisons are
      // type-strict by design: a mismatched domain never skips)
      val lo = java.sql.Timestamp.valueOf(s"$target-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf(s"${target + 1}-01-01 00:00:00")
      val pred = col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi)
      // Scala-side skip read: one segment of seven survives
      val full = ManifestStore.readTable(s, root, "days")
      val skipRead = ManifestStore.readTable(s, root, "days",
        skip = Seq(GreaterThanOrEqual("l_shipdate", lo),
          LessThan("l_shipdate", hi)))
      val scalaSkipPrunes =
        skipRead.inputFiles.length * 4 <= full.inputFiles.length &&
          skipRead.inputFiles.nonEmpty
      // facade: the plain SQL WHERE drives the same skipping
      s.read.format("graft-manifest").option("table", "days").load(root)
        .createOrReplaceTempView("mf_stats_li")
      val q = s.sql(
        s"""SELECT CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
           |  AS sum_qty, count(*) AS n
           |FROM mf_stats_li
           |WHERE l_shipdate >= TIMESTAMP'$target-01-01 00:00:00'
           |  AND l_shipdate < TIMESTAMP'${target + 1}-01-01 00:00:00'"""
          .stripMargin)
      // the three probes (full-read aggregate, skip-read aggregate,
      // facade aggregate) are independent reads of the drained store —
      // overlap (guide §2.6; AQE is already off session-wide for the
      // whole gate, so the facade probe's plan-metric read is safe on
      // a side thread)
      val ((wantRows, gotRows), out) = graft.operators.Par.two(
        graft.operators.Par.two(
          full.filter(pred).agg(
            Relational.dsum(col("l_quantity")).as("sq"),
            count(lit(1)).as("n")).head(),
          skipRead.filter(pred).agg(
            Relational.dsum(col("l_quantity")).as("sq"),
            count(lit(1)).as("n")).head()),
        q.collect().map(r => (r.getDouble(0), r.getLong(1))))
      val rowsIdentical = wantRows == gotRows
      val scanned = q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.sum
      val facadeWhereSkips = scanned == skipRead.inputFiles.length &&
        scanned * 4 <= full.inputFiles.length
      val bytesRecorded = ManifestStore.tableEntries(s, root, "days")
        .forall(e => e.bytes > 0 && e.stats.exists(_.col == "l_shipdate"))
      import s.implicits._
      out.toSeq.map { case (sq, n) => (sq, n, scalaSkipPrunes,
        facadeWhereSkips, rowsIdentical, bytesRecorded) }
        .toDF("sum_qty", "n", "scala_skip_prunes", "facade_where_skips",
          "rows_identical", "bytes_recorded")
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      Similarity.deleteScratch(s, scratch)
    }
  }

  /** `mf_facade_pruned` — WHERE-driven manifest pruning through the
    * SQL front door, no `parts` option anywhere: a return-flag-keyed
    * lineitem store is committed, registered as a temp view over the
    * FULL table, and a plain `WHERE l_returnflag IN ('A','N')` in
    * `spark.sql` must (a) aggregate exactly the raw-parquet oracle and
    * (b) prune at the MANIFEST level — the facade's
    * [[graft.sources.ManifestFileIndex]] declares the key as a real
    * partition column, so the predicate reaches `listFiles` as a
    * partition filter and only the matching partitions' leaf dirs are
    * listed or scanned. Both prunings are stated as oracle booleans:
    *
    *  - `where_pruned`: the index's last partition selection is
    *    exactly {A, N} — the un-matched 'R' partition was never listed
    *    (zero list calls over unprobed prefixes, the 100 TB contract);
    *  - `scan_files_pruned`: the executed FileScan's `numFiles` metric
    *    equals the pruned selection's file count AND is strictly below
    *    the table's total file count.
    *
    * AQE is toggled off for the probe (the [[readerRows]] discipline)
    * so the FileSourceScan node sits directly in the executed plan.
    * The 2-row aggregate is collected before the scratch store is
    * deleted (the lifecycle-gate discipline). */
  def manifestFacadePruned(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mfpruned-")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = s"$scratch/store"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      ManifestStore.create(s, root, li, "l_returnflag")
      s.read.format("graft-manifest").load(root)
        .createOrReplaceTempView("mf_pruned_li")
      val q = s.sql(
        """SELECT l_returnflag,
          | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
          |   AS sum_qty,
          | count(*) AS n
          |FROM mf_pruned_li
          |WHERE l_returnflag IN ('A', 'N')
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      val rows = q.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      // pruning audit, stated over the executed artifacts: the
      // manifest index's partition selection and the scan's file count
      val index = q.queryExecution.analyzed.collectFirst {
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
          h.location.asInstanceOf[graft.sources.ManifestFileIndex]
      }.getOrElse(throw new IllegalStateException(
        "facade did not produce the manifest-indexed file relation"))
      val wherePruned =
        index.lastSelectedParts.map(_.sorted) == Some(Seq("A", "N"))
      val scans = q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      val scanned = scans.map(_.metrics("numFiles").value).sum
      val expected = index.inputFiles.count(f =>
        f.contains("l_returnflag__p=A") || f.contains("l_returnflag__p=N"))
      val total = index.inputFiles.length
      val scanFilesPruned =
        scans.nonEmpty && scanned == expected && scanned < total
      import s.implicits._
      rows.toSeq.map { case (f, sq, n) => (f, sq, n, wherePruned,
        scanFilesPruned) }
        .toDF("l_returnflag", "sum_qty", "n", "where_pruned",
          "scan_files_pruned")
        .orderBy("l_returnflag")
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      Similarity.deleteScratch(s, scratch)
    }
  }

  /** `mf_delete_where` — row-level DELETE on the manifest store
    * ([[graft.store.ManifestStore.Delete]] /
    * [[graft.store.ManifestStore.DeleteKeys]]), oracle-checked with
    * every cost-model claim an executed boolean:
    *
    * lineitem lands keyed by ship YEAR with `l_shipdate` stats; with
    * data-derived constants (cutoff = July 1 of the second year,
    * dropYear = the second-newest year — the oracle derives the same
    * in SQL) then
    *  1. `deleteWhere(l_shipdate < cutoff)` — the FIRST year's
    *     partition empties and RETIRES, the second is PARTIALLY
    *     rewritten (copy-on-write), and every later year is provably
    *     disjoint by its manifest stats and carries over BY REFERENCE
    *     (`untouched_carried`: identical entry dirs across versions,
    *     never read or rewritten — the 100 TB cost model);
    *  2. `deletePartitions(dropYear)` — pure metadata
    *     (`metadata_only_drop`: the new version's dirs are a subset of
    *     the old's — nothing staged);
    *  3. BOTH ops re-delivered — the predicate delete finds no
    *     candidate segment (the rewritten second year's min stat now
    *     sits at the cutoff) and the key delete finds no live key, so
    *     neither commits (`redelivery_noop`: version unchanged). This
    *     boolean IS the stat-skip proof: without
    *     [[ManifestStore.mayMatch]] pruning, re-delivery would rewrite
    *     every segment again. The predicate also exercises the
    *     cast-unwrap translation: the testdata's `l_shipdate` is
    *     timestamp_ntz, so coercion wraps the COLUMN in a cast that
    *     `pruneFilters` must see through (UTC session). */
  def manifestDeleteWhere(s: SparkSession, dir: String): DataFrame = {
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mfdel-")
    try {
      val root = s"$scratch/store"
      val li = Tables.load(s, dir, "lineitem")
        .select(year(col("l_shipdate")).as("y"), col("l_shipdate"),
          col("l_quantity"))
      // data-driven constants (the oracle derives the SAME values in
      // SQL): cutoff = July 1 of the SECOND year — the first year
      // empties, the second is partially rewritten, later years are
      // provably disjoint; dropYear = the second-newest year. The
      // store create and the year probe are independent reads of the
      // source table — overlap (guide §2.6)
      val (_, years) = graft.operators.Par.two(
        ManifestStore.createTables(s, root, Seq((
          ManifestStore.TableDef("t", "y", statsCols = Seq("l_shipdate")),
          li))),
        li.select(col("y")).distinct().collect()
          .map(_.getInt(0)).sorted)
      val cutoff = s"${years.head + 1}-07-01 00:00:00"
      val dropYear = years(years.length - 2).toString
      val v1 = ManifestStore.tableEntries(s, root, "t")
        .map(e => e.part -> e.dir).toMap
      ManifestStore.deleteWhere(s, root,
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf(cutoff)),
        table = "t")
      val v2 = ManifestStore.tableEntries(s, root, "t")
        .map(e => e.part -> e.dir).toMap
      val untouchedCarried = v1.keys.filter(_.toInt >= years.head + 2)
        .forall(k => v2.get(k).contains(v1(k))) &&
        !v2.contains(years.head.toString) &&
        v2.get((years.head + 1).toString)
          .exists(d => !v1.get((years.head + 1).toString).contains(d))
      val vAfterDelete = ManifestStore.currentVersion(s, root).get
      ManifestStore.deletePartitions(s, root, Seq(dropYear), table = "t")
      val v3 = ManifestStore.tableEntries(s, root, "t")
        .map(e => e.part -> e.dir).toMap
      val metadataOnlyDrop = !v3.contains(dropYear) &&
        v3.values.toSet.subsetOf(v2.values.toSet)
      val vAfterKeyDrop = ManifestStore.currentVersion(s, root).get
      val committedKeyDrop = vAfterKeyDrop == vAfterDelete + 1
      // re-delivery: stats prove disjointness, keys are gone — no-ops
      ManifestStore.deleteWhere(s, root,
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf(cutoff)),
        table = "t")
      ManifestStore.deletePartitions(s, root, Seq(dropYear), table = "t")
      val redeliveryNoop = committedKeyDrop &&
        ManifestStore.currentVersion(s, root).get == vAfterKeyDrop
      ManifestStore.readTable(s, root, "t")
        .createOrReplaceTempView("mf_del_li")
      val rows = s.sql(
        """SELECT y, count(*) AS n,
          | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
          |   AS sum_qty
          |FROM mf_del_li GROUP BY y ORDER BY y""".stripMargin)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          untouchedCarried, metadataOnlyDrop, redeliveryNoop))
      import s.implicits._
      rows.toSeq.toDF("y", "n", "sum_qty", "untouched_carried",
        "metadata_only_drop", "redelivery_noop").orderBy("y")
    } finally Similarity.deleteScratch(s, scratch)
  }

  /** `mf_merge_delete` — MERGE INTO with a delete clause
    * ([[graft.store.ManifestStore.Merge]]): one CDC batch carrying an
    * `_op` envelope column applies updates (negative balances
    * corrected), inserts (cloned key range), and tombstones (balances
    * in [0, 1000] retired) in ONE atomic commit, through the same
    * touched-partition cost model as Upsert. The envelope column never
    * stages. Re-delivering the identical batch — THROUGH THE SQL
    * FACADE's writer options (`mergeId` + `deleteWhen` + `envelope`)
    * the second time — must land a content-identical table
    * (`redelivery_content_stable`: CDC consumers re-apply safely AND
    * the facade surface routes to the identical Merge commit). Oracle:
    * the equivalent anti-join + union in DuckDB over the raw
    * parquet. */
  def manifestMergeDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.store.ManifestStore
    val scratch = Similarity.scratchDir(s, "graft-mfmerge-")
    try {
      val root = s"$scratch/store"
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      ManifestStore.createTables(s, root, Seq((
        ManifestStore.TableDef("t", "c_mktsegment"), cust)))
      val src = cust.filter(col("c_acctbal") < 0)
        .withColumn("c_acctbal", -col("c_acctbal"))
        .withColumn("_op", lit("U"))
        .unionByName(cust.filter(col("c_custkey") <= 100)
          .withColumn("c_custkey", col("c_custkey") + 100000)
          .withColumn("_op", lit("I")))
        .unionByName(cust.filter(col("c_acctbal").between(0, 1000))
          .withColumn("_op", lit("D")))
      def applyMerge(): Unit = ManifestStore.mergeInto(s, root, src,
        idCol = "c_custkey", deleteWhen = Some(col("_op") === "D"),
        table = "t", envelope = Seq("_op"))
      applyMerge()
      def agg(): Array[(String, Long, Double)] = {
        ManifestStore.readTable(s, root, "t")
          .createOrReplaceTempView("mf_merge_cust")
        s.sql(
          """SELECT c_mktsegment, count(*) AS n,
            | CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
            |   AS sum_bal
            |FROM mf_merge_cust GROUP BY c_mktsegment
            |ORDER BY c_mktsegment""".stripMargin)
          .collect().map(r =>
            (r.getString(0), r.getLong(1), r.getDouble(2)))
      }
      val first = agg()
      // re-delivery THROUGH THE SQL FACADE writer options
      // (mergeId + deleteWhen + envelope): must land content-identical
      // to the Scala-API application — one boolean pins both CDC
      // re-apply safety and facade ≡ API
      src.write.format("graft-manifest")
        .option("table", "t").option("key", "c_mktsegment")
        .option("mergeId", "c_custkey")
        .option("deleteWhen", "_op = 'D'")
        .option("envelope", "_op")
        .mode("append").save(root)
      val stable = first.sameElements(agg())
      import s.implicits._
      first.toSeq.map { case (seg, n, sb) => (seg, n, sb, stable) }
        .toDF("c_mktsegment", "n", "sum_bal",
          "redelivery_content_stable")
        .orderBy("c_mktsegment")
    } finally Similarity.deleteScratch(s, scratch)
  }
}
