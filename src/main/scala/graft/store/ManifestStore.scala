package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
  StructType}

import graft.sources.{ManifestFileIndex, ManifestReadOnlyParquetFormat}

/** Versioned-manifest table store — the one storage and commit
  * protocol behind every maintained table and ANN index in this
  * library (the Iceberg/Delta idea, reduced to what an index store
  * needs). Published data is never mutated:
  *
  * {{{
  *   <root>/_manifests/v00000001.mf     immutable, line-oriented
  *   <root>/_manifests/v00000002.mf
  *   <root>/seg/<segId>/<key>=<v>/...   immutable data segments
  *   <root>/_WRITER                     writer lease
  * }}}
  *
  * A manifest file IS a store version: the authoritative list of
  * (table, partition key → segment leaf directory) making up that
  * snapshot. A store holds one or more named TABLES — e.g. the LSH
  * index's append-only postings and vectors tables — and one commit
  * covers ALL of them atomically:
  * writers stage new immutable segments (only the touched partitions'
  * merged rows, plus any append segments), then publish manifest
  * N+1 = untouched entries of N ++ the new entries, across every
  * table, in ONE file. NOTHING published is ever renamed, moved, or
  * deleted by a commit — the commit point is the APPEARANCE of the
  * `vN+1.mf` key, which is atomic on every store this library meets:
  * one small-file rename on rename-atomic schemes, and a single PUT on
  * object stores (an object is invisible until its PUT completes, and
  * the only rename here is of one manifest-sized file, never data).
  * No scheme is refused: `s3a`/`gs`/`wasb` work as well as `file` and
  * `hdfs`.
  *
  * What readers get, stated precisely:
  *
  *  - SNAPSHOT ISOLATION, lock-free: a reader resolves the newest
  *    manifest once and scans immutable directories. A concurrent
  *    commit cannot perturb it — there is no mid-swap window to
  *    observe. No reader-side healing exists because none is needed:
  *    a writer crash before the manifest create leaves only an
  *    unreferenced segment (invisible; [[vacuum]] reaps it), and after
  *    the create the commit is simply durable. Multi-table commits are
  *    atomic BY the same token: a reader sees postings-new with
  *    vectors-new or postings-old with vectors-old, never a mix —
  *    without any redo log or healing lock.
  *  - TIME TRAVEL: any retained version is readable (`version =`),
  *    because old manifests and the segments they reference stay put
  *    until [[vacuum]] retires them past the retention horizon.
  *  - MANIFEST-LEVEL PRUNING: the probe lanes pass the partition
  *    keys they need and only those leaf dirs reach the scan — at
  *    100 TB on an object store that means ZERO list calls over
  *    irrelevant prefixes (cheaper than hive-layout listing + DPP,
  *    which must at least enumerate the partition dirs).
  *
  * Partitioned tables are keyed by ONE key column (`TableDef.partCol`);
  * a composite key is a caller-synthesized rendering (e.g.
  * `concat(a, '_', b)`). Keep keys coarse: every touched key is one
  * leaf dir to list, read back and rewrite per commit. A table whose
  * every commit would touch every key (the LSH postings: each vector
  * posts once per band) is better append-only, so a commit writes
  * only its own rows. The key column is
  * duplicated into the data files (a hive layout column `<key>__p`
  * carries the directory), so every op can read a partition back and
  * merge it, and every read returns the key as a data column.
  * Append-only tables (`partCol = ""`) take whole segments as entries
  * and are never partition-pruned or merged — the narrow vector store
  * shape, hydrated by id join.
  *
  * Concurrency: ONE writer at a time via a per-root writer lease
  * (exclusive create, lease-steal after `WriterLeaseMs` of silence,
  * loud failure after `WriterWaitMs` of waiting). [[commitTables]] runs
  * the caller's planning closure UNDER the lease, so guard reads (e.g.
  * the upsert-dedup anti-join against the live vectors table) and the
  * staged writes see a store no concurrent writer can move. The
  * manifest create is the backstop: it refuses to overwrite an
  * existing version file (loser loud on rename-atomic schemes) and
  * verifies its own publish by read-back (which NARROWS — not closes —
  * the double-grant window on overwriting stores; see [[writeManifest]]
  * for the precise statement). [[vacuum]] runs under the same lease,
  * which is what makes "unreferenced segment" mean "dead" (no writer
  * can be mid-stage while the lease is held); retention (`keepLast`) is
  * the reader contract — vacuum only against a horizon older than the
  * longest-running scan, exactly Delta's VACUUM discipline.
  *
  * ONE READ PATH: a manifest line records everything a scan needs —
  * the entry's data files with their byte sizes (harvested from the
  * listing the stage already does) and, once per schema fingerprint,
  * the schema `spark.read.parquet` would infer for those files. Every
  * read ([[readTable]], [[read]], [[changeFeed]], the commit ops'
  * read-backs and the SQL facade) turns its selected entries into
  * `HadoopFsRelation`s over [[graft.sources.ManifestFileIndex]] with
  * that recorded file list and schema: no directory listing, no
  * schema-inference job, no `spark.read` — and a file that appears in
  * a committed leaf dir without being committed is never read.
  *
  * Cost shape at scale: a commit writes the touched partitions' bytes
  * plus ONE manifest file — O(live files) lines of driver-side
  * metadata, no data moves, no apply phase, no healing. Reads pay one
  * list of the manifest dir and one small-file GET to resolve the
  * newest manifest, and nothing per entry. Manifest size is the
  * honest limit: at millions of files a real table format's manifest
  * TREES take over; the index stores here hold k-to-thousands of
  * cells/buckets.
  *
  * Partition keys must be non-null and are matched by their hive
  * directory rendering (for the integer cell and band keys the ANN
  * lanes use, the plain string).
  *
  * Beyond the commit/read core, the store carries the rest of what a
  * lakehouse table needs at 100 TB, each documented on its member:
  * per-segment COLUMN STATS + byte sizes harvested from the staged
  * parquet footers ([[ColStat]], `TableDef.statsCols`) so selective
  * non-key predicates skip whole segments from manifest metadata alone
  * ([[readTable]]'s `skip`, and any WHERE over a read — see
  * [[graft.sources.ManifestFileIndex]]); a CHANGE FEED
  * ([[changeFeed]]) emitting the net row diff between any two retained
  * versions at touched-partition cost; and an in-commit
  * [[Maintenance]] policy folding segment compaction and vacuum into
  * the commit's own lease window. The SQL front door —
  * `spark.read/write.format("graft-manifest")` — lives in
  * [[graft.sources.ManifestSource]]. */
object ManifestStore {

  /** One column's min/max over one segment's files, harvested from the
    * parquet FOOTERS the write already produced (never a second data
    * scan) and carried in the manifest line — the file-skipping
    * metadata a real table format keeps so selective NON-key
    * predicates can skip whole segments without opening a single
    * footer at read time. `tag` fixes the comparison domain ("l"
    * integral, "d" float/double, "s" string, "dt" epoch-day, "ts"
    * epoch-micros, "n" = the column holds ONLY nulls in this segment —
    * no min/max exists but every null-false filter shape provably
    * matches nothing); min/max are percent-encoded renderings ("" for
    * "n"). A column a footer could not bound (missing stats,
    * unsupported type) simply has no ColStat — skipping is
    * conservative by construction. */
  final case class ColStat(col: String, tag: String, min: String,
      max: String)

  /** One data file of a segment leaf: its name inside the entry's
    * dir and its byte size, both recorded at stage time. */
  final case class DataFile(name: String, size: Long)

  /** One manifest line: table name, partition key (hive rendering; ""
    * for append-segment entries) → leaf data dir relative to root, the
    * leaf's data `files`, and the FINGERPRINT of the schema those files
    * carry with the recorded `schema` itself — which is what makes
    * schema evolution safe BY DEFAULT: a read whose selected entries
    * disagree on the fingerprint scans one relation per fingerprint
    * and unions them (union schema, null-filled old rows), while
    * homogeneous tables — the overwhelmingly common case — scan one
    * relation. No reader has to know whether the table ever evolved.
    *
    * `files` is the whole read-side listing: the scan reads exactly
    * these files, and `bytes` (their sum) gives planners — the
    * [[graft.sources.ManifestFileIndex]] `sizeInBytes` in particular —
    * exact relation sizing with ZERO list calls. `stats` is the
    * per-column skipping metadata ([[ColStat]]) for the table's
    * declared stats columns. */
  final case class Entry(table: String, part: String, dir: String,
      schemaId: String, schema: StructType, files: Seq[DataFile],
      stats: Seq[ColStat] = Nil) {
    def bytes: Long = files.map(_.size).sum
  }

  /** A parsed manifest: per-table RAW key spec ("" = append-only) and
    * the full entry list of that version. */
  final case class Manifest(partCols: Map[String, String],
      entries: Seq[Entry])

  /** The key column of a raw header spec (strips the `|`-suffixed
    * stats-column list). */
  private def keyColOf(raw: String): String = raw.split('|').head
  /** The declared stats columns of a raw header spec. */
  private def statsColsOf(raw: String): Seq[String] =
    raw.split('|').toSeq.drop(1).headOption
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  private def rawSpecOf(td: TableDef): String =
    if (td.statsCols.isEmpty) td.partCol
    else td.partCol + "|" + td.statsCols.mkString(",")

  /** Table declaration for [[createTables]]: `partCol` names the key
    * column ("" = append-only); `statsCols` declares the columns
    * whose per-segment min/max land in every manifest entry
    * ([[ColStat]]) — the skip set for selective non-key predicates.
    * Declared, not automatic: stats are footer-harvest-free to COLLECT
    * but every column inflates every manifest line, so the caller
    * names the columns its readers actually filter on. */
  final case class TableDef(name: String, partCol: String,
      statsCols: Seq[String] = Nil) {
    // every name/column that lands in the manifest HEADER must avoid
    // the spec's own delimiters (table=spec;… , key|c1,c2) — a '|'
    // inside partCol, say, would round-trip as a different key column
    // plus a phantom stats list on the next commit
    require(!name.exists("\t\n;=".contains(_)), s"bad table name: $name")
    require(!partCol.exists("\t\n;|,=".contains(_)),
      s"partition column '$partCol' carries a manifest-spec delimiter")
    statsCols.foreach(c => require(
      !c.exists("\t\n;|,=".contains(_)),
      s"stats column '$c' carries a manifest-spec delimiter"))
  }

  /** One table's mutation inside an atomic [[commitTables]] commit. */
  sealed trait TableOp { def table: String }
  /** Merge `df` into the partitioned `table`: touched partitions (the
    * batch's distinct keys) are read back manifest-pruned, merged
    * (rows whose `idCol` appears in the batch replaced when set), and
    * re-staged; untouched entries carry over by reference. */
  final case class Upsert(table: String, df: DataFrame,
      idCol: Option[String] = None) extends TableOp
  /** REPLACE the touched partitions of `table` wholesale: every key
    * present in `df` gets exactly `df`'s rows — live rows of those
    * partitions are dropped from the new version without ever being
    * read (their entries just don't carry over). This is Spark's
    * dynamic partition overwrite re-expressed as a manifest commit —
    * the idempotent day-overwrite semantic (load∘load = load, the U1
    * discipline): replaying the same day's load commits a new version
    * with identical content, and the superseded version stays
    * time-travel-readable until vacuumed. */
  final case class Replace(table: String, df: DataFrame) extends TableOp
  /** Add `df` as one whole immutable segment of the append-only
    * `table` — nothing existing is read or merged (the narrow vector
    * store shape). An empty `df` appends nothing. */
  final case class Append(table: String, df: DataFrame) extends TableOp
  /** In-commit maintenance policy for [[commitTables]] — the
    * compact-every-N + vacuum discipline that keeps the append axis
    * flat (BASELINE.md's 100-commit rehearsal), moved INSIDE the store
    * so it is no longer the caller's job:
    *
    *  - `maxSegmentsPerTable`: when a commit would leave an
    *    append-only table above this many segments, a [[CompactAppend]]
    *    of the LIVE segments folds into the SAME atomic commit (the
    *    freshly staged segment rides along uncompacted and folds next
    *    time — nothing is rewritten in the commit that created it).
    *    Bound: segment count stays ≤ maxSegmentsPerTable + 1.
    *  - `vacuumKeepLast`: retention runs under the commit's own writer
    *    lease right after the publish — one lease window, zero extra
    *    acquisitions. Same reader contract as [[vacuum]].
    *
    * Maintenance PIGGYBACKS on real commits only: a plan that stages
    * nothing still commits nothing. */
  final case class Maintenance(maxSegmentsPerTable: Option[Int] = None,
      vacuumKeepLast: Option[Int] = None)

  /** Rewrite ALL of an append-only `table`'s segments into ONE — the
    * small-file compaction an append-per-micro-batch table needs
    * (thousands of narrow segments after a production streaming run):
    * one scan over the live segments, one new segment, every old entry
    * dropped from the new version. Content-invariant by construction
    * and, like every op here, non-destructive — superseded segments
    * stay readable through older versions until [[vacuum]]. A
    * single-segment (or empty) table is a no-op. */
  final case class CompactAppend(table: String) extends TableOp

  /** MERGE a CDC batch into the partitioned `table` by row identity:
    * source rows REPLACE live rows sharing their `idCol` (update),
    * source rows with no live match land as inserts, and source rows
    * where `deleteWhen` evaluates TRUE are TOMBSTONES — their `idCol`'s
    * live rows are removed and the tombstone row itself is never
    * written. One atomic commit covers all three clauses (the shape SQL
    * spells MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT
    * / WHEN MATCHED AND cond DELETE), so a downstream CDC consumer
    * applies upstream deletes exactly-once alongside its upserts.
    *
    * Cost discipline: identical to [[Upsert]] — only the partitions
    * named by the batch's keys are read and rewritten; a tombstone row
    * must therefore carry the SAME partition-key value as the live row
    * it retires (the usual CDC envelope shape). A partition whose rows
    * are all tombstoned simply stages nothing and retires. `deleteWhen`
    * is null-safe: a NULL verdict keeps the row an upsert.
    *
    * `envelope`: source columns that belong to the CDC ENVELOPE (the
    * `_op` flag `deleteWhen` typically reads), not the table — they
    * are dropped before staging instead of being mistaken for schema
    * evolution. An envelope name colliding with a live table column
    * still fails the evolution check loudly (it would otherwise drop
    * that column for the touched partitions). */
  final case class Merge(table: String, source: DataFrame, idCol: String,
      deleteWhen: Option[Column] = None,
      envelope: Seq[String] = Nil) extends TableOp

  /** Row-level DELETE WHERE over `table`, copy-on-write at SEGMENT
    * granularity (the Delta/Iceberg CoW shape, library-sized):
    *
    *  1. `cond` is resolved against the table's (union) schema and its
    *     pushable conjuncts intersect each live entry's [[ColStat]]s —
    *     a segment whose stats PROVE no row can match is untouched and
    *     carries over by reference (never read, never listed);
    *  2. the surviving candidate segments are read back and rewritten
    *     WITHOUT the matching rows (SQL semantics: a NULL verdict
    *     keeps the row); a partition rewritten to empty retires.
    *
    * At 100 TB this is the difference between a predicate delete that
    * rewrites a table and one that rewrites a day: name the delete
    * axis in `statsCols` (GDPR user-id, retention date) and only the
    * overlapping segments move. For whole-partition deletes
    * by KEY, [[DeleteKeys]] is pure metadata — prefer it when the
    * predicate is key-membership. */
  final case class Delete(table: String, cond: Column) extends TableOp

  /** Drop whole partitions of the keyed `table` by key value — PURE
    * METADATA: the superseded entries simply don't carry into the new
    * version (no read, no write, no list; [[Replace]]'s mechanism with
    * no replacement data). Keys with no live entry are a no-op, so a
    * re-delivered delete commits nothing (exactly-once for free). The
    * dropped partitions stay time-travel-readable until [[vacuum]]. */
  final case class DeleteKeys(table: String, keys: Seq[String])
      extends TableOp

  /** Thrown by [[createTables]] when the root already holds a
    * committed manifest — including the re-check UNDER the writer
    * lease, so a racing second first-writer fails BEFORE staging any
    * segment (no orphaned dirs) and a caller holding a batch (the SQL
    * facade's write path) can route it to the append/overwrite
    * dispatch instead. Subclasses IllegalStateException so callers
    * matching the broader type keep working. */
  final class AlreadyInitializedException(msg: String)
      extends IllegalStateException(msg)

  private[graft] val ManifestDirName = "_manifests"
  private val SegDirName = "seg"
  private val Header = "graft-manifest"
  /** v4: `S` lines record each fingerprint's schema once, and every
    * `E` line its data files with their sizes — everything a read
    * needs. Earlier formats listed only directories and are refused
    * with a rebuild message ([[readManifest]]). */
  private val FormatVersion = "4"

  /** Percent-encoding for stat values and file names inside the line
    * format: the field/record delimiters and '%' itself. Verbatim
    * otherwise, so string stats stay comparable by eye. */
  private def enc(v: String): String =
    v.flatMap {
      case '%' => "%25"
      case ';' => "%3B"
      case ':' => "%3A"
      case '\t' => "%09"
      case '\n' => "%0A"
      case '\r' => "%0D"
      case c => c.toString
    }
  private def dec(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      if (v(i) == '%' && i + 3 <= v.length) {
        sb += Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar
        i += 3
      } else { sb += v(i); i += 1 }
    }
    sb.toString
  }

  private def renderStats(stats: Seq[ColStat]): String =
    stats.map(cs =>
      s"${cs.col}=${cs.tag}:${enc(cs.min)}:${enc(cs.max)}")
      .mkString(";")

  private def parseStats(spec: String): Seq[ColStat] =
    spec.split(';').iterator.filter(_.nonEmpty).map { part =>
      val eq = part.indexOf('=')
      require(eq >= 0, s"corrupt stat spec: $part")
      val col = part.take(eq)
      // -1 keeps trailing empty fields (the E-line discipline): a
      // legal string stat can be the EMPTY string, rendering as
      // 'col=s::' — the default split would drop both empties and
      // brick every later readManifest of a legally committed version
      part.drop(eq + 1).split(":", -1) match {
        case Array(tag, mn, mx) =>
          ColStat(col, tag, dec(mn), dec(mx))
        case _ => throw new IllegalStateException(
          s"corrupt stat spec: $part")
      }
    }.toSeq

  private def renderFiles(files: Seq[DataFile]): String =
    files.map(f => s"${enc(f.name)}:${f.size}").mkString(";")

  private def parseFiles(spec: String): Seq[DataFile] =
    spec.split(';').iterator.filter(_.nonEmpty).map { f =>
      val i = f.lastIndexOf(':')
      require(i > 0, s"corrupt file spec: $f")
      DataFile(dec(f.take(i)), f.drop(i + 1).toLong)
    }.toSeq
  /** Table name the single-table sugar API stores under. */
  private val DefaultTable = "t"

  /** Kill-point hook for the crash specs: "create-preflight" fires
    * before a create takes the lease, "staged" after every new segment
    * of a commit is fully written (manifest not yet published), and
    * "committed" after the manifest create. A hook that throws models
    * a writer dying at that point. Never set outside specs. */
  private[graft] var killPoint: String => Unit = _ => ()

  /** Race seam for the publish-verification spec: fires between the
    * manifest pre-existence check and the publish rename, the window a
    * pathological lease double-grant would race in. Never set outside
    * specs. */
  private[graft] var beforePublishRename: () => Unit = () => ()

  private def fsOf(s: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def manifestDir(root: Path) = new Path(root, ManifestDirName)
  private def manifestPath(root: Path, v: Long) =
    new Path(manifestDir(root), f"v$v%08d.mf")
  /** Writer-lease file name at the store root. */
  private[graft] val WriterLockName = "_WRITER"

  /** Lease on the writer lock: a holder silent for this long is presumed
    * crashed and the next writer steals its lock. Every commit takes
    * and releases the lease around one planning closure and its staged
    * writes, so the term must out-live the longest commit; a commit
    * that overlaps a pair of staged writes (`Par.two`) holds it for
    * max(side a, side b). `var` as a test seam; never set outside specs. */
  private[graft] var WriterLeaseMs: Long = 15 * 60 * 1000L

  /** Bound on waiting for a concurrent writer to release the lease
    * before failing loudly. Schedulers that queue long commits behind
    * one another should serialize upstream; this bound turns an
    * unexpected overlap into a visible error instead of a hang. Same
    * test-seam discipline as [[WriterLeaseMs]]. */
  private[graft] var WriterWaitMs: Long = 60 * 1000L

  private def writerLock(root: Path) = new Path(root, WriterLockName)

  /** Take the writer lease at `root`; returns the owner token. A stale
    * lock (mtime older than [[WriterLeaseMs]]) is stolen by atomic
    * rename — one stealer wins and deletes the renamed-aside husk.
    * Throws after [[WriterWaitMs]] if the lock stays busy and fresh: a
    * writer that can neither acquire nor steal must not proceed.
    *
    * The claim is an atomic exclusive create per scheme: on `file:`
    * Hadoop's `create(overwrite=false)` is check-then-act (a GC pause
    * between one racer's existence check and its write once produced
    * TWO owners under test-suite heap pressure), so the local path goes
    * through `java.nio.Files.createFile` (O_EXCL); elsewhere the file
    * system arbitrates `create(overwrite=false)` and its result is
    * trusted. The token lands AFTER the claim; a concurrent content
    * read in that window sees an empty owner, which only the owner's
    * own release consults (strictly after the write). */
  private def acquireLease(fs: FileSystem, root: Path): String = {
    // a fresh store root may not exist yet (create()'s first act is
    // taking the lease) — the lock file needs its parent in place
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = writerLock(root)
    val me = java.util.UUID.randomUUID().toString
    val scheme = Option(lock.toUri.getScheme).getOrElse(fs.getScheme)
    val deadline = System.currentTimeMillis() + WriterWaitMs
    def claim(): Boolean =
      if (scheme == "file") {
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(lock.toUri.getPath))
          val out = fs.create(lock, true)
          try out.write(me.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException => false // parent gone: busy/retry
        }
      } else {
        try {
          val out = fs.create(lock, false)
          try out.write(me.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      }
    while (!claim()) {
      // busy: steal only a lease-expired lock, then retry the claim
      val stale =
        try {
          val st = fs.getFileStatus(lock)
          System.currentTimeMillis() - st.getModificationTime >
            WriterLeaseMs
        } catch { case _: java.io.IOException => false }
      if (stale) {
        val aside = new Path(lock.getParent,
          lock.getName + ".stale-" + me.take(8))
        try { if (fs.rename(lock, aside)) fs.delete(aside, false) }
        catch { case _: java.io.IOException => () }
      }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"lock ${lock.getName} busy past ${WriterWaitMs}ms at " +
            s"${lock.getParent} — the holder is alive (wait) or its " +
            "lease has not expired")
      Thread.sleep(50)
    }
    me
  }

  /** Best-effort ownership-checked release: delete only a lock we still
    * own; a stolen lease belongs to the thief now. */
  private def releaseLease(fs: FileSystem, root: Path,
      token: String): Unit = {
    val lock = writerLock(root)
    val owner =
      try {
        val in = fs.open(lock)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      } catch { case _: java.io.IOException => None }
    if (owner.contains(token))
      try fs.delete(lock, false)
      catch { case _: java.io.IOException => () }
  }

  /** Newest committed version under `root`; None when the store has no
    * manifest yet (not initialized, or a crash preceded [[create]]'s
    * commit point). */
  def currentVersion(s: SparkSession, root: String): Option[Long] = {
    val (fs, r) = fsOf(s, root)
    currentVersion(fs, r)
  }

  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = manifestDir(root)
    val sts =
      try { if (fs.exists(dir)) fs.listStatus(dir) else return Seq.empty }
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    sts.iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".mf"))
      .map(n => n.stripPrefix("v").stripSuffix(".mf").toLong)
      .toSeq.sorted
  }

  private def currentVersion(fs: FileSystem, root: Path): Option[Long] =
    listVersions(fs, root).lastOption

  /** All retained (readable, time-travelable) versions, ascending. */
  def versions(s: SparkSession, root: String): Seq[Long] = {
    val (fs, r) = fsOf(s, root)
    listVersions(fs, r)
  }

  private def renderPartCols(pcs: Map[String, String]): String =
    pcs.toSeq.sorted.map { case (t, c) => s"$t=$c" }.mkString(";")

  private def parsePartCols(spec: String): Map[String, String] =
    spec.split(';').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i >= 0, s"corrupt table spec: $kv")
      (kv.take(i), kv.drop(i + 1))
    }.toMap

  /** Parse manifest `v`. A manifest in an earlier format (v2, v3)
    * lists directories without their files or schemas, so no read can
    * be built from it: it is refused by name, with the rebuild it
    * needs, instead of being listed and inferred at read time. */
  private def readManifest(fs: FileSystem, root: Path, v: Long): Manifest = {
    val p = manifestPath(root, v)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // -1 keeps trailing empty fields (append entries have part = "",
    // statless entries an empty stats field)
    val lines = text.linesIterator.filter(_.nonEmpty).map(_.split("\t", -1))
      .toSeq
    val partCols = lines.headOption match {
      case Some(Array(Header, FormatVersion, spec)) => parsePartCols(spec)
      case Some(Array(Header, old, _)) => throw new IllegalStateException(
        s"manifest $p is format v$old, which records no data files or " +
          s"schemas; this reader needs format v$FormatVersion — rebuild " +
          "the store (createTables, or the index's build call, over a " +
          "fresh root)")
      case Some(h) => throw new IllegalStateException(
        s"corrupt manifest header in $p: ${h.mkString("\t")}")
      case None => throw new IllegalStateException(s"empty manifest $p")
    }
    val schemas = lines.tail.collect { case Array("S", id, json) =>
      id -> DataType.fromJson(json).asInstanceOf[StructType]
    }.toMap
    val entries = lines.tail.flatMap {
      case Array("S", _, _) => None
      case Array("E", table, part, dir, schemaId, files, stats) =>
        Some(Entry(table, part, dir, schemaId, schemas.getOrElse(schemaId,
          throw new IllegalStateException(
            s"manifest $p has no schema line for $schemaId")),
          parseFiles(files), parseStats(stats)))
      case line => throw new IllegalStateException(
        s"corrupt manifest line in $p: ${line.mkString("\t")}")
    }
    Manifest(partCols, entries)
  }

  /** Publish version `v`: write the manifest body to a dot-invisible
    * temp name and rename it to `v%08d.mf`. The appearance of the final
    * key IS the commit point (object doc). Double-writer backstop,
    * stated honestly per storage scheme: on rename-atomic schemes the
    * pre-existence check plus rename-refuses-to-overwrite arbitrates —
    * the loser fails loudly, full stop. On S3-like stores BOTH checks
    * are check-then-act (rename is copy+delete and can overwrite), so
    * after the rename the published manifest is READ BACK and required
    * to equal what this writer staged: an overwrite that lands before
    * this writer's read-back makes THIS writer fail loudly instead of
    * silently believing a lost commit. What the read-back cannot close
    * on overwriting stores is the complementary interleaving — the
    * victim's read-back succeeds and THEN the racer overwrites; closing
    * that needs a conditional PUT (If-None-Match), which the Hadoop FS
    * API cannot express. The backstop therefore NARROWS the
    * double-grant window; actual mutual exclusion is the writer lease,
    * and a double-granted lease is already the pathological state the
    * lease machinery (write-then-verify, heartbeat, O_EXCL create)
    * exists to prevent. */
  private def writeManifest(fs: FileSystem, root: Path, v: Long,
      partCols: Map[String, String], entries: Seq[Entry]): Unit = {
    val dir = manifestDir(root)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val fin = manifestPath(root, v)
    require(!fs.exists(fin),
      s"manifest $fin already exists — a concurrent writer committed " +
        "this version (the writer lease should have prevented this)")
    val body = new StringBuilder
    body ++= s"$Header\t$FormatVersion\t${renderPartCols(partCols)}\n"
    entries.groupBy(_.schemaId).toSeq.sortBy(_._1).foreach {
      case (id, es) => body ++= s"S\t$id\t${es.head.schema.json}\n"
    }
    entries.sortBy(e => (e.table, e.part, e.dir)).foreach { e =>
      body ++= s"E\t${e.table}\t${e.part}\t${e.dir}\t${e.schemaId}" +
        s"\t${renderFiles(e.files)}\t${renderStats(e.stats)}\n"
    }
    val tmp = new Path(dir, f".v$v%08d.mf.tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(body.toString.getBytes("UTF-8")) finally out.close()
    beforePublishRename()
    require(fs.rename(tmp, fin),
      s"manifest publish rename $tmp -> $fin failed (concurrent commit?)")
    // write-then-verify (the writer-lease discipline applied to the
    // commit point itself): one small-file GET per commit
    val in = fs.open(fin)
    val published =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    if (published != body.toString)
      throw new IllegalStateException(
        s"manifest $fin does not contain this writer's commit — a " +
          "concurrent writer raced the publish (double-granted lease?). " +
          "This commit did NOT land; the store reflects the other " +
          "writer's version. Retry against the new current version.")
  }

  /** Stable fingerprint of the schema a segment's FILES carry (the
    * layout column, when distinct from the data, is already absent
    * from `written`). Field names + types, hashed. Nullability is
    * DELIBERATELY excluded (`catalogString` drops it): parquet reads
    * come back nullable regardless of what the writer's frame
    * declared, so hashing nullability would make a written frame and
    * its own read-back disagree — flagging spurious "evolution" on
    * every untouched-vs-rewritten segment pair. */
  private def schemaIdOf(written: StructType): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = md.digest(written.catalogString.getBytes("UTF-8"))
    bytes.take(6).map(b => f"$b%02x").mkString
  }

  /** The schema `spark.read.parquet` infers for files written from a
    * frame of schema `written`: the writer stores its schema in every
    * footer, and the read takes it back with every field, element and
    * map value nullable. This is what an `S` line records. */
  private def readSchemaOf(written: StructType): StructType = {
    def loose(t: DataType): DataType = t match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = loose(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(loose(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(loose(k), loose(v), valueContainsNull = true)
      case other => other
    }
    loose(written).asInstanceOf[StructType]
  }

  private def freshSegRel(): String =
    s"$SegDirName/seg-" + java.util.UUID.randomUUID().toString.take(13)

  /** Harvest one freshly written segment leaf: its data files with
    * their sizes (the one listing the read path ever needs — recorded
    * in the entry), row count (with `countRows`; -1 otherwise) and
    * min/max [[ColStat]]s for the declared `cols`, read from the
    * parquet FOOTERS the write just produced. Cost shape: one footer
    * open per NEW file — bounded by what this very commit staged (the
    * keyCollect bound: ~one file per touched partition), never a
    * second scan of the batch, and never any read-time cost; at read
    * time the manifest alone decides skipping. Conservative by
    * construction: a column whose stats a footer omits (unwritten,
    * truncated away for oversized binaries) or whose type has no exact
    * rendering yields NO stat for the whole leaf — absence of a stat
    * can only cost a scan, never correctness. An all-null block
    * contributes nothing (min/max ignore nulls; null-matching
    * predicates never consult stats). */
  private def harvestLeaf(s: SparkSession, fs: FileSystem, dir: Path,
      cols: Seq[String], countRows: Boolean = false)
      : (Seq[DataFile], Long, Seq[ColStat]) = {
    val files = fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    val dataFiles = files.map(st => DataFile(st.getPath.getName, st.getLen))
    if (cols.isEmpty && !countRows) return (dataFiles, -1L, Nil)
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation,
      PrimitiveType}
    val conf = s.sessionState.newHadoopConf()
    // per column: (tag, primitive type, raw min, raw max); dead = a
    // footer could not bound it somewhere, so the leaf gets no stat
    val acc = scala.collection.mutable.Map.empty[String,
      (String, org.apache.parquet.schema.PrimitiveType,
        Comparable[Any], Comparable[Any])]
    val dead = scala.collection.mutable.Set.empty[String]
    // columns that held ONLY nulls in every block seen so far: no
    // min/max exists, but "no values at all" is itself a provable
    // bound — recorded as the dedicated tag "n" when no non-null
    // block ever contributes (mixed leaves keep their ranged stat:
    // min/max describe the non-null values, which is already sound
    // for the null-false filter shapes)
    val nullOnly = scala.collection.mutable.Set.empty[String]
    var rows = 0L
    def tagOf(pt: PrimitiveType): Option[String] = {
      import PrimitiveType.PrimitiveTypeName._
      (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
        case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
          Some("dt")
        case (INT32 | INT64,
            null | _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) =>
          Some("l")
        case (INT64,
            _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
          Some("ts")
        case (FLOAT | DOUBLE, _) => Some("d")
        case (BINARY,
            _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
          Some("s")
        case _ => None
      }
    }
    def render(pt: PrimitiveType, tag: String, v: Any): String =
      (tag, v) match {
      case ("d", f: java.lang.Float) => f.doubleValue.toString
      case ("ts", l: java.lang.Long) =>
        pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                (l.longValue * 1000L).toString
              case LogicalTypeAnnotation.TimeUnit.NANOS =>
                (l.longValue / 1000L).toString
              case _ => l.toString // MICROS, Spark's native unit
            }
          case _ => l.toString
        }
      case ("s", b) =>
        b.asInstanceOf[org.apache.parquet.io.api.Binary]
          .toStringUsingUTF8
      case (_, other) => other.toString
    }
    files.foreach { st =>
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        reader.getFooter.getBlocks.forEach { block =>
          rows += block.getRowCount
          block.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString
            if (cols.contains(name) && !dead.contains(name)) {
              val stat = cc.getStatistics
              val allNull = stat != null && !stat.hasNonNullValue &&
                stat.isNumNullsSet && stat.getNumNulls == block.getRowCount
              if (stat == null || (!stat.hasNonNullValue && !allNull))
                { dead += name; acc.remove(name) }
              else if (allNull) nullOnly += name
              else tagOf(cc.getPrimitiveType) match {
                case None => dead += name; acc.remove(name)
                case Some(tag) =>
                  val mn = stat.genericGetMin.asInstanceOf[Comparable[Any]]
                  val mx = stat.genericGetMax.asInstanceOf[Comparable[Any]]
                  acc.get(name) match {
                    case None =>
                      acc(name) = (tag, cc.getPrimitiveType, mn, mx)
                    case Some((t, pt, m0, x0)) => acc(name) = (t, pt,
                      if (mn.compareTo(m0) < 0) mn else m0,
                      if (mx.compareTo(x0) > 0) mx else x0)
                  }
              }
            }
          }
        }
      } finally reader.close()
    }
    val ranged = acc.toSeq.map {
      case (name, (tag, pt, mn, mx)) =>
        ColStat(name, tag, render(pt, tag, mn), render(pt, tag, mx))
    }
    val allNullStats = cols
      .filter(c => nullOnly.contains(c) && !acc.contains(c) &&
        !dead.contains(c))
      .map(c => ColStat(c, "n", "", ""))
    val stats = (ranged ++ allNullStats).sortBy(_.col)
    (dataFiles, rows, stats)
  }

  /** Zero-cost rendering guard for freshly staged entries, used where
    * no key collect exists to compare against ([[createTables]]): hive
    * escaping always leaves a visible trace in the dir name — a `%`
    * escape sequence (and `%` itself is escaped, so a raw `%` cannot
    * masquerade), the null-partition token, or an empty rendering — so
    * a staged part carrying any of those CANNOT round-trip a verbatim
    * key, with no second scan of the input needed to know it.
    *
    * A COMMA is additionally refused even though hive renders it
    * verbatim: the SQL facade's `parts` option
    * ([[graft.sources.ManifestSource]]) is comma-delimited, so a key
    * containing one would silently mis-prune through the SQL front
    * door (split into two wrong keys) while reading fine through the
    * Scala API — refusing it at write time keeps the facade delimiter
    * unconditionally safe. */
  private def requirePartsVerbatim(table: String, pc: String,
      staged: Seq[Entry]): Unit = {
    val bad = staged.map(_.part).filter(p =>
      p.isEmpty || p.contains("%") || p.contains(",") ||
        p == "__HIVE_DEFAULT_PARTITION__")
    require(bad.isEmpty,
      s"table '$table': key column '$pc' produced hive-escaped, empty, " +
        s"comma-bearing, or null partition dirs " +
        s"(${bad.take(4).mkString(";")}) — manifest-store keys must be " +
        "non-null and render verbatim (no characters hive escapes, no " +
        "commas — the SQL facade's parts delimiter). Pre-render the " +
        "key into a safe string column (e.g. concat(a, '_', b) for a " +
        "composite key) and key the table by that. Nothing was " +
        "committed.")
  }

  /** Enforce the documented key contract (object doc: partition keys
    * are non-null and matched by their hive directory rendering): the
    * staged entries' part set must EQUAL the batch's collected key
    * values. A key whose hive rendering escapes its `toString` (a
    * string carrying % : / = # …, a null, an empty string) would
    * silently miss the live entries it supersedes and the partition's
    * rows would double in the new version — abort BEFORE the manifest
    * publish instead (the staged segment is an unreferenced orphan
    * [[vacuum]] reaps). */
  private def requireKeysRendered(table: String, pc: String,
      keySet: Set[String], staged: Seq[Entry],
      mayEmpty: Set[String] = Set.empty): Unit = {
    // comma refusal: see [[requirePartsVerbatim]] — a comma round-trips
    // hive rendering fine, so the equality check below would pass, but
    // it would silently mis-prune through the SQL facade's
    // comma-delimited `parts` option. Same write-time refusal here so
    // the contract holds on every commit path.
    val commas = keySet.filter(_.contains(",")).toSeq.sorted
    require(commas.isEmpty,
      s"table '$table': key column '$pc' carries comma-bearing values " +
        s"(${commas.take(4).mkString(";")}) — commas are the SQL " +
        "facade's parts delimiter and are refused in manifest-store " +
        "keys. Pre-render the key into a safe string column. Nothing " +
        "was committed.")
    val parts = staged.map(_.part).toSet
    // `mayEmpty` (Merge's tombstone-bearing keys): a partition whose
    // rows were ALL tombstoned legitimately stages nothing — it must
    // not be mistaken for a key that failed to render. Every staged
    // dir must still map back to a batch key.
    require((keySet -- mayEmpty).subsetOf(parts) &&
        parts.subsetOf(keySet), {
      val missing = (keySet -- mayEmpty -- parts).toSeq.sorted.take(4)
      val extra = (parts -- keySet).toSeq.sorted.take(4)
      s"table '$table': the batch's '$pc' key values do not round-trip " +
        s"through their hive directory renderings (values with no " +
        s"matching dir: ${missing.mkString(",")}; dirs with no matching " +
        s"value: ${extra.mkString(",")}). Manifest-store keys must be " +
        "non-null and render verbatim (no characters hive escapes) — " +
        "pre-render the key into a safe string column (e.g. " +
        "concat(a, '_', b) for a composite key) and key the table by " +
        "that. Nothing was committed."
    })
  }

  /** The SANCTIONED type widenings, and ONLY these: the integral chain
    * byte→short→int→long and float→double — the changes where reading
    * old rows at the wider type loses nothing. Any other cross-segment
    * type change (decimal precision drift, int→string, …) is NOT
    * evolution: Spark's union coercion would "handle" it by silently
    * rewriting values (a decimal column read as double loses
    * precision, numerics read as strings, with no error anywhere), so
    * [[relations]] and the upsert merge refuse it loudly instead.
    * Types that differ only in nullability (an `array<float>` whose
    * elements may or may not be null) are the same type: the union
    * takes the nullable side and no value changes. */
  private val WidenChains = Seq(
    Seq("tinyint", "smallint", "int", "bigint"),
    Seq("float", "double"))
  private def widenOk(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    a.catalogString == b.catalogString || WidenChains.exists(c =>
      c.contains(a.simpleString) && c.contains(b.simpleString))

  /** Conservative segment-skip evaluation of one data-source filter
    * against one entry's [[ColStat]]s: FALSE only when the stats PROVE
    * the segment cannot hold a matching row; TRUE whenever the filter
    * shape, the column, or the type domain is not bounded by the
    * stats. Null semantics are safe by construction — min/max describe
    * non-null values and every pruning comparison here is null-false,
    * while null-matching shapes (IsNull, EqualNullSafe(null)) never
    * skip. */
  /** Translate `cond`'s pushable conjuncts into data-source Filters
    * for [[mayMatch]] stat pruning. Resolution plans a filter over
    * `frame` (analysis only — no job runs) and reads the TOPMOST
    * Filter of the ANALYZED plan: the optimized plan would have pushed
    * the predicate through the evolution union, where a null-filled
    * branch folds its conjunct away and the branch-local residue
    * must NOT be read back as a global conjunct (over-pruning = row
    * loss). [[ConstantFolding]] alone is applied so coercion casts
    * around literals fold into translatable literals — it rewrites
    * expressions, never plan shape. Untranslatable conjuncts simply
    * contribute no pruning (the conservative direction); the caller
    * still applies the FULL `cond` to every row it rewrites. */
  private[graft] def pruneFilters(frame: DataFrame, cond: Column)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And => CatalystAnd, Expression}
    val folded = org.apache.spark.sql.catalyst.optimizer.ConstantFolding(
      frame.filter(cond).queryExecution.analyzed)
    val top = folded.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }
    def split(e: Expression): Seq[Expression] = e match {
      case CatalystAnd(l, rr) => split(l) ++ split(rr)
      case x => Seq(x)
    }
    val utcSession = frame.sparkSession.sessionState.conf
      .sessionLocalTimeZone == "UTC"
    top.toSeq.flatMap(split).flatMap(e => toSourceFilter(e, utcSession))
  }

  /** The one Catalyst → data-source filter translation, covering
    * exactly the shapes [[mayMatch]] evaluates (=, ranges, IN / InSet,
    * IS NOT NULL, prefix, AND, OR) — Spark's own
    * `DataSourceStrategy.translateFilter` is `protected`. Used by
    * [[pruneFilters]] (Delete / Merge) and by the SQL facade's
    * [[graft.sources.ManifestFileIndex]] `listFiles`. Literals convert
    * to their EXTERNAL Scala renderings ([[CatalystTypeConverters]]:
    * UTF8String→String, micros→Timestamp, days→Date) — the domains
    * [[mayMatch]]'s `norm` expects. Anything else translates to None →
    * contributes no pruning (conservative; the caller still applies
    * the full predicate to every row). */
  private[graft] def toSourceFilter(e: org.apache.spark.sql.catalyst
      .expressions.Expression, utcSession: Boolean)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{sources => f}
    // type coercion wraps the COLUMN side in a cast when the literal's
    // type is wider (int col vs long literal, timestamp_ntz col vs
    // timestamp literal). Unwrapping is sound ONLY when the cast
    // preserves order AND lands in the same [[mayMatch]] comparison
    // domain as the column's harvested stat tag: the numeric widenings
    // (stats and literal both normalize to BigDecimal) and — under a
    // UTC session only, where wall micros == instant micros —
    // ntz↔instant timestamp casts (both sides tag "ts"). Anything
    // else keeps the cast and translates to None (no pruning).
    def castSound(from: DataType, to: DataType): Boolean =
      (from, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType) => true
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (TimestampNTZType, TimestampType) => utcSession
        case (TimestampType, TimestampNTZType) => utcSession
        case _ => false
      }
    def colOf(x: Expression): Option[String] = x match {
      case a: Attribute => Some(a.name)
      case c: Cast => c.child match {
        case a: Attribute if castSound(a.dataType, c.dataType) =>
          Some(a.name)
        case _ => None
      }
      case _ => None
    }
    def litOf(x: Expression): Option[Any] = x match {
      case Literal(v, dt) if v != null =>
        Some(CatalystTypeConverters.convertToScala(v, dt))
      case _ => None
    }
    def both(a: Expression, b: Expression,
        mk: (String, Any) => f.Filter,
        flip: (String, Any) => f.Filter): Option[f.Filter] =
      (for { c <- colOf(a); v <- litOf(b) } yield mk(c, v)).orElse(
        for { c <- colOf(b); v <- litOf(a) } yield flip(c, v))
    e match {
      case EqualTo(a, b) => both(a, b, f.EqualTo, f.EqualTo)
      case GreaterThan(a, b) =>
        both(a, b, f.GreaterThan, f.LessThan)
      case GreaterThanOrEqual(a, b) =>
        both(a, b, f.GreaterThanOrEqual, f.LessThanOrEqual)
      case LessThan(a, b) =>
        both(a, b, f.LessThan, f.GreaterThan)
      case LessThanOrEqual(a, b) =>
        both(a, b, f.LessThanOrEqual, f.GreaterThanOrEqual)
      case In(a, vs) =>
        for {
          c <- colOf(a)
          lits <- Some(vs.map(litOf))
          if lits.forall(_.isDefined)
        } yield f.In(c, lits.map(_.get).toArray)
      // the optimizer's form of a long IN list: internal values
      case InSet(a, vs) =>
        colOf(a).map(c => f.In(c, vs.toArray.map(v =>
          CatalystTypeConverters.convertToScala(v, a.dataType))))
      case IsNotNull(a) => colOf(a).map(f.IsNotNull)
      case StartsWith(a, b) =>
        for {
          c <- colOf(a)
          v <- litOf(b).collect { case s: String => s }
        } yield f.StringStartsWith(c, v)
      case And(l, rr) =>
        for {
          lf <- toSourceFilter(l, utcSession)
          rf <- toSourceFilter(rr, utcSession)
        } yield f.And(lf, rf)
      case Or(l, rr) =>
        for {
          lf <- toSourceFilter(l, utcSession)
          rf <- toSourceFilter(rr, utcSession)
        } yield f.Or(lf, rf)
      case _ => None
    }
  }

  private[graft] def mayMatch(stats: Seq[ColStat],
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def statOf(c: String): Option[ColStat] = stats.find(_.col == c)
    // normalize a filter literal into the stat tag's comparison
    // domain; non-finite doubles (NaN, ±Infinity — legal Spark filter
    // values with no BigDecimal rendering) and anything else
    // unparseable yield None → the conservative no-skip
    def norm(tag: String, v: Any): Option[Any] = (tag, v) match {
      case (_, null) => None
      case ("l" | "d", d: java.lang.Double) if !java.lang.Double
        .isFinite(d) => None
      case ("l" | "d", f: java.lang.Float) if !java.lang.Float
        .isFinite(f) => None
      // Finite Float literals must WIDEN before rendering: harvestLeaf
      // renders FLOAT-column stats via doubleValue.toString (e.g.
      // "0.10000000149011612"), while Float.toString is the shortest
      // float repr ("0.1") — the same value would yield two different
      // BigDecimals and prove a false disjointness (silent row skip).
      case ("l" | "d", f: java.lang.Float) =>
        Some(BigDecimal(f.doubleValue.toString))
      case ("l" | "d", n: java.lang.Number) =>
        try Some(BigDecimal(n.toString))
        catch { case _: NumberFormatException => None }
      case ("s", str: String) => Some(str)
      case ("dt", d: java.sql.Date) =>
        Some(BigDecimal(d.toLocalDate.toEpochDay))
      case ("dt", d: java.time.LocalDate) => Some(BigDecimal(d.toEpochDay))
      case ("ts", t: java.sql.Timestamp) => Some(BigDecimal(
        java.math.BigDecimal.valueOf(t.getTime).multiply(
          java.math.BigDecimal.valueOf(1000L)).add(
          java.math.BigDecimal.valueOf((t.getNanos % 1000000L) / 1000L))))
      case ("ts", t: java.time.Instant) => Some(BigDecimal(
        t.getEpochSecond * 1000000L + t.getNano / 1000L))
      // timestamp_ntz literal: wall-clock micros, the domain an NTZ
      // column's parquet stats carry — no session TZ involved on
      // either side
      case ("ts", t: java.time.LocalDateTime) => Some(BigDecimal(
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          t.getNano / 1000L))
      case _ => None
    }
    def bounds(cs: ColStat): Option[(Any, Any)] = cs.tag match {
      case "s" => Some((cs.min, cs.max))
      case _ =>
        try Some((BigDecimal(cs.min), BigDecimal(cs.max)))
        catch { case _: NumberFormatException => None }
    }
    // norm() and bounds() share the tag's domain, so both sides are
    // always the same type here; anything else yields None and the
    // conservative no-skip below. Strings compare as UNSIGNED UTF-8
    // BYTES — the order parquet footer stats were folded in
    // ([[harvestLeaf]] via Binary.compareTo). Java's String.compareTo
    // is UTF-16 code-unit order, which DISAGREES above the BMP (a
    // U+E000..U+FFFF char sorts after a surrogate-pair char) and
    // would wrongly skip segments whose stats mix the two planes.
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: String, y: String) => Some(java.util.Arrays
        .compareUnsigned(x.getBytes(java.nio.charset.StandardCharsets
          .UTF_8), y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
      case _ => None
    }
    def ranged(c: String)(prove: (Any, Any, Any) => Option[Boolean])
        (v: Any): Boolean =
      statOf(c).flatMap { cs =>
        // tag "n": the column holds NO values in this segment — every
        // filter shape routed through here is null-false, so no row
        // can match. (Null-matching shapes — IsNull,
        // EqualNullSafe(null) — never reach ranged(); they fall to the
        // conservative default below.)
        if (cs.tag == "n") Some(false)
        else bounds(cs).flatMap { case (mn, mx) =>
          norm(cs.tag, v).flatMap(nv => prove(mn, mx, nv))
        }
      }.forall(identity)
    def within(mn: Any, mx: Any, nv: Any): Option[Boolean] =
      for (lo <- cmp(nv, mn); hi <- cmp(nv, mx)) yield lo >= 0 && hi <= 0
    f match {
      case EqualTo(c, v) => ranged(c)(within)(v)
      case EqualNullSafe(c, v) if v != null => ranged(c)(within)(v)
      case GreaterThan(c, v) =>
        ranged(c)((_, mx, nv) => cmp(mx, nv).map(_ > 0))(v)
      case GreaterThanOrEqual(c, v) =>
        ranged(c)((_, mx, nv) => cmp(mx, nv).map(_ >= 0))(v)
      case LessThan(c, v) =>
        ranged(c)((mn, _, nv) => cmp(mn, nv).map(_ < 0))(v)
      case LessThanOrEqual(c, v) =>
        ranged(c)((mn, _, nv) => cmp(mn, nv).map(_ <= 0))(v)
      case In(c, vs) =>
        vs.isEmpty || vs.exists(v => ranged(c)(within)(v))
      // an all-null segment provably holds no non-null value
      case IsNotNull(c) => statOf(c).forall(_.tag != "n")
      // prefix pruning on string stats, in the SAME unsigned-byte
      // order the stats were folded in: strings with prefix p sort in
      // [p, nextPrefix(p)) — skip when max < p, or when min >= the
      // next prefix (increment p's last non-0xFF byte, dropping the
      // 0xFF tail; an all-0xFF prefix has no upper bound)
      case StringStartsWith(c, p) if p != null =>
        statOf(c).forall { cs =>
          if (cs.tag == "n") false
          else if (cs.tag != "s") true
          else {
            val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val mxOk = java.util.Arrays.compareUnsigned(
              cs.max.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              pb) >= 0
            val mnOk = {
              val cut = pb.lastIndexWhere(b => (b & 0xff) != 0xff)
              if (cut < 0) true // no finite upper bound — never skip
              else {
                val next = java.util.Arrays.copyOf(pb, cut + 1)
                next(cut) = (next(cut) + 1).toByte
                java.util.Arrays.compareUnsigned(cs.min.getBytes(
                  java.nio.charset.StandardCharsets.UTF_8), next) < 0
              }
            }
            mxOk && mnOk
          }
        }
      case And(a, b) => mayMatch(stats, a) && mayMatch(stats, b)
      case Or(a, b) => mayMatch(stats, a) || mayMatch(stats, b)
      case _ => true // Not, IsNull, other string matchers — never skip
    }
  }

  /** THE relation builder: `entries` of one schema fingerprint (whose
    * recorded schema is `schema`) as a `HadoopFsRelation` over a
    * [[ManifestFileIndex]] of their recorded files. It reads no footer,
    * lists nothing and starts no Spark job. A keyed table's key becomes
    * the relation's partition column when its rendering parses back
    * exactly ([[ManifestFileIndex.supportedKeyType]]) — the scan then
    * takes the value from the manifest and a WHERE on it prunes
    * entries — and stays a plain data column otherwise. */
  private def relationOf(s: SparkSession, r: Path, keyCol: String,
      schema: StructType, entries: Seq[Entry]): HadoopFsRelation = {
    val key = schema.find(f => f.name == keyCol &&
      ManifestFileIndex.supportedKeyType(f.dataType))
    val index = new ManifestFileIndex(r, key, entries)
    HadoopFsRelation(index, index.partitionSchema, schema, None,
      new ManifestReadOnlyParquetFormat, Map.empty)(s)
  }

  /** The relations a read of the selected entries `sel` scans, handling
    * BOTH axes of schema evolution the store admits:
    *
    *  - ADDED columns (segments written before the column existed):
    *    union schema, pre-evolution rows read NULL;
    *  - WIDENED primitive types ([[widenOk]]: the integral chain and
    *    float→double): every row reads at the widened type.
    *
    * One relation per schema fingerprint, each internally homogeneous;
    * [[frameOf]] folds them through `unionByName(allowMissingColumns)`,
    * whose set-operation type coercion performs the widening. A
    * NON-widening type disagreement is refused loudly BEFORE the union
    * can coerce it into silent value corruption. A single-fingerprint
    * selection — the overwhelmingly common case — is one relation; an
    * evolved table pays one extra scan node per schema version it
    * still carries, which is also what [[CompactAppend]] and
    * full-partition upserts retire.
    *
    * An EMPTY selection scans one empty relation per fingerprint of
    * `all` (the table's entries): no rows, but the table's union
    * schema — an evolved table's empty slice must not lack the newest
    * columns.
    *
    * Fold order — hence column order — is deterministic ACROSS stores
    * and versions, not just within one manifest: groups sort by (field
    * count, field names, field types), which under ADD-only evolution
    * IS evolution order (the oldest, narrowest schema first,
    * later-added columns appended) — segment-dir UUIDs never decide the
    * layout. */
  private[graft] def relations(s: SparkSession, r: Path, keyCol: String,
      sel: Seq[Entry], all: Seq[Entry]): Seq[HadoopFsRelation] = {
    val groups = (if (sel.nonEmpty) sel else all).groupBy(_.schemaId)
      .values.toSeq.sortBy { es =>
        val st = es.head.schema
        (st.length, st.fieldNames.mkString("\u0000"),
          st.map(_.dataType.catalogString).mkString("\u0000"))
      }
    // refuse non-widening drift before the union coerces it away
    val seen = scala.collection.mutable.Map.empty[String, (DataType, String)]
    groups.foreach { es =>
      es.head.schema.fields.foreach { fld =>
        seen.get(fld.name) match {
          case Some((t, w0)) if !widenOk(t, fld.dataType) =>
            throw new IllegalStateException(
              s"segments disagree on column '${fld.name}' with a " +
                s"NON-widening type change: ${t.simpleString} (in $w0) " +
                s"vs ${fld.dataType.simpleString} (in ${es.head.dir}). " +
                "Only byte→short→int→long and float→double widen on " +
                "read — anything else silently corrupts values under " +
                "union coercion and is refused. Fix the writer and " +
                "rewrite the affected partitions (or CompactAppend) " +
                "explicitly.")
          case Some(_) => ()
          case None => seen(fld.name) = (fld.dataType, es.head.dir)
        }
      }
    }
    groups.map(es => relationOf(s, r, keyCol, es.head.schema,
      if (sel.nonEmpty) es else Nil))
  }

  /** [[relations]] as one frame: the relations unioned by name. */
  private[graft] def frameOf(s: SparkSession,
      rels: Seq[HadoopFsRelation]): DataFrame =
    rels.map(s.baseRelationToDataFrame)
      .reduce(_.unionByName(_, allowMissingColumns = true))

  private def readEntries(s: SparkSession, r: Path, keyCol: String,
      sel: Seq[Entry], all: Seq[Entry]): DataFrame =
    frameOf(s, relations(s, r, keyCol, sel, all))

  /** Write `df` as a fresh immutable partitioned segment of `table`
    * and return the manifest entries its leaf dirs become. The key is
    * hive-partitioned via a duplicate layout column and stays a data
    * column (object doc). */
  private def writePartitionedSegment(s: SparkSession, fs: FileSystem,
      root: Path, table: String, df: DataFrame, partCol: String,
      statsCols: Seq[String] = Nil,
      nKeys: Option[Int] = None): Seq[Entry] = {
    val layoutCol = partCol + "__p"
    val segRel = freshSegRel()
    val segPath = new Path(root, segRel)
    // the files carry df's schema; the layout column is the dir name
    val sid = schemaIdOf(df.schema)
    val schema = readSchemaOf(df.schema)
    // one writer task per touched partition dir, never more (empty
    // tasks are pure commit overhead on a small staged batch) and
    // never past the session's shuffle parallelism; an explicit count
    // also keeps AQE's advisory-size coalescing from serializing a
    // many-dir write behind one task (Writers.byKeys rationale). The
    // ops that already collected their touched keys pass the exact
    // count; create (which deliberately never key-collects) writes at
    // full session parallelism.
    val maxTasks = s.sessionState.conf.numShufflePartitions
    val writeTasks = nKeys.fold(maxTasks)(k =>
      math.min(math.max(k, 1), maxTasks))
    df.withColumn(layoutCol, col(partCol))
      .repartition(writeTasks, col(partCol))
      .write.mode("errorifexists").partitionBy(layoutCol)
      .option("compression", "zstd")
      .parquet(segPath.toString)
    fs.listStatus(segPath).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(layoutCol + "="))
      .map { st =>
        val name = st.getPath.getName
        val (files, _, stats) = harvestLeaf(s, fs, st.getPath, statsCols)
        Entry(table, name.stripPrefix(layoutCol + "="), s"$segRel/$name",
          sid, schema, files, stats)
      }
      .sortBy(_.part)
  }

  /** Write `df` as one whole append segment of `table`; one entry.
    * An EMPTY batch is detected from the WRITTEN files' parquet footers
    * (zero rows — no data file, or only a schema-only file — → segment
    * deleted, no entry) rather than a pre-write `isEmpty` probe or a
    * post-write count job: the probe re-evaluates the batch's whole
    * plan (for the streaming maintenance lanes that is the upsert
    * anti-join per micro-batch), while the footers are metadata read
    * once per file, without a Spark job, in the same pass that
    * harvests the entry's files and stats. */
  private def writeAppendSegment(s: SparkSession, fs: FileSystem,
      root: Path, table: String, df: DataFrame,
      statsCols: Seq[String] = Nil): Seq[Entry] = {
    val segRel = freshSegRel()
    val segPath = new Path(root, segRel)
    df.write.mode("errorifexists")
      .option("compression", "zstd")
      .parquet(segPath.toString)
    val (files, rows, stats) = harvestLeaf(s, fs, segPath, statsCols,
      countRows = true)
    if (rows > 0)
      Seq(Entry(table, "", segRel, schemaIdOf(df.schema),
        readSchemaOf(df.schema), files, stats))
    else { fs.delete(segPath, true); Seq.empty }
  }

  /** Initialize a multi-table manifest store at `root`: one atomic
    * version-1 commit covering every (def, initial data) pair.
    * Append-only tables (`partCol = ""`) may start empty — pass a
    * `df.filter(lit(false))` shaped frame, which appends nothing.
    * Fails loudly on an already-initialized root — re-creation is a
    * destructive intent this API refuses to guess at. */
  def createTables(s: SparkSession, root: String,
      tables: Seq[(TableDef, DataFrame)]): Long = {
    require(tables.nonEmpty, "createTables needs at least one table")
    require(tables.map(_._1.name).distinct.size == tables.size,
      "duplicate table names")
    val (fs, r) = fsOf(s, root)
    def refuse(): Nothing = throw new AlreadyInitializedException(
      s"manifest store at $root is already initialized — commit into " +
        "it, or point createTables() at a fresh root")
    if (currentVersion(fs, r).nonEmpty) refuse()
    killPoint("create-preflight")
    val token = acquireLease(fs, r)
    try {
      // re-check UNDER the lease: a racing first-writer that committed
      // v1 between the fast check above and our lease acquisition must
      // lose HERE, before any segment is staged — otherwise it would
      // fully stage and fail only at the v1 manifest rename, stranding
      // orphaned segment dirs until a vacuum
      if (currentVersion(fs, r).nonEmpty) refuse()
      val entries = tables.flatMap { case (td, df) =>
        if (td.partCol.isEmpty)
          writeAppendSegment(s, fs, r, td.name, df, td.statsCols)
        else {
          // the key-rendering contract holds from the FIRST segment:
          // a store created with keys hive escapes would strand every
          // later read (raw value never matches the escaped entry) and
          // every later upsert (the equality check there aborts) —
          // refuse at creation, where the fix is cheapest. The guard
          // is ZERO-cost ([[requirePartsVerbatim]] — no key collect):
          // create, unlike upsert, has no reason to scan the input a
          // second time just to enforce this
          val staged = writePartitionedSegment(s, fs, r, td.name, df,
            td.partCol, td.statsCols)
          requirePartsVerbatim(td.name, td.partCol, staged)
          staged
        }
      }
      killPoint("staged")
      writeManifest(fs, r, 1L,
        tables.map(t => t._1.name -> rawSpecOf(t._1)).toMap, entries)
      killPoint("committed")
      1L
    } finally releaseLease(fs, r, token)
  }

  /** Initialize a single-table store (sugar over [[createTables]] with
    * the default table). Returns the committed version (always 1). */
  def create(s: SparkSession, root: String, df: DataFrame,
      partCol: String): Long =
    createTables(s, root, Seq((TableDef(DefaultTable, partCol), df)))

  /** One ATOMIC commit across any number of tables. The `plan` closure
    * runs UNDER the writer lease — its reads (e.g. [[readTable]] for an
    * upsert-dedup guard) see a store no concurrent writer can move
    * before this commit lands. An empty plan (or one whose ops all
    * reduce to nothing: empty upsert batches, empty appends) commits
    * nothing and bumps no version.
    *
    * Returns the touched partition keys per upserted table (hive
    * rendering, sorted; append tables report no keys). */
  def commitTables(s: SparkSession, root: String)
      (plan: => Seq[TableOp]): Map[String, Seq[String]] =
    commitTables(s, root, Maintenance())(plan)

  /** [[commitTables]] with an in-commit [[Maintenance]] policy. */
  def commitTables(s: SparkSession, root: String,
      maintenance: Maintenance)
      (plan: => Seq[TableOp]): Map[String, Seq[String]] = {
    val (fs, r) = fsOf(s, root)
    val token = acquireLease(fs, r)
    try {
      val v = currentVersion(fs, r).getOrElse(
        throw new IllegalStateException(
          s"manifest store at $root is not initialized — create first"))
      val m = readManifest(fs, r, v)
      val ops = plan
      require(ops.map(_.table).distinct.size == ops.size,
        "one op per table and commit — compose the frames instead")
      ops.foreach(op => require(m.partCols.contains(op.table),
        s"store at $root has no table '${op.table}' " +
          s"(tables: ${m.partCols.keys.toSeq.sorted.mkString(",")})"))
      // evaluate every op's staging; track touched keys and new entries
      var newEntries = Seq.empty[Entry]
      var dropKeys = Map.empty[String, Set[String]] // table -> touched
      var dropDirs = Set.empty[String] // specific entries retired (CoW)
      var dropAllOf = Set.empty[String] // tables whose entries ALL retire
      var touched = Map.empty[String, Seq[String]]
      // shared staging for [[Upsert]] and [[Merge]]: Merge routes here
      // with `deleteWhen` set — tombstone rows retire their idCol's
      // live rows and are never written
      def stageUpsert(table: String, df: DataFrame,
          idCol: Option[String], deleteWhen: Option[Column],
          envelope: Seq[String] = Nil): Unit = {
          val raw = m.partCols(table)
          val pc = keyColOf(raw)
          require(pc.nonEmpty,
            s"table '$table' is append-only — use Append")
          val keys = df.select(pc).distinct()
            .collect().map(_.get(0).toString).toSeq.sorted
          if (keys.nonEmpty) {
            val keySet = keys.toSet
            // null-safe tombstone verdict (a NULL keeps the row an
            // upsert); tombstone-bearing keys may stage nothing
            val tomb = deleteWhen.map(dw => coalesce(dw, lit(false)))
            val tombKeys = tomb.fold(Set.empty[String])(t =>
              df.filter(t).select(pc).distinct()
                .collect().map(_.get(0).toString).toSet)
            // envelope columns ride the batch for deleteWhen/keys but
            // never stage ([[Merge]] doc)
            val arriving = tomb.fold(df)(t => df.filter(!t))
              .drop(envelope: _*)
            val liveE = m.entries.filter(e =>
              e.table == table && keySet.contains(e.part))
            val colNames = df.columns.filterNot(envelope.contains)
            val merged =
              if (liveE.isEmpty) arriving
              else {
                // fingerprint-grouped read: added columns null-fill,
                // widened types read widened ([[relations]])
                val live = readEntries(s, r, pc, liveE, liveE)
                // evolution ADDS columns and WIDENS types, never drops:
                // a batch missing a live column would silently lose it
                // for the touched partitions while the untouched keep
                // it — and a RENAME is exactly a drop plus an add, so
                // it is refused by the same check
                val dropped = live.columns.toSet -- colNames.toSet
                require(dropped.isEmpty,
                  s"arriving batch for '$table' is missing live " +
                    s"column(s) ${dropped.toSeq.sorted.mkString(",")} — " +
                    "schema evolution only ADDS columns or WIDENS " +
                    "types. A renamed column is a drop + an add and is " +
                    "refused the same way: write the new name alongside " +
                    "the old, or rewrite the table under the new schema")
                // shared columns must stay inside one widening chain
                // ([[widenOk]], deliberately SYMMETRIC here): a WIDER
                // batch is schema evolution (old rows read widened), a
                // NARROWER batch is a safe up-cast on write (unionByName
                // coerces it up to the live type, so the rewritten
                // partition keeps the live wider type — pinned by spec).
                // Any cross-chain change would be silently coerced by
                // the merge union (decimal→double drops precision,
                // numerics stringify) and is refused
                live.schema.fields.filter(f => colNames.contains(f.name))
                  .foreach { lf =>
                    val bt = df.schema(lf.name).dataType
                    require(widenOk(lf.dataType, bt),
                      s"arriving batch for '$table' changes column " +
                        s"'${lf.name}' from ${lf.dataType.simpleString} " +
                        s"to ${bt.simpleString} — not inside a sanctioned " +
                        "widening chain (byte→short→int→long, " +
                        "float→double). Rewrite the table under the new " +
                        "schema explicitly instead of upserting through " +
                        "it.")
                  }
                val kept0 = idCol.fold(live)(id =>
                  live.join(df.select(id), Seq(id), "left_anti"))
                // null-fill the batch's NEW columns on pre-evolution
                // live rows (parquet's merge semantic, applied eagerly
                // so the rewritten partition is schema-homogeneous)
                val aligned = colNames.map { name =>
                  if (kept0.columns.contains(name)) col(name)
                  else lit(null).cast(df.schema(name).dataType).as(name)
                }
                kept0.select(aligned.toSeq: _*)
                  .unionByName(arriving.select(colNames.map(col)
                    .toSeq: _*))
              }
            val staged = writePartitionedSegment(s, fs, r, table,
              merged, pc, statsColsOf(raw), nKeys = Some(keySet.size))
            requireKeysRendered(table, pc, keySet, staged,
              mayEmpty = tombKeys)
            newEntries ++= staged
            dropKeys += table -> keySet
            touched += table -> keys
          }
      }
      ops.foreach {
        case Upsert(table, df, idCol) =>
          stageUpsert(table, df, idCol, deleteWhen = None)
        case Merge(table, src, idCol, deleteWhen, envelope) =>
          stageUpsert(table, src, Some(idCol), deleteWhen, envelope)
        case Delete(table, cond) =>
          val raw = m.partCols(table)
          val pc = keyColOf(raw)
          val liveE = m.entries.filter(_.table == table)
          if (liveE.nonEmpty) {
            // resolve `cond` against the table's UNION schema (the empty
            // read of every fingerprint — metadata only, no scan) and
            // translate its pushable conjuncts; entries whose stats
            // prove disjointness carry over UNREAD
            val filters = pruneFilters(
              readEntries(s, r, pc, Nil, liveE), cond)
            val candidates = liveE.filter(e =>
              filters.forall(f => mayMatch(e.stats, f)))
            if (candidates.nonEmpty) {
              val live = readEntries(s, r, pc, candidates, candidates)
              // SQL DELETE semantics: remove rows where cond IS TRUE —
              // a NULL verdict keeps the row
              val keptRows = live.filter(!coalesce(cond, lit(false)))
              if (pc.nonEmpty) {
                val keySet = candidates.map(_.part).toSet
                val staged = writePartitionedSegment(s, fs, r, table,
                  keptRows, pc, statsColsOf(raw), nKeys = Some(keySet.size))
                // every touched key already round-tripped its hive
                // rendering when first committed (store invariant);
                // emptied partitions legitimately stage nothing
                requirePartsVerbatim(table, pc, staged)
                newEntries ++= staged
                dropKeys += table -> keySet
                touched += table -> keySet.toSeq.sorted
              } else {
                newEntries ++= writeAppendSegment(s, fs, r, table,
                  keptRows, statsColsOf(raw))
                dropDirs ++= candidates.map(_.dir)
              }
            }
          }
        case DeleteKeys(table, keys) =>
          val pc = keyColOf(m.partCols(table))
          require(pc.nonEmpty,
            s"table '$table' is append-only — DeleteKeys drops whole " +
              "partitions by key; use Delete for row predicates")
          val keySet = keys.toSet
          val present = m.entries.filter(e =>
            e.table == table && keySet.contains(e.part)).map(_.part)
            .toSet
          if (present.nonEmpty) {
            dropKeys += table -> present
            touched += table -> present.toSeq.sorted
          }
        case Replace(table, df) =>
          val raw = m.partCols(table)
          val pc = keyColOf(raw)
          require(pc.nonEmpty,
            s"table '$table' is append-only — use Append")
          val keys = df.select(pc).distinct()
            .collect().map(_.get(0).toString).toSeq.sorted
          if (keys.nonEmpty) {
            // no live read at all: the touched keys' old entries simply
            // don't carry over — replacement is pure metadata
            val staged = writePartitionedSegment(s, fs, r, table,
              df, pc, statsColsOf(raw), nKeys = Some(keys.size))
            requireKeysRendered(table, pc, keys.toSet, staged)
            newEntries ++= staged
            dropKeys += table -> keys.toSet
            touched += table -> keys
          }
        case Append(table, df) =>
          require(keyColOf(m.partCols(table)).isEmpty,
            s"table '$table' is partitioned — use Upsert")
          newEntries ++= writeAppendSegment(s, fs, r, table, df,
            statsColsOf(m.partCols(table)))
        case CompactAppend(table) =>
          require(keyColOf(m.partCols(table)).isEmpty,
            s"table '$table' is partitioned — its upserts already " +
              "rewrite whole partitions; CompactAppend is for " +
              "append-only tables")
          val liveE = m.entries.filter(_.table == table)
          if (liveE.size > 1) {
            // fingerprint-grouped read ([[relations]]); the compacted
            // segment BAKES the union/widened schema (null-filled old
            // rows), retiring the per-read evolution cost
            val live = readEntries(s, r, "", liveE, liveE)
            newEntries ++= writeAppendSegment(s, fs, r, table, live,
              statsColsOf(m.partCols(table)))
            dropAllOf += table
          }
      }
      // commit iff something stages OR something live actually retires
      // (a Delete/DeleteKeys matching nothing, like an empty upsert
      // batch, bumps no version — re-delivered deletes are free)
      def effectiveDrop: Boolean = m.entries.exists(e =>
        dropAllOf.contains(e.table) ||
          dropKeys.get(e.table).exists(_.contains(e.part)) ||
          dropDirs.contains(e.dir))
      if (newEntries.isEmpty && !effectiveDrop) return Map.empty
      // maintenance piggybacks on the real commit: fold an automatic
      // CompactAppend of any over-cap append-only table's LIVE
      // segments into this same atomic publish ([[Maintenance]] doc)
      maintenance.maxSegmentsPerTable.foreach { maxSeg =>
        m.partCols.keys.toSeq.sorted
          .filter(t => keyColOf(m.partCols(t)).isEmpty)
          .filterNot(dropAllOf.contains).foreach { t =>
            val live = m.entries.filter(_.table == t)
            val prospective = live.size + newEntries.count(_.table == t)
            if (prospective > maxSeg && live.size > 1) {
              newEntries ++= writeAppendSegment(s, fs, r, t,
                readEntries(s, r, "", live, live),
                statsColsOf(m.partCols(t)))
              dropAllOf += t
            }
          }
      }
      killPoint("staged")
      val kept = m.entries.filterNot(e =>
        dropAllOf.contains(e.table) ||
          dropKeys.get(e.table).exists(_.contains(e.part)) ||
          dropDirs.contains(e.dir))
      writeManifest(fs, r, v + 1, m.partCols, kept ++ newEntries)
      killPoint("committed")
      // retention under the SAME lease window (no second acquisition)
      maintenance.vacuumKeepLast.foreach(k => vacuumLocked(fs, r, k))
      touched
    } finally releaseLease(fs, r, token)
  }

  /** Single-table upsert (sugar over [[commitTables]] with the default
    * table). Returns the touched partition keys. */
  def upsertPartitions(s: SparkSession, root: String, arriving: DataFrame,
      partCol: String, idCol: Option[String] = None): Seq[String] = {
    val (fs, r) = fsOf(s, root)
    currentVersion(fs, r).foreach { v =>
      val stored = keyColOf(readManifest(fs, r, v).partCols.getOrElse(
        DefaultTable,
        throw new IllegalStateException(
          s"store at $root is multi-table — use commitTables")))
      require(stored == partCol,
        s"store at $root is keyed by '$stored', not '$partCol'")
    }
    commitTables(s, root)(Seq(Upsert(DefaultTable, arriving, idCol)))
      .getOrElse(DefaultTable, Seq.empty)
  }

  /** Single-table partition replacement (sugar over [[commitTables]]
    * with the default table; see [[Replace]] — the idempotent
    * day-overwrite semantic). Returns the replaced partition keys. */
  def replacePartitions(s: SparkSession, root: String, df: DataFrame,
      partCol: String): Seq[String] =
    commitTables(s, root)(Seq(Replace(DefaultTable, df)))
      .getOrElse(DefaultTable, Seq.empty)

  /** Row-level DELETE WHERE (sugar over [[commitTables]] with a
    * [[Delete]] op — see its doc for the stats-pruned copy-on-write
    * cost model). Returns the rewritten partition keys (empty for
    * append-only tables, whose retired segments have no keys). */
  def deleteWhere(s: SparkSession, root: String, cond: Column,
      table: String = DefaultTable): Seq[String] =
    commitTables(s, root)(Seq(Delete(table, cond)))
      .getOrElse(table, Seq.empty)

  /** Whole-partition delete by key — PURE METADATA ([[DeleteKeys]]).
    * Returns the keys that actually had live entries (re-deleting a
    * gone key is a free no-op). */
  def deletePartitions(s: SparkSession, root: String,
      keys: Seq[String], table: String = DefaultTable): Seq[String] =
    commitTables(s, root)(Seq(DeleteKeys(table, keys)))
      .getOrElse(table, Seq.empty)

  /** MERGE a CDC batch by row identity (sugar over [[commitTables]]
    * with a [[Merge]] op): update matched, insert unmatched, and —
    * when `deleteWhen` marks a source row a tombstone — delete its
    * `idCol`'s live rows. Returns the touched partition keys. */
  def mergeInto(s: SparkSession, root: String, source: DataFrame,
      idCol: String, deleteWhen: Option[Column] = None,
      table: String = DefaultTable,
      envelope: Seq[String] = Nil): Seq[String] =
    commitTables(s, root)(Seq(Merge(table, source, idCol, deleteWhen,
      envelope))).getOrElse(table, Seq.empty)

  /** Resolve `version` (newest when None) against ONE listing of the
    * manifest dir, require it retained, and read that manifest. */
  private def manifestAt(fs: FileSystem, r: Path, root: String,
      version: Option[Long]): (Long, Manifest) = {
    val vs = listVersions(fs, r)
    val v = version.getOrElse(vs.lastOption.getOrElse(
      throw new IllegalStateException(
        s"manifest store at $root has no committed version")))
    require(vs.contains(v),
      s"version $v of $root is not retained (vacuumed, or never " +
        s"committed) — retained: ${vs.mkString(",")}")
    (v, readManifest(fs, r, v))
  }

  private def requireTable(m: Manifest, root: String,
      table: String): Unit =
    require(m.partCols.contains(table),
      s"store at $root has no table '$table' " +
        s"(tables: ${m.partCols.keys.toSeq.sorted.mkString(",")})")

  /** The relations a snapshot read of one table scans — [[readTable]]'s
    * body, shared with the SQL facade ([[graft.sources.ManifestSource]])
    * so both resolve, select and build their scans the same way. */
  private[graft] def tableRelations(s: SparkSession, root: String,
      table: String, parts: Option[Seq[String]], version: Option[Long],
      skip: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : Seq[HadoopFsRelation] = {
    val (fs, r) = fsOf(s, root)
    val (v, m) = manifestAt(fs, r, root, version)
    requireTable(m, root, table)
    val all = m.entries.filter(_.table == table)
    require(all.nonEmpty, s"table '$table' v$v at $root lists no data")
    // `skip` intersects each data-source filter with the entries'
    // column stats ([[ColStat]] / [[mayMatch]]) — segments provably
    // outside every filter's range never reach the scan. PURELY an I/O
    // pruning: the caller still applies its predicate to the returned
    // frame — stats bound what a segment MAY hold, they do not filter
    // rows.
    val sel0 = parts.fold(all)(ps => all.filter(e => ps.contains(e.part)))
    val sel =
      if (skip.isEmpty) sel0
      else sel0.filter(e => skip.forall(f => mayMatch(e.stats, f)))
    relations(s, r, keyColOf(m.partCols(table)), sel, all)
  }

  /** Snapshot read of one table. `parts` prunes at the MANIFEST level —
    * only the named partitions' recorded files reach the scan (object
    * doc); `version` time-travels to any retained manifest; `skip`
    * drops entries whose column stats prove no row can match. A
    * selection matching nothing returns an empty frame with the
    * table's recorded (union) schema; a table with no entries at all
    * (an append-only table with no segments yet) fails loudly.
    *
    * Resolving the frame reads the manifest and nothing else: the scan
    * is built from the recorded files and schemas ([[relations]]), so
    * no Spark job runs until an action does, and the file list is
    * fixed here — a later commit or vacuum cannot change what this
    * frame reads.
    *
    * Schema evolution — ADDED columns and WIDENED types — is handled
    * automatically: every entry carries its segment's schema
    * fingerprint, and [[relations]] scans one relation per fingerprint
    * exactly when the selected entries disagree (union schema,
    * pre-evolution rows read NULL, int→long / float→double read
    * widened). Homogeneous tables pay zero evolution cost, and no
    * caller has to know whether the table ever evolved; an evolved
    * table pays one scan node per schema version it still carries —
    * which is exactly what [[CompactAppend]] reduces, baking the merged
    * schema into its one rewritten segment. */
  def readTable(s: SparkSession, root: String, table: String,
      parts: Option[Seq[String]] = None,
      version: Option[Long] = None,
      skip: Seq[org.apache.spark.sql.sources.Filter] = Nil): DataFrame =
    frameOf(s, tableRelations(s, root, table, parts, version, skip))

  /** Change feed — incremental (CDC) read over the store's version
    * history, the shape Delta calls CDF: the NET row changes of
    * `table` between two retained versions, as the table's columns
    * plus `_change_type` ("insert" / "delete") and `_commit_version`
    * (the version that introduced the change). A downstream consumer
    * can maintain an incremental mart from this without ever diffing
    * full snapshots.
    *
    * Semantics, stated precisely: per consecutive version step
    * v → v+1, the step's ADDED entries (segments in v+1 but not v)
    * and REMOVED entries (superseded) are read, and the feed emits
    * `rows(added) EXCEPT ALL rows(removed)` as inserts and the
    * converse as deletes — a row carried UNCHANGED through a
    * partition rewrite cancels out and is NOT a change. The feed
    * between any two versions therefore row-for-row equals the
    * multiset diff of the two snapshots, while costing only the
    * TOUCHED partitions' reads (at 100 TB: a day's upsert feeds a
    * day's rows, never a table scan). Corollaries: a [[CompactAppend]]
    * commit — pure metadata retirement — feeds NOTHING (its added and
    * removed segments hold identical rows, at the price of reading
    * both, which is also the one case where feed cost is the full
    * table: compaction rewrote the full table); an idempotent-replay
    * [[Replace]] with identical content feeds nothing.
    *
    * Schema evolution inside the window is handled the usual way
    * ([[relations]]): pre-evolution rows read null-filled/widened,
    * and the feed's columns are the union across steps. Requires every
    * version in [from, to] retained — vacuum against a horizon older
    * than the slowest consumer, the same contract as any snapshot
    * read. */
  def changeFeed(s: SparkSession, root: String, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changeFeed needs fromVersion < toVersion " +
        s"(got $fromVersion, $toVersion)")
    val (fs, r) = fsOf(s, root)
    val vs = listVersions(fs, r)
    (fromVersion to toVersion).foreach(v => require(vs.contains(v),
      s"version $v of $root is not retained — the feed window needs " +
        s"every version in [$fromVersion, $toVersion] " +
        s"(retained: ${vs.mkString(",")})"))
    val manifests = (fromVersion to toVersion)
      .map(v => v -> readManifest(fs, r, v)).toMap
    manifests.values.foreach(m => require(m.partCols.contains(table),
      s"store at $root has no table '$table' throughout the window"))
    val pc = keyColOf(manifests(toVersion).partCols(table))
    val steps = (fromVersion until toVersion).flatMap { v =>
      val ea = manifests(v).entries.filter(_.table == table)
      val eb = manifests(v + 1).entries.filter(_.table == table)
      val aDirs = ea.map(_.dir).toSet
      val bDirs = eb.map(_.dir).toSet
      val added = eb.filterNot(e => aDirs.contains(e.dir))
      val removed = ea.filterNot(e => bDirs.contains(e.dir))
      if (added.isEmpty && removed.isEmpty) None
      else {
        // an empty side reads as the step's union schema with no rows
        val newRows = readEntries(s, r, pc, added, added ++ removed)
        val oldRows = readEntries(s, r, pc, removed, added ++ removed)
        // exceptAll needs identical schemas; align both sides to the
        // union schema with unionByName's own coerced types (added
        // columns null-fill, widened types widen — the relations rules
        // applied across the commit boundary)
        val union = newRows.unionByName(oldRows,
          allowMissingColumns = true).schema
        def align(df: DataFrame): DataFrame =
          df.select(union.fields.toSeq.map { f =>
            (if (df.columns.contains(f.name)) col(f.name)
            else lit(null)).cast(f.dataType).as(f.name)
          }: _*)
        val nA = align(newRows)
        val oA = align(oldRows)
        Some(nA.exceptAll(oA).withColumn("_change_type", lit("insert"))
          .unionByName(
            oA.exceptAll(nA).withColumn("_change_type", lit("delete")))
          .withColumn("_commit_version", lit(v + 1)))
      }
    }
    steps.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        readEntries(s, r, pc, Nil,
          manifests(toVersion).entries.filter(_.table == table))
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_version", lit(0L))
      }
  }

  /** The manifest entries of one table at a version (newest when
    * omitted) — bounded driver-side metadata, for observability and
    * gates (segment counts, pruning audits). */
  def tableEntries(s: SparkSession, root: String, table: String,
      version: Option[Long] = None): Seq[Entry] =
    tableLayout(s, root, table, version)._3

  /** Resolve `version` (newest when None) and return (resolved
    * version, key column — "" for append-only, the table's entries at
    * that version). Shares [[readTable]]'s validation so every caller
    * fails identically on unknown tables and unretained versions. */
  private[graft] def tableLayout(s: SparkSession, root: String,
      table: String, version: Option[Long])
      : (Long, String, Seq[Entry]) = {
    val (fs, r) = fsOf(s, root)
    val (v, m) = manifestAt(fs, r, root, version)
    requireTable(m, root, table)
    (v, keyColOf(m.partCols(table)), m.entries.filter(_.table == table))
  }

  /** Single-table snapshot read (sugar over [[readTable]]). */
  def read(s: SparkSession, root: String,
      parts: Option[Seq[String]] = None,
      version: Option[Long] = None): DataFrame =
    readTable(s, root, DefaultTable, parts, version)

  /** Retire history: keep the newest `keepLast` manifests, delete the
    * older ones, then delete every segment dir no kept manifest
    * references (which also reaps crashed writers' orphan segments —
    * safe because the writer lease is held, so no live writer can be
    * mid-stage). Both leaf-level dirs (partitioned segments that are
    * only partially superseded) and whole segments are reaped; empty
    * parents go with their last child. Returns the deleted paths, for
    * the caller's audit log.
    *
    * Retention is the reader contract: a scan of version V stays valid
    * until vacuum drops V — run vacuum only against a horizon older
    * than the longest-running read, as with any snapshot store. What a
    * reader that OUTLIVES its horizon observes is pinned mechanically
    * (spec): a scan holding version V whose exclusive segments are
    * reaped mid-scan FAILS LOUDLY with a missing-file error — never
    * silent partial rows — because the scan's file list was fixed at
    * resolution time and Spark refuses missing files by default. Keep
    * it that way: do NOT enable `spark.sql.files.ignoreMissingFiles`
    * on manifest roots — it would trade the loud failure for silent
    * row loss. A V-scan whose segments all remain referenced by kept
    * manifests completes normally. */
  def vacuum(s: SparkSession, root: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "vacuum must keep at least the newest version")
    val (fs, r) = fsOf(s, root)
    val token = acquireLease(fs, r)
    try vacuumLocked(fs, r, keepLast)
    finally releaseLease(fs, r, token)
  }

  /** [[vacuum]]'s body, for callers that ALREADY hold the writer lease
    * (the [[Maintenance]] policy folds retention into the same lease
    * window as the commit it rides on). */
  private def vacuumLocked(fs: FileSystem, r: Path,
      keepLast: Int): Seq[String] = {
    {
      val vs = listVersions(fs, r)
      val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepLast))
      val referenced: Set[String] =
        keep.flatMap(v => readManifest(fs, r, v).entries.map(_.dir)).toSet
      val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
      drop.foreach { v =>
        val p = manifestPath(r, v)
        if (fs.delete(p, false)) deleted += p.toString
      }
      // reap crashed writers' manifest temp litter (a crash between the
      // tmp create and the publish rename strands a dot-prefixed file
      // forever otherwise) — safe because the writer lease is held, so
      // no live writer can be mid-publish
      val mdir = manifestDir(r)
      if (fs.exists(mdir)) fs.listStatus(mdir)
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && n.startsWith(".") && n.contains(".mf.tmp-")
        }
        .foreach { st =>
          if (fs.delete(st.getPath, false)) deleted += st.getPath.toString
        }
      val segRoot = new Path(r, SegDirName)
      val segs =
        try { if (fs.exists(segRoot)) fs.listStatus(segRoot) else Array.empty[org.apache.hadoop.fs.FileStatus] }
        catch { case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus] }
      segs.filter(_.isDirectory).foreach { seg =>
        val segRel = s"$SegDirName/${seg.getPath.getName}"
        if (referenced.contains(segRel)) () // whole-segment reference
        else {
          fs.listStatus(seg.getPath).foreach { leaf =>
            val rel = s"$segRel/${leaf.getPath.getName}"
            if (!referenced.contains(rel) && fs.delete(leaf.getPath, true))
              deleted += leaf.getPath.toString
          }
          // reap a now-empty segment dir (best-effort)
          try {
            if (fs.listStatus(seg.getPath).isEmpty)
              fs.delete(seg.getPath, false)
          } catch { case _: java.io.IOException => () }
        }
      }
      deleted.toSeq
    }
  }
}
