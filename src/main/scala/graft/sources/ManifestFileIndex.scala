package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  PartitionDirectory}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.ManifestStore
import graft.store.ManifestStore.Entry

/** The manifest store's answer to Spark's file listing — a [[FileIndex]]
  * whose "directory listing" IS the manifest (the Delta/Iceberg
  * architecture, library-sized). [[ManifestStore]]'s one relation
  * builder hands this to a real `HadoopFsRelation` for every read — the
  * Scala API and the SQL facade alike — so the plan is the native
  * parquet `FileScan` (whole-stage codegen, predicate pushdown, column
  * pruning) while the file list never touches the filesystem:
  *
  *  - the files are the ones each entry's manifest line RECORDS, with
  *    their sizes: no list call at planning or at scan time, and a
  *    file dropped into a committed leaf dir without a commit is never
  *    read;
  *  - the table's partition KEY, when its type parses back exactly
  *    ([[ManifestFileIndex.supportedKeyType]]), is declared as the
  *    partition column (`key`), so `FileSourceStrategy` routes every
  *    key predicate of a plain `WHERE` into `listFiles`'
  *    `partitionFilters` — MANIFEST-level pruning driven by SQL, no
  *    `parts` option needed. Dynamic partition pruning composes on
  *    top for free (Spark applies runtime filters to the
  *    [[PartitionDirectory]] values this index returns). The key stays
  *    in its schema position (`HadoopFsRelation` overlays the partition
  *    column onto the same-named data column), and the scan never reads
  *    the key's bytes from the files — the manifest supplies the value;
  *  - `version`/`parts` compose: the entry set this index is built over
  *    is already time-travel-resolved and option-pruned.
  *
  * Beyond key pruning, `listFiles` intersects its DATA filters with
  * the manifest's per-segment column stats
  * ([[graft.store.ManifestStore.ColStat]]): segments provably outside
  * a selective non-key predicate's range are skipped — Delta-style
  * file skipping, driven entirely by manifest metadata. `sizeInBytes`
  * is the exact sum of the recorded file sizes.
  *
  * Two indexes over the same (root, key, entries) are EQUAL, as two
  * `InMemoryFileIndex`es over the same files are: two reads of one
  * version then canonicalize to the same plan, so they share cached
  * data and reused exchanges.
  *
  * Key-domain contract: partition keys render verbatim
  * ([[graft.store.ManifestStore]]'s write-time guards), so parsing the
  * hive rendering back to the key type is exact for the supported key
  * types.
  */
private[graft] final class ManifestFileIndex(
    private val storeRoot: Path,
    private val key: Option[StructField], // None: no partition column
    private val entries: Seq[Entry]) extends FileIndex {

  /** part → its entries (one per manifest contract for keyed tables,
    * every append segment under part "" for append-only ones), sorted
    * for deterministic listings. */
  private val byPart: Seq[(String, Seq[Entry])] =
    entries.groupBy(_.part).view.mapValues(_.sortBy(_.dir))
      .toSeq.sortBy(_._1)

  /** Last `listFiles` entry selection — an observability seam for the
    * pruning gates/specs (never read by the scan itself). */
  @volatile private var lastSelected: Option[Seq[Entry]] = None

  /** The leaf dirs of the last selection's entries, one per surviving
    * segment: unlike [[lastSelectedParts]], this shows a stats skip
    * among an append-only table's segments, which all sit under
    * part "". */
  private[graft] def lastSelectedDirs: Option[Seq[String]] =
    lastSelected.map(_.map(_.dir))

  /** The partitions of the last selection, in listing order. */
  private[graft] def lastSelectedParts: Option[Seq[String]] =
    lastSelected.map(_.map(_.part).distinct)

  override val partitionSchema: StructType = StructType(key.toSeq)

  /** DELIBERATELY two paths. Spark's `DataSourceAnalysis` refuses
    * `INSERT INTO`/`INSERT OVERWRITE` on any multi-path relation AT
    * ANALYSIS TIME (`UNSUPPORTED_INSERT.MULTI_PATH`) — which matters
    * because `InsertIntoHadoopFsRelationCommand` DELETES the output
    * path for a static overwrite BEFORE its first write step: with a
    * single root, `INSERT OVERWRITE facade_view` would wipe the store
    * root before [[ManifestReadOnlyParquetFormat]]'s `prepareWrite`
    * refusal could fire. Both paths are real store directories;
    * nothing on the read path consumes `rootPaths` beyond explain
    * metadata. */
  override def rootPaths: Seq[Path] =
    Seq(storeRoot, new Path(storeRoot, ManifestStore.ManifestDirName))

  /** The entry's recorded files as statuses — no file system call. */
  private def filesOf(e: Entry): Seq[FileStatus] = {
    val dir = new Path(storeRoot, e.dir)
    e.files.map(f =>
      new FileStatus(f.size, false, 0, 0L, 0L, new Path(dir, f.name)))
  }

  private def valuesOf(part: String): InternalRow =
    key.fold(InternalRow.empty)(k =>
      InternalRow(ManifestFileIndex.parseKey(part, k.dataType)))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keyPruned = key match {
      case Some(k) if partitionFilters.nonEmpty =>
        // bind the key attribute to slot 0 of a one-column row and
        // evaluate the conjunction against each part's parsed value —
        // the standard PartitioningAwareFileIndex pruning shape
        val bound = partitionFilters.reduce(And).transform {
          case _: AttributeReference =>
            BoundReference(0, k.dataType, k.nullable)
        }
        val pred = Predicate.create(bound)
        pred.initialize(0)
        byPart.filter { case (p, _) => pred.eval(valuesOf(p)) }
      case _ => byPart
    }
    // data filters intersect the entries' column stats (the manifest's
    // per-segment min/max): a segment provably outside every filter's
    // range is dropped here — the Delta-style file skipping, I/O-only
    // (Spark still applies the filters to the rows the surviving files
    // produce)
    val utcSession = SQLConf.get.sessionLocalTimeZone == "UTC"
    val sourceFilters = dataFilters.flatMap(
      ManifestStore.toSourceFilter(_, utcSession))
    val selected = keyPruned.flatMap { case (p, es) =>
      val kept =
        if (sourceFilters.isEmpty) es
        else es.filter(e =>
          sourceFilters.forall(f => ManifestStore.mayMatch(e.stats, f)))
      if (kept.isEmpty) None else Some((p, kept))
    }
    lastSelected = Some(selected.flatMap(_._2))
    selected.map { case (p, es) =>
      PartitionDirectory(valuesOf(p), es.flatMap(filesOf).toArray)
    }
  }

  override def inputFiles: Array[String] =
    entries.flatMap(e => filesOf(e).map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = entries.map(_.bytes).sum

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex =>
      storeRoot == o.storeRoot && key == o.key && entries == o.entries
    case _ => false
  }

  override lazy val hashCode: Int = (storeRoot, key, entries).##
}

private[graft] object ManifestFileIndex {

  /** Key types whose hive rendering parses back EXACTLY under the
    * store's verbatim-rendering guards. A key of any other type
    * (decimal, float formatting, timestamp — which the guards refuse
    * anyway for its colons) is read from the files as a data column. */
  def supportedKeyType(t: DataType): Boolean = t match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
        DateType => true
    case _ => false
  }

  private[sources] def parseKey(part: String, t: DataType): Any = t match {
    case StringType => UTF8String.fromString(part)
    case IntegerType => part.toInt
    case LongType => part.toLong
    case ShortType => part.toShort
    case ByteType => part.toByte
    case DateType => java.time.LocalDate.parse(part).toEpochDay.toInt
    case other => throw new IllegalStateException(
      s"unsupported manifest key type $other — guarded by supportedKeyType")
  }
}
