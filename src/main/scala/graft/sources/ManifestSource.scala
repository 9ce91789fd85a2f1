package graft.sources

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession,
  SQLContext}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider, DataSourceRegister, RelationProvider,
  TableScan}
import org.apache.spark.sql.types.StructType

import graft.store.ManifestStore

/** `spark.read.format("graft-manifest")` / `df.write.format(
  * "graft-manifest")` — the SQL-facing facade over
  * [[graft.store.ManifestStore]], so `spark.sql` users get the store's
  * snapshot reads, manifest-level pruning, time travel, AND the simple
  * commit shapes without touching the Scala API:
  *
  * {{{
  *   spark.read.format("graft-manifest")
  *     .option("table", "postings")     // default "t" (single-table)
  *     .option("version", 3)            // default: newest
  *     .option("parts", "1,2")          // explicit manifest pruning
  *     .load(rootPath)
  *     .createOrReplaceTempView("postings_v3")
  *   // WHERE-driven pruning needs no option at all:
  *   spark.sql("SELECT * FROM postings_v3 WHERE band = 1")
  *
  *   df.write.format("graft-manifest")
  *     .option("key", "day")            // fresh root: creates the store
  *     .save(rootPath)
  *   df2.write.format("graft-manifest").mode("append").save(rootPath)
  *   fix.write.format("graft-manifest").mode("overwrite").save(rootPath)
  * }}}
  *
  * READ path. Deliberately DataSource V1, returning the SAME scan the
  * Scala `readTable` builds: [[graft.store.ManifestStore]] resolves the
  * version, selects the entries and builds a `HadoopFsRelation` per
  * schema fingerprint over a [[ManifestFileIndex]] of the recorded
  * files and schema — no listing, no schema probe, no Spark job. The
  * plan is the native parquet `FileScan` (pushdown, column pruning,
  * whole-stage codegen), and the table's partition KEY is a real
  * partition column, so a plain SQL `WHERE` on it prunes at the
  * MANIFEST level (no `parts` option needed), and dynamic partition
  * pruning composes on joins. The facade and the Scala read return
  * the same columns in the same order. Version resolution and option
  * pruning happen ONCE, at relation creation — the snapshot a view
  * captures stays stable under concurrent commits. A pruned-to-nothing
  * selection is the same file relation over no files, with the
  * recorded schema. Only a schema-fingerprint-heterogeneous selection
  * cannot be one file relation: it is a [[TableScan]] over the union
  * of its per-fingerprint relations — correct rows, row-based scan,
  * retired by the same CompactAppend / full-partition rewrite that
  * retires the evolution debt itself.
  *
  * WRITE path. `df.write.format("graft-manifest")` routes through
  * [[graft.store.ManifestStore.commitTables]] — lease, staging,
  * atomic manifest publish, every write-time guard:
  *
  *  - a FRESH root is CREATED under any mode (`option("key", c)` keys
  *    the table, default append-only; `table` as in reads);
  *  - `mode("append")` = add rows: keyed tables [[ManifestStore.Upsert]]
  *    (`option("mergeId", idCol)` replaces matching ids instead of
  *    keeping them), append-only tables [[ManifestStore.Append]];
  *  - `mode("overwrite")` = [[ManifestStore.Replace]]: dynamic
  *    partition overwrite — ONLY the batch's partitions are replaced
  *    (Spark's `partitionOverwriteMode=dynamic` semantic, the store's
  *    U1 discipline), refused for append-only tables (no partitions);
  *  - `mode("errorifexists")` on an initialized root is loud;
  *    `mode("ignore")` is a no-op. One table per write call.
  *
  * Raw SQL `INSERT INTO` a facade VIEW is REFUSED loudly (spec-pinned)
  * instead of supported: Spark would resolve it to
  * `InsertIntoHadoopFsRelationCommand` and write files straight into
  * the store's immutable segment dirs — rows visible to readers but
  * never committed, vacuumed, or guarded. Every facade relation
  * therefore carries a [[ManifestReadOnlyParquetFormat]] whose
  * `prepareWrite` throws before any file lands; the provider's own
  * write path above is the SQL-side door. Keys cannot contain commas
  * (the `parts` delimiter) — the store refuses them at write time, so
  * the option split here is always safe. */
class ManifestSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest needs the store root: .load(<root>) / " +
          ".save(<root>) or option(\"path\", <root>)"))

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val root = rootOf(parameters)
    val table = parameters.getOrElse("table", "t")
    val version = parameters.get("version").map(_.toLong)
    val parts = parameters.get("parts")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    ManifestStore.tableRelations(spark, root, table, parts, version) match {
      case Seq(one) => one
      // schema-evolved selection: the union, behind a TableScan that
      // keeps the no-raw-inserts invariant
      case rels => ManifestFrameRelation(ManifestStore.frameOf(spark, rels))
    }
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val root = rootOf(parameters)
    val table = parameters.getOrElse("table", "t")
    val keyOpt = parameters.get("key")
    val mergeId = parameters.get("mergeId")
    // CDC merge surface: `deleteWhen` is a SQL boolean over the batch's
    // columns marking tombstone rows (requires `mergeId` — tombstones
    // apply by row identity); `envelope` names batch-only columns
    // (the `_op` flag) that ride for deleteWhen but never stage
    val deleteWhen = parameters.get("deleteWhen")
    val envelope = parameters.get("envelope")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

    def modeDispatch(): Unit = mode match {
      case SaveMode.Ignore => ()
      case SaveMode.ErrorIfExists =>
        throw new IllegalStateException(
          s"manifest store at $root is already initialized — write with " +
            "mode(\"append\") / mode(\"overwrite\"), or point the write " +
            "at a fresh root")
      case m =>
        // the whole guard-read + op construction runs INSIDE the
        // planning closure, i.e. under the writer lease — the key-spec
        // check and the live column order cannot be moved by a
        // concurrent writer between read and stage
        ManifestStore.commitTables(spark, root) {
          val (_, keyCol, _) =
            ManifestStore.tableLayout(spark, root, table, None)
          keyOpt.filter(_ != keyCol).foreach(k =>
            throw new IllegalArgumentException(
              s"table '$table' at $root is keyed by '$keyCol', not '$k'"))
          // align column order to the live table so a same-schema batch
          // stages with the live fingerprint (catalogString is
          // order-sensitive); genuinely new (evolution) columns append
          val liveOrder = ManifestStore.readTable(spark, root, table)
            .columns
          val ordered =
            liveOrder.filter(data.columns.contains) ++
              data.columns.filterNot(liveOrder.contains)
          val aligned = data.select(ordered.map(data.col).toSeq: _*)
          val op =
            if (keyCol.isEmpty) {
              if (m == SaveMode.Overwrite)
                throw new IllegalArgumentException(
                  s"table '$table' at $root is append-only — overwrite " +
                    "has no partitions to replace. Append, or rebuild " +
                    "under a fresh root (CompactAppend retires segment " +
                    "debt).")
              ManifestStore.Append(table, aligned)
            } else if (m == SaveMode.Append) deleteWhen match {
              case Some(dw) =>
                val id = mergeId.getOrElse(
                  throw new IllegalArgumentException(
                    "deleteWhen needs mergeId — tombstones apply by " +
                      "row identity"))
                ManifestStore.Merge(table, aligned, id,
                  Some(org.apache.spark.sql.functions.expr(dw)),
                  envelope = envelope)
              case None => ManifestStore.Upsert(table, aligned, mergeId)
            } else {
              deleteWhen.foreach(_ =>
                throw new IllegalArgumentException(
                  "deleteWhen composes with mode(\"append\") only — " +
                    "overwrite replaces whole partitions, tombstones " +
                    "have nothing to retire"))
              ManifestStore.Replace(table, aligned)
            }
          Seq(op)
        }
    }
    if (ManifestStore.currentVersion(spark, root).isEmpty) {
      // fresh root: CREATE under any mode (there is nothing to error
      // on, overwrite, or ignore yet). A RACING first writer that
      // commits v1 between this check and createTables' under-lease
      // re-check surfaces as AlreadyInitializedException BEFORE any
      // segment is staged (no orphaned dirs) — route that loser
      // through the same mode dispatch an initialized root gets, so
      // two concurrent first appends land as create + upsert instead
      // of create + stranded error
      try ManifestStore.createTables(spark, root, Seq(
        (ManifestStore.TableDef(table, keyOpt.getOrElse("")), data)))
      catch {
        case _: ManifestStore.AlreadyInitializedException =>
          modeDispatch()
      }
    } else modeDispatch()
    createRelation(ctx,
      parameters - "key" - "mergeId" - "version" -
        "deleteWhen" - "envelope")
  }
}

/** The relation for a schema-fingerprint-heterogeneous selection, which
  * cannot be one file relation: a plain [[TableScan]] over the union of
  * the store's per-fingerprint relations. Not an `InsertableRelation`,
  * so raw SQL INSERT stays refused on this path too. */
private[graft] final case class ManifestFrameRelation(df: DataFrame)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = df.sparkSession.sqlContext
  override def schema: StructType = df.schema
  override def buildScan(): RDD[Row] = df.rdd
}

/** Parquet in every read-path respect, but `prepareWrite` — the first
  * irreversible step of `InsertIntoHadoopFsRelationCommand` — throws:
  * a raw SQL `INSERT INTO` a facade view would otherwise write files
  * straight into the store's immutable segment dirs, visible to every
  * reader yet never committed, guarded, or vacuum-tracked. The loud
  * refusal routes writers to the provider's own commit-protocol write
  * path (or the Scala API). */
private[graft] final class ManifestReadOnlyParquetFormat
    extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException(
      "graft-manifest views are read-only to raw SQL INSERT — a " +
        "manifest commit needs the writer lease and an atomic publish. " +
        "Write with df.write.format(\"graft-manifest\")" +
        ".mode(\"append\"|\"overwrite\").save(<root>) or the " +
        "ManifestStore Scala API.")
}
