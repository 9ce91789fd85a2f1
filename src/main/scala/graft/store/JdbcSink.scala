package graft.store

import java.sql.Connection

import org.apache.spark.sql.DataFrame

/** JDBC warehouse sink (SURVEY.md §2.1 S7/S8 + §2.6 U1): the reference
  * loads each batch into Postgres with idempotent DDL and a
  * delete-then-insert of the batch day inside one transaction
  * (`weather_hourly_pipeline.py:92-112`).
  *
  * `DataFrameWriter.jdbc` cannot scope a delete, so the day-overwrite
  * variant runs the transaction per partition over the JDBC wire:
  * CREATE TABLE IF NOT EXISTS (U2) once, then DELETE day + batched INSERT
  * (S8's executemany == addBatch/executeBatch) and COMMIT. The primary
  * warehouse in this engine is the Parquet store (PartitionedStore), which
  * expresses the same semantics natively via dynamic partition overwrite —
  * SURVEY.md §7.4.2; this sink exists for reference-parity when a real
  * RDBMS target is configured.
  *
  * The container has no RDBMS and no JDBC driver on the classpath (zero
  * egress), so the wire protocol itself can't run here; the statement
  * sequencing — DDL, day-scoped DELETE, batched INSERT, COMMIT, and
  * rollback-on-failure — is exercised by `JdbcSinkSpec` through the
  * injected connection factory with a recording `java.sql.Connection`.
  */
object JdbcSink {

  /** `CREATE TABLE IF NOT EXISTS` — U2, `weather_hourly_pipeline.py:92-99`. */
  val ddl: String =
    """CREATE TABLE IF NOT EXISTS public.weather_hourly (
      |  time TIMESTAMP NOT NULL,
      |  temperature_2m DOUBLE PRECISION,
      |  relative_humidity_2m DOUBLE PRECISION,
      |  ingested_at TIMESTAMP
      |)""".stripMargin

  private val insertSql: String =
    "INSERT INTO public.weather_hourly (time, temperature_2m, " +
      "relative_humidity_2m, ingested_at) VALUES (?, ?, ?, ?)"

  /** Rows the sink will load: contract columns in the reference's insert
    * order (`weather_hourly_pipeline.py:104-106`), minus null-`time` rows.
    * The lenient ingest parse (try_to_timestamp) can produce null times;
    * the DDL declares `time TIMESTAMP NOT NULL`, so such rows would fail
    * the whole batch — and being invisible to the day-scoped DELETE they
    * would also break re-run idempotence if the DDL were relaxed instead.
    * Excluding them here keeps the sink total on the contract's terms;
    * callers surface them via `Contract.nullViolationCounts` first. */
  private def loadable(df: DataFrame): DataFrame =
    df.select("time", "temperature_2m", "relative_humidity_2m", "ingested_at")
      .filter(org.apache.spark.sql.functions.col("time").isNotNull)

  private def bindRow(ins: java.sql.PreparedStatement,
      r: org.apache.spark.sql.Row): Unit = {
    ins.setTimestamp(1, r.getTimestamp(0))
    if (r.isNullAt(1)) ins.setNull(2, java.sql.Types.DOUBLE)
    else ins.setDouble(2, r.getDouble(1))
    if (r.isNullAt(2)) ins.setNull(3, java.sql.Types.DOUBLE)
    else ins.setDouble(3, r.getDouble(2))
    if (r.isNullAt(3)) ins.setNull(4, java.sql.Types.TIMESTAMP)
    else ins.setTimestamp(4, r.getTimestamp(3))
    ins.addBatch()
  }

  /** Idempotent per-day load: within one transaction, delete the batch day
    * and re-insert all rows (U1). `connect` is injected so tests can pass
    * an embedded/recording database. Faithful to the reference's
    * driver-side single-transaction shape — use `upsertDayDistributed`
    * when the day no longer fits one driver. */
  def upsertDay(df: DataFrame, day: java.sql.Date,
      connect: () => Connection): Unit = {
    val rows = loadable(df)
      .collect() // reference semantics: one driver-side txn per batch day
    val conn = connect()
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      st.execute(ddl)
      val del = conn.prepareStatement(
        "DELETE FROM public.weather_hourly WHERE CAST(time AS DATE) = ?")
      del.setDate(1, day)
      del.executeUpdate()
      val ins = conn.prepareStatement(insertSql)
      rows.foreach(bindRow(ins, _))
      ins.executeBatch()
      conn.commit()
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally {
      conn.close()
    }
  }

  /** At-scale variant: DDL + day-scoped DELETE commit on the driver, then
    * batched INSERTs run per partition on the executors — each partition
    * its own connection and transaction, batches flushed every
    * `batchSize` rows (no row ever reaches the driver).
    *
    * Retry-idempotent for SEQUENTIAL re-attempts: rows are repartitioned
    * by `hour(time)` so each task exclusively owns its hours, and each
    * task's transaction DELETEs its hour slice before inserting it. A
    * task retry that re-runs AFTER a prior attempt committed then
    * deletes exactly the rows that attempt wrote before re-inserting —
    * without this, executor-side commits re-applied under Spark's task
    * retry would silently duplicate data. CONCURRENT duplicate attempts
    * (speculative execution, a zombie executor racing its retry) are
    * serialized too: each hour slice takes
    * `pg_advisory_xact_lock(epochDay, hour)` before its DELETE, so of
    * two racing attempts one blocks until the other's txn ends, then
    * deletes the winner's committed rows before re-inserting — under
    * READ COMMITTED the post-lock DELETE sees the committed state, so
    * the slice lands exactly once whichever attempt finishes last
    * ([[loadHourPartition]]; `JdbcSinkSpec` pins the
    * lock-before-DELETE statement order). The driver's day-wide DELETE
    * still runs first to clear
    * hours present in the warehouse but absent from this batch
    * (day-overwrite semantics); the hour DELETEs are no-ops on a clean
    * first run.
    *
    * Atomicity is deliberately weaker than `upsertDay`'s single
    * transaction: a reader can observe a partially loaded day mid-job.
    * The single-txn variant remains for reference parity; the Parquet
    * `PartitionedStore` is the primary at-scale warehouse (SURVEY.md
    * §7.4.2). */
  def upsertDayDistributed(df: DataFrame, day: java.sql.Date,
      connect: () => Connection, batchSize: Int = 1000): Unit = {
    val prepped = loadable(df)
      .repartition(org.apache.spark.sql.functions
        .hour(org.apache.spark.sql.functions.col("time")))
    val conn = connect()
    try {
      conn.setAutoCommit(false)
      conn.createStatement().execute(ddl)
      val del = conn.prepareStatement(
        "DELETE FROM public.weather_hourly WHERE CAST(time AS DATE) = ?")
      del.setDate(1, day)
      del.executeUpdate()
      conn.commit()
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally {
      conn.close()
    }
    prepped.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      loadHourPartition(rows, day, connect, batchSize)
    }
  }

  /** One task's transaction of [[upsertDayDistributed]] — extracted so
    * the retry-idempotence property is testable as the SCHEDULER sees
    * it: Spark may re-run this exact function on the exact same rows
    * (sequential task retry) after a prior attempt already committed,
    * and the result must be as if it ran once. That holds because the
    * txn DELETEs each hour slice it owns before inserting it;
    * `JdbcSinkSpec` replays this function against a materializing fake
    * warehouse to pin exactly-once row counts under both SEQUENTIAL
    * retry shapes (after a commit, and after a mid-batch failure).
    * CONCURRENT duplicate attempts (speculation) serialize on a
    * txn-scoped `pg_advisory_xact_lock(epochDay, hour)` taken before
    * each hour's DELETE — see [[upsertDayDistributed]]'s scaladoc for
    * the interleaving argument; the spec pins the lock-before-DELETE
    * statement order the argument depends on. */
  private[graft] def loadHourPartition(
      rows: Iterator[org.apache.spark.sql.Row], day: java.sql.Date,
      connect: () => Connection, batchSize: Int = 1000): Unit = {
    if (rows.hasNext) {
      val c = connect()
      try {
        c.setAutoCommit(false)
        val ins = c.prepareStatement(insertSql)
        val del = c.prepareStatement(
          "DELETE FROM public.weather_hourly WHERE CAST(time AS DATE) = ?" +
            " AND EXTRACT(HOUR FROM time) = ?")
        val lock = c.prepareStatement(
          "SELECT pg_advisory_xact_lock(?, ?)")
        val seenHours = scala.collection.mutable.Set.empty[Int]
        var n = 0
        rows.foreach { r =>
          val h = r.getTimestamp(0).toLocalDateTime.getHour
          if (seenHours.add(h)) {
            // flush pending inserts BEFORE deleting a new hour slice, so
            // the delete can never eat rows this txn already staged
            ins.executeBatch()
            // serialize attempts on this (day, hour) slice BEFORE the
            // DELETE: pg_advisory_xact_lock blocks until any concurrent
            // holder's txn ends, so a speculative duplicate attempt
            // waits, then its DELETE sees (and wipes) the winner's
            // committed rows before re-inserting — exactly-once even
            // with two attempts racing under READ COMMITTED. The lock
            // is txn-scoped: released at commit/rollback, no unlock
            // bookkeeping to leak on failure.
            lock.setInt(1, day.toLocalDate.toEpochDay.toInt)
            lock.setInt(2, h)
            val rs = lock.executeQuery()
            if (rs != null) rs.close()
            del.setDate(1, day)
            del.setInt(2, h)
            del.executeUpdate()
          }
          bindRow(ins, r)
          n += 1
          if (n % batchSize == 0) ins.executeBatch()
        }
        ins.executeBatch()
        c.commit()
      } catch {
        case e: Throwable => c.rollback(); throw e
      } finally {
        c.close()
      }
    }
  }
}
