package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}

import graft.ingest.WeatherIngest
import graft.models.WeatherModels
import graft.store.PartitionedStore

/** The reference's whole DAG (`weather_hourly_pipeline.py:37-128`):
  * fetch -> transform -> store -> load -> models. Airflow task edges
  * collapse into plan edges; the XCom string hop (S3) disappears —
  * stages chain as DataFrames (SURVEY.md §3.1).
  *
  * Spark job budget of one hourly cycle: `run` submits one parse job
  * (the payload's rows are collected once) and one write job (the
  * day-overwrite); `dailyMart` submits none until its caller collects
  * it, and then only the mart's own jobs — its read carries the stored
  * schema, so no schema-inference job runs.
  *
  * The HTTP fetch (S1) is driver-side by design (a single-request source;
  * SURVEY.md §2.1 rules a DataSourceV2 overkill): `runLive` performs the
  * reference's GET via `WeatherIngest.fetchOpenMeteoJson` (params, 30 s
  * timeout, raise-on-non-2xx, `_meta` enrichment); `run` accepts the
  * payload string directly so tests and offline environments inject
  * fixtures. */
object WeatherPipeline {

  case class Result(rows: Long, batchDay: Option[java.sql.Date],
      warehousePath: String)

  /** End-to-end run for one batch payload. Mirrors the reference's task
    * sequence with the same empty-payload guard (P5) and min-date batch
    * key (A1); the store step is the idempotent day-overwrite (U1).
    *
    * The payload is one driver-side string, so its parsed rows are
    * bounded by it: they are collected once, in one job, together with
    * each row's calendar day (`to_date` under the session time zone, as
    * the store derives its `date=` key). The guard, the row count and
    * the batch day are read from those rows, and the write replays them
    * as ONE partition, so each touched day gets one file. (A frame over
    * local rows would not do: its scan splits into up to
    * `defaultParallelism` tasks, each writing its own file per day.) */
  def run(spark: SparkSession, payload: String,
      warehousePath: String): Result = {
    val rows = WeatherIngest.fromPayloads(spark, Seq(payload))
      .withColumn("date", to_date(col("time")))
      .collect()
    if (rows.isEmpty) {
      Result(0L, None, warehousePath) // weather_hourly_pipeline.py:63-64
    } else {
      val day = rows.flatMap(r => Option(r.getAs[java.sql.Date]("date")))
        .minByOption(_.getTime)
      // rows with unparseable time (null) keep the reference's behavior of
      // loading them; they land in the null-date partition
      PartitionedStore.upsertDaily(
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1), storedSchema),
        warehousePath)
      Result(rows.length.toLong, day, warehousePath)
    }
  }

  /** The warehouse schema `run` writes: the ingested hourly columns plus
    * the `date` partition key. */
  val storedSchema: StructType =
    WeatherIngest.hourlySchema.add(StructField("date", DateType))

  /** The mart over everything loaded so far (dbt_run step: view-layer
    * recompute on read). The read is given [[storedSchema]], so building
    * the frame starts no schema-inference job. */
  def dailyMart(spark: SparkSession, warehousePath: String): DataFrame =
    WeatherModels.daily(spark.read.schema(storedSchema).parquet(warehousePath))

  /** Live-fetch variant: the full reference DAG including the HTTP GET
    * (S1). `fetch` defaults to the real Open-Meteo call and is injectable
    * so tests point it at a stub server (`WeatherIngestSpec` exercises
    * the fetch contract itself; `PipelinePropertySpec` the stages). */
  def runLive(spark: SparkSession, warehousePath: String,
      fetch: () => String = () => WeatherIngest.fetchOpenMeteoJson()): Result =
    run(spark, fetch(), warehousePath)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wh = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft_weather_wh_").toString
    val r = run(spark, WeatherIngest.fixturePayload, wh)
    println(s"[pipeline] loaded rows=${r.rows} day=${r.batchDay} wh=$wh")
    dailyMart(spark, wh).show(truncate = false)
    spark.stop()
  }
}
