package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.WeatherIngest
import graft.models.WeatherModels
import graft.pipeline.WeatherPipeline

/** ScalaCheck properties promised in SURVEY.md §5: row-count conservation
  * of the transform and idempotence of the day-overwrite load. Generators
  * are driven by fixed seeds (the scalatestplus bridge is not in the
  * offline cache) — deterministic, still property-shaped. */
class PipelinePropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def payload(times: Seq[String], temps: Seq[Double],
      rhs: Seq[Double]): String = {
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    s"""{"hourly": {"time": ${arr(times.map("\"" + _ + "\""))},
       | "temperature_2m": ${arr(temps.map(_.toString))},
       | "relative_humidity_2m": ${arr(rhs.map(_.toString))}},
       | "_meta": {"lat": "1.0", "lon": "2.0",
       | "ingested_at": "2025-01-01T00:00:00Z"}}""".stripMargin
  }

  private val hourGen: Gen[(String, Double, Double)] = for {
    day <- Gen.choose(1, 28)
    hour <- Gen.choose(0, 23)
    bad <- Gen.frequency(9 -> false, 1 -> true)
    temp <- Gen.choose(-40.0, 45.0)
    rh <- Gen.choose(0.0, 100.0)
  } yield (
    if (bad) "garbage" else f"2025-06-$day%02dT$hour%02d:00",
    math.rint(temp * 100) / 100, math.rint(rh * 100) / 100)

  private def sample(n: Int, seed: Long): List[(String, Double, Double)] =
    Gen.listOfN(n, hourGen)
      .apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("gen failed"))

  test("property: transform preserves row count = len(hourly.time)") {
    for (seed <- 1L to 5L) {
      val rows = sample(20, seed)
      val df = WeatherIngest.fromPayloads(spark,
        Seq(payload(rows.map(_._1), rows.map(_._2), rows.map(_._3))))
      assert(df.count() === rows.length, s"seed=$seed")
      // lenient parse: bad timestamps become nulls, never dropped rows
      assert(df.filter("time IS NULL").count() ===
        rows.count(_._1 == "garbage"), s"seed=$seed")
    }
  }

  test("property: load . load = load (day-overwrite idempotence)") {
    for (seed <- 10L to 12L) {
      val rows = sample(12, seed)
      val wh = Files.createTempDirectory("graft_prop_wh_").toString
      val p = payload(rows.map(_._1), rows.map(_._2), rows.map(_._3))
      val r = WeatherPipeline.run(spark, p, wh)
      // the result is the parsed plan's own row count and min day, and
      // the mart over a fresh warehouse is the mart of the parsed rows
      val hourly = WeatherIngest.fromPayloads(spark, Seq(p))
      assert(r.rows === hourly.count(), s"seed=$seed")
      assert(r.batchDay === Option(hourly.agg(min(to_date(col("time"))))
        .first().getDate(0)), s"seed=$seed")
      val once = WeatherPipeline.dailyMart(spark, wh).collect().toSeq
      assert(once === WeatherModels.daily(hourly).collect().toSeq,
        s"seed=$seed")
      WeatherPipeline.run(spark, p, wh) // re-deliver the same batch
      val twice = WeatherPipeline.dailyMart(spark, wh).collect().toSeq
      assert(once === twice, s"seed=$seed")
    }
  }

  test("empty payload short-circuits (P5 guard)") {
    val wh = Files.createTempDirectory("graft_prop_wh_").toString
    val r = WeatherPipeline.run(spark, payload(Nil, Nil, Nil), wh)
    assert(r.rows === 0L && r.batchDay.isEmpty)
  }

  test("an all-unparseable payload loads every row into the null-date " +
      "partition and has no batch day") {
    val wh = Files.createTempDirectory("graft_prop_wh_").toString
    val r = WeatherPipeline.run(spark,
      payload(Seq("garbage", "2025-13-40T99:00", ""), Seq(1.0, 2.0, 3.0),
        Seq(10.0, 20.0, 30.0)), wh)
    assert(r.rows === 3L && r.batchDay.isEmpty)
    assert(dayDirs(wh) === Seq("date=__HIVE_DEFAULT_PARTITION__"))
    val back = spark.read.parquet(wh)
    assert(back.filter(col("date").isNull && col("time").isNull).count()
      === 3L)
    val mart = WeatherPipeline.dailyMart(spark, wh).collect()
    assert(mart.length === 1 && mart(0).isNullAt(0))
    assert(mart(0).getDouble(1) === 2.0)
  }

  test("a payload spanning two days keys the batch on the earlier day " +
      "and re-delivery overwrites both days") {
    val wh = Files.createTempDirectory("graft_prop_wh_").toString
    // the later day comes first: the batch day is a min, not the head
    val first = WeatherPipeline.run(spark, payload(
      Seq("2025-06-21T00:00", "2025-06-21T01:00", "2025-06-20T22:00",
        "2025-06-20T23:00"),
      Seq(1.0, 2.0, 3.0, 4.0), Seq(50.0, 50.0, 50.0, 50.0)), wh)
    assert(first.rows === 4L)
    assert(first.batchDay.map(_.toString).contains("2025-06-20"))
    val again = WeatherPipeline.run(spark, payload(
      Seq("2025-06-21T05:00", "2025-06-20T23:00"),
      Seq(10.0, 20.0), Seq(60.0, 70.0)), wh)
    assert(again.rows === 2L)
    assert(again.batchDay.map(_.toString).contains("2025-06-20"))
    val mart = WeatherPipeline.dailyMart(spark, wh).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1), r.getDouble(4)))
    assert(mart.toSeq ===
      Seq(("2025-06-20", 20.0, 70.0), ("2025-06-21", 10.0, 60.0)))
  }

  test("one run writes exactly one parquet file into each touched day") {
    val wh = Files.createTempDirectory("graft_prop_wh_").toString
    // 72 hours over three days: more rows than the session's cores
    val times = for (d <- 1 to 3; h <- 0 to 23) yield f"2025-06-$d%02dT$h%02d:00"
    WeatherPipeline.run(spark, payload(times, times.indices.map(_.toDouble),
      times.indices.map(_ => 50.0)), wh)
    val dirs = dayDirs(wh)
    assert(dirs === Seq("date=2025-06-01", "date=2025-06-02",
      "date=2025-06-03"))
    dirs.foreach { d =>
      val files = new java.io.File(s"$wh/$d").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length === 1, s"$d holds ${files.toSeq}")
    }
  }

  test("job budget: one run submits at most two Spark jobs, and " +
      "building the mart submits none") {
    val rows = sample(24, 20L)
    val wh = Files.createTempDirectory("graft_prop_wh_").toString
    val p = payload(rows.map(_._1), rows.map(_._2), rows.map(_._3))
    // the first call pays one-time set-up; the budget is per cycle
    WeatherPipeline.run(spark, p, Files.createTempDirectory(
      "graft_prop_wh_").toString)
    val (r, runJobs) = JobWatch.during(spark, "pipeline-run-budget") {
      WeatherPipeline.run(spark, p, wh)
    }
    assert(r.rows === 24L)
    assert(runJobs.size <= 2, s"run submitted ${runJobs.size} jobs")
    val (mart, martJobs) = JobWatch.during(spark, "pipeline-mart-budget") {
      WeatherPipeline.dailyMart(spark, wh)
    }
    assert(martJobs.isEmpty,
      s"building the mart submitted ${martJobs.size} jobs")
    assert(mart.collect().nonEmpty)
  }

  private def dayDirs(wh: String): Seq[String] =
    new java.io.File(wh).listFiles().map(_.getName)
      .filter(_.startsWith("date=")).sorted.toSeq

  test("runLive: fetch -> transform -> store -> mart against a stub server") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val body =
      """{"latitude": -23.5505, "longitude": -46.6333,
        | "hourly": {
        |   "time": ["2025-08-21T00:00", "2025-08-21T01:00"],
        |   "temperature_2m": [20.0, 22.0],
        |   "relative_humidity_2m": [70.0, 72.0]}}""".stripMargin
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/v1/forecast", (ex: HttpExchange) => {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/v1/forecast"
      val wh = Files.createTempDirectory("graft_live_wh_").toString
      val r = WeatherPipeline.runLive(spark, wh,
        fetch = () => WeatherIngest.fetchOpenMeteoJson(base, "-23.5505",
          "-46.6333", now = java.time.Instant.parse("2025-08-21T02:00:00Z")))
      assert(r.rows === 2L)
      assert(r.batchDay.map(_.toString).contains("2025-08-21"))
      val mart = WeatherPipeline.dailyMart(spark, wh).collect()
      assert(mart.length === 1)
      assert(mart(0).getDouble(1) === 21.0) // avg temp
    } finally server.stop(0)
  }
}
