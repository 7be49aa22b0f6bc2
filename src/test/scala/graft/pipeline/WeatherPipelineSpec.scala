package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class WeatherPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-06-02 08:30:00") // a Sunday
  private val now = Timestamp.valueOf("2024-06-02 09:00:00")

  private def payload(city: String, country: String, temp: Int,
                      desc: String): String =
    s"""{"location":{"name":"$city","country":"$country"},
       |"current":{"temperature":$temp,"weather_descriptions":["$desc"],
       |"humidity":50,"wind_speed":10,"wind_dir":"NW","pressure":1013,
       |"visibility":10,"uv_index":4,"observation_time":"08:30 AM"}}""".stripMargin

  private def payloads: DataFrame = Seq(
    ("Paris", payload("Paris", "France", 18, "Partly sunny")),
    ("London", payload("London", "United Kingdom", -3, "light rain")),
    ("Tokyo", payload("Tokyo", "Japan", 35, "Overcast Clouds")),
    ("ErrCity", """{"error":{"code":615,"info":"request failed"}}"""),
    ("Hot City", payload("Hot City", "X", 75, "Sunny")) // outlier, filtered in staging
  ).toDF("city", "raw_json")

  test("ingest routes error payloads out and extracts nested fields") {
    // a truncated payload parses (PERMISSIVE from_json) to a partial
    // struct: location set, current null — it must not land in raw
    val truncated = Seq(("Oslo", payload("Oslo", "Norway", 5, "sunny").take(60)))
      .toDF("city", "raw_json")
    val raw = WeatherPipeline.ingest(payloads.union(truncated), t0, now)
    assert(raw.count() == 4) // ErrCity and the truncated Oslo payload dropped
    assert(raw.filter($"city" === "Oslo").isEmpty)
    val paris = raw.filter($"city" === "Paris").collect().head
    assert(paris.getAs[String]("country") == "France")
    assert(paris.getAs[Int]("temperature") == 18)
    assert(paris.getAs[String]("weather_description") == "Partly sunny")
  }

  test("ingest ids are deterministic across re-runs and unique within a batch") {
    val ids1 = WeatherPipeline.ingest(payloads, t0, now).select("id").as[Long].collect().sorted
    val ids2 = WeatherPipeline.ingest(payloads.repartition(3), t0, now)
      .select("id").as[Long].collect().sorted
    assert(ids1.toSeq == ids2.toSeq)
    assert(ids1.distinct.length == ids1.length)
  }

  test("staging cleans, categorizes, and filters outliers") {
    val stg = WeatherPipeline.stgWeather(WeatherPipeline.ingest(payloads, t0, now))
    val rows = stg.orderBy("city_clean")
      .select($"city_clean", $"weather_category", $"temperature_category")
      .as[(String, String, String)].collect()
    // Hot City (75°) filtered by the -50..60 range
    assert(rows.toSeq == Seq(
      ("LONDON", "Rain", "Freezing"),
      ("PARIS", "Clear", "Mild"),
      ("TOKYO", "Cloudy", "Hot")))
  }

  test("marts: dim aggregates per location, fct derives date parts (dow 0=Sunday)") {
    val stg = WeatherPipeline.stgWeather(WeatherPipeline.ingest(payloads, t0, now))
    val dim = WeatherPipeline.dimLocations(stg)
    assert(dim.count() == 3)
    assert(dim.select("location_key").distinct().count() == 3)
    val fct = WeatherPipeline.fctWeatherObservations(stg)
    val dows = fct.select("day_of_week").distinct().as[Int].collect()
    assert(dows.toSeq == Seq(0)) // 2024-06-02 is a Sunday → Postgres dow 0
    assert(fct.select("extraction_hour").distinct().as[Int].collect().toSeq == Seq(9))
  }

  test("data-quality gates pass on clean data and catch violations") {
    val raw = WeatherPipeline.ingest(payloads, t0, now)
    val stg = WeatherPipeline.stgWeather(raw)
    val dim = WeatherPipeline.dimLocations(stg)
    val fct = WeatherPipeline.fctWeatherObservations(stg)
    graft.quality.Checks.assertAll(
      ("raw_weather", raw, WeatherPipeline.rawWeatherTests),
      ("dim_locations", dim, WeatherPipeline.dimLocationsTests),
      ("fct_weather_observations", fct, WeatherPipeline.fctWeatherObservationsTests))
    // inject a bad category → accepted_values must count every row
    val bad = fct.withColumn("temperature_category", lit("Scorching"))
    val n = graft.quality.Checks.reportDf(bad, WeatherPipeline.fctWeatherObservationsTests)
      .filter($"check" === "accepted_values_temperature_category")
      .select("n_violations").as[Long].collect()
    assert(n.toSeq == Seq(bad.count()))
  }

  test("end-to-end: JSON landing files → permissive source → pipeline → partitioned marts") {
    import graft.sources.IO
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("wp-e2e").toString
    // land the payloads as JSON lines (one malformed record on top)
    payloads.write.mode("overwrite").json(s"$dir/landing")
    Seq("{ this is not json").toDF("value").write.mode("append").text(s"$dir/landing")
    val schema = StructType(Seq(
      StructField("city", StringType), StructField("raw_json", StringType)))
    val (good, bad) = IO.routeErrors(IO.readJsonPermissive(spark, schema, s"$dir/landing"))
    assert(bad.count() == 1)
    WeatherPipeline.runBatch(good, t0, now, s"$dir/wh")
    val fct = spark.read.parquet(s"$dir/wh/marts/fct_weather_observations")
    assert(fct.count() == 3) // error payload + outlier routed out downstream
  }

  test("startStream ingests a landing directory incrementally into partitioned staging") {
    val dir = java.nio.file.Files.createTempDirectory("wp-stream").toString
    payloads.write.mode("overwrite").json(s"$dir/landing")
    val q = WeatherPipeline.startStream(spark, s"$dir/landing", s"$dir/ckpt", s"$dir/stg", t0, now)
    q.processAllAvailable()
    // late-arriving file → next micro-batch picks it up via the checkpoint
    Seq(("Rome", payload("Rome", "Italy", 22, "sunny"))).toDF("city", "raw_json")
      .write.mode("append").json(s"$dir/landing")
    q.processAllAvailable()
    q.stop()
    val stg = spark.read.parquet(s"$dir/stg")
    assert(stg.count() == 4) // Paris, London, Tokyo + Rome (error + outlier dropped)
    assert(stg.filter($"city_clean" === "ROME").count() == 1)
    assert(new java.io.File(s"$dir/stg").listFiles()
      .exists(_.getName.startsWith("extraction_date=")))
  }

  test("runBatch writes raw + marts and enforces gates end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("wp-test").toString
    WeatherPipeline.runBatch(payloads, t0, now, dir)
    val fct = spark.read.parquet(s"$dir/marts/fct_weather_observations")
    assert(fct.count() == 3)
    // partitioned layout by extraction_date (at-scale daily overwrite unit)
    assert(new java.io.File(s"$dir/marts/fct_weather_observations")
      .listFiles().exists(_.getName.startsWith("extraction_date=")))
  }

  test("scheduled-run E2E: the full DAG chain fetch→ingest→stg→assert→marts→assert, " +
    "with per-city retry/skip and failing-test short-circuit") {
    import graft.pipeline.WeatherFetcher.FakeFetcher
    // --- happy path: one scheduled run end to end (DAG :172 chain) ---
    val dir = java.nio.file.Files.createTempDirectory("wp-dag").toString
    val fetcher = new FakeFetcher(
      canned = Map(
        "Paris" -> payload("Paris", "France", 18, "Partly sunny"),
        "London" -> payload("London", "United Kingdom", -3, "light rain")),
      failFirst = Map("London" -> 1)) // transient failure, retried
    val logs = scala.collection.mutable.ListBuffer.empty[String]
    val results = WeatherPipeline.runDaily(spark, fetcher,
      Seq("Paris", "London", "Atlantis"), t0, now, dir, retries = 2, logs += _)
    // per-city semantics: London recovered on retry, Atlantis skipped
    // after exhausting attempts without failing the batch (ref :115-116)
    assert(results.find(_.city === "London").get.rawJson.isDefined)
    assert(fetcher.attempts("London") == 2)
    val atlantis = results.find(_.city === "Atlantis").get
    assert(atlantis.rawJson.isEmpty && atlantis.attempts == 3)
    assert(logs.exists(_.contains("Atlantis")))
    // chain completed: raw landed, both marts written and consistent
    assert(spark.read.parquet(s"$dir/raw/weather").count() == 2)
    val dim = spark.read.parquet(s"$dir/marts/dim_locations")
    val fct = spark.read.parquet(s"$dir/marts/fct_weather_observations")
    assert(dim.count() == 2 && fct.count() == 2)
    assert(fct.join(dim, Seq("location_key")).count() == 2)

    // --- source-tier short-circuit (DAG step 4 gating step 5): a
    // double-fetched city collides on the deterministic raw id, the
    // staging-tier test fails, and NO mart output exists ---
    val dir2 = java.nio.file.Files.createTempDirectory("wp-dag-fail").toString
    val dup = Seq(
      ("Paris", payload("Paris", "France", 18, "sunny")),
      ("Paris", payload("Paris", "France", 19, "sunny"))).toDF("city", "raw_json")
    val e = intercept[IllegalArgumentException] {
      WeatherPipeline.runBatch(dup, t0, now, dir2)
    }
    assert(e.getMessage.contains("raw_weather.unique_id"))
    assert(new java.io.File(s"$dir2/raw/weather").exists()) // raw landed (step 2 ran)
    assert(!new java.io.File(s"$dir2/marts").exists(),
      "a failing staging test must short-circuit before any mart write")
  }

  test("re-running a day overwrites only that extraction_date partition") {
    val dir = java.nio.file.Files.createTempDirectory("wp-dyn").toString
    val day2 = Timestamp.valueOf("2024-06-03 09:00:00")
    WeatherPipeline.runBatch(payloads, t0, now, dir)   // day 1: 3 rows
    val oneCity = Seq(("Rome", payload("Rome", "Italy", 22, "sunny")))
      .toDF("city", "raw_json")
    WeatherPipeline.runBatch(oneCity, t0, day2, dir)   // day 2: 1 row
    val fct = spark.read.parquet(s"$dir/marts/fct_weather_observations")
    // dynamic partition overwrite: day 1's partition survives the day-2 run
    assert(fct.count() == 4)
    assert(fct.filter($"extraction_date" === "2024-06-02").count() == 3)
    assert(fct.filter($"extraction_date" === "2024-06-03").count() == 1)
    // re-run day 2 with the same batch → still 1 row for that day, not 2
    WeatherPipeline.runBatch(oneCity, t0, day2, dir)
    assert(spark.read.parquet(s"$dir/marts/fct_weather_observations").count() == 4)
  }
}
