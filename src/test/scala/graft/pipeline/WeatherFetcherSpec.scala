package graft.pipeline

import java.sql.Timestamp

import graft.SparkSpec

class WeatherFetcherSpec extends SparkSpec {

  private val goodJson =
    """{"location":{"name":"Paris","country":"France"},
      |"current":{"temperature":18,"weather_descriptions":["Sunny"],
      |"humidity":50,"wind_speed":10,"wind_dir":"NW","pressure":1013,
      |"visibility":10,"uv_index":4,"observation_time":"08:30 AM"}}""".stripMargin

  test("transient failures are retried and succeed within the retry budget") {
    val f = new WeatherFetcher.FakeFetcher(
      Map("Paris" -> goodJson), failFirst = Map("Paris" -> 2))
    val out = WeatherFetcher.fetchAll(f, Seq("Paris"), retries = 2)
    assert(out.head.rawJson.isDefined)
    assert(out.head.attempts == 3)   // 2 failures + 1 success
    assert(f.attempts("Paris") == 3)
  }

  test("a city failing beyond the retry budget is skipped, not fatal") {
    val f = new WeatherFetcher.FakeFetcher(
      Map("Paris" -> goodJson), failFirst = Map("Paris" -> 5))
    val logs = scala.collection.mutable.ListBuffer[String]()
    val out = WeatherFetcher.fetchAll(f, Seq("Paris", "Nowhere"), retries = 2, logs += _)
    assert(out.forall(_.rawJson.isEmpty))
    assert(out.forall(_.attempts == 3))         // 1 + retries
    assert(out.forall(_.error.isDefined))
    assert(logs.size == 6)                      // every attempt logged
  }

  test("payloads frame contains only successful cities") {
    val f = new WeatherFetcher.FakeFetcher(Map("Paris" -> goodJson))
    val results = WeatherFetcher.fetchAll(f, Seq("Paris", "Nowhere"), retries = 0)
    val df = WeatherFetcher.payloads(spark, results)
    assert(df.columns.toSeq == Seq("city", "raw_json"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("Paris"))
  }

  test("the payload frame is driver-held: ingest over it folds to a LocalRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val f = new WeatherFetcher.FakeFetcher(Map("Paris" -> goodJson))
    val df = WeatherFetcher.payloads(spark, WeatherFetcher.fetchAll(f, Seq("Paris"), retries = 0))
    assert(df.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("city", "string", true), ("raw_json", "string", true)))
    val t = Timestamp.valueOf("2024-06-02 08:30:00")
    val ingested = WeatherPipeline.ingest(df, t, t).queryExecution.optimizedPlan
    assert(ingested.isInstanceOf[LocalRelation], ingested.treeString)
  }

  test("runDaily: fetch -> ingest -> marts end-to-end with per-city skip") {
    withTempDir("rundaily") { dir =>
      val f = new WeatherFetcher.FakeFetcher(
        Map("Paris" -> goodJson), failFirst = Map("Paris" -> 1))
      val t0 = Timestamp.valueOf("2024-06-02 08:30:00")
      val now = Timestamp.valueOf("2024-06-02 09:00:00")
      val results = WeatherPipeline.runDaily(spark, f, Seq("Paris", "Gone"), t0, now, dir)
      assert(results.count(_.rawJson.isDefined) == 1)
      val dim = spark.read.parquet(s"$dir/marts/dim_locations")
      assert(dim.count() == 1)
      assert(dim.select("city").head().getString(0) == "PARIS")
    }
  }
}
