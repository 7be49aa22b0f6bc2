package graft.pipeline

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
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

  test("ingest emits the declared raw.weather DDL (rawSchema), nullability aside") {
    def fields(t: org.apache.spark.sql.types.StructType) = t.fields.toSeq.map(f => f.name -> f.dataType)
    assert(fields(WeatherPipeline.ingest(payloads, t0, now).schema) ==
      fields(WeatherPipeline.rawSchema))
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
    val observed = Seq(
      ("raw_weather", raw, WeatherPipeline.rawWeatherTests),
      ("dim_locations", dim, WeatherPipeline.dimLocationsTests),
      ("fct_weather_observations", fct, WeatherPipeline.fctWeatherObservationsTests)
    ).map { case (model, frame, checks) =>
      val o = new graft.quality.Checks.Observed(model, checks)
      o.on(frame).write.format("noop").mode("overwrite").save()
      o
    }
    graft.quality.Checks.assertObserved(observed)
    // inject a bad category → accepted_values must count every row
    val bad = fct.withColumn("temperature_category", lit("Scorching"))
    val n = graft.quality.Checks.reportDf(bad, WeatherPipeline.fctWeatherObservationsTests)
      .filter($"check" === "accepted_values_temperature_category")
      .select("n_violations").as[Long].collect()
    assert(n.toSeq == Seq(bad.count()))
  }

  /** The executed physical plans of every action `body` runs, from a
    * listener on the spec's session (a session cloned from it during
    * `body` carries the listener too). */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.Bus.drain(sc) // no earlier action's event reaches `l`
    spark.listenerManager.register(l)
    try { body; org.apache.spark.graft.Bus.drain(sc) }
    finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** Every node of a plan, through adaptive wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  })

  /** Whole-stage codegen stages in a plan. */
  private def codegenStages(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[WholeStageCodegenExec])

  /** The files every file scan in a plan reads. */
  private def filesRead(p: SparkPlan): Seq[String] =
    nodes(p).collect { case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq }.flatten

  test("end-to-end: JSON landing files → permissive source → pipeline → partitioned marts") {
    import graft.sources.IO
    import org.apache.spark.sql.types._
    withTempDir("wp-e2e") { dir =>
      // land the payloads as JSON lines (one malformed record on top)
      payloads.write.mode("overwrite").json(s"$dir/landing")
      Seq("{ this is not json").toDF("value").write.mode("append").text(s"$dir/landing")
      val schema = StructType(Seq(
        StructField("city", StringType), StructField("raw_json", StringType)))
      val (good, bad) = IO.routeErrors(IO.readJsonPermissive(spark, schema, s"$dir/landing"))
      assert(bad.count() == 1)
      val filePlans = executedPlans(WeatherPipeline.runBatch(good, t0, now, s"$dir/wh"))
      val fct = spark.read.parquet(s"$dir/wh/marts/fct_weather_observations")
      assert(fct.count() == 3) // error payload + outlier routed out downstream
      // the same payloads held on the driver run interpreted, with equal output
      val heldPlans = executedPlans(WeatherPipeline.runBatch(payloads, t0, now, s"$dir/held"))
      for (t <- Seq("raw/weather", "marts/dim_locations", "marts/fct_weather_observations")) {
        def rows(root: String) = spark.read.parquet(s"$dir/$root/$t").collect().toSet
        assert(rows("held") == rows("wh"), t)
      }
      assert(heldPlans.size == 3 && heldPlans.forall(codegenStages(_) == 0),
        heldPlans.mkString("\n"))
      assert(filePlans.exists(codegenStages(_) > 0), filePlans.mkString("\n"))
    }
  }

  test("runBatch takes its output root as a URI and publishes through the Hadoop filesystem") {
    withTempDir("wp-uri") { path =>
      val dir = new java.io.File(path)
      WeatherPipeline.runBatch(payloads, t0, now, dir.toURI.toString)
      assert(spark.read.parquet(s"$dir/raw/weather").count() == 4) // the outlier lands in raw
      assert(spark.read.parquet(s"$dir/marts/dim_locations").count() == 3)
      assert(spark.read.parquet(s"$dir/marts/fct_weather_observations").count() == 3)
      assert(new java.io.File(dir, "marts/fct_weather_observations/_SUCCESS").exists())
      assert(!new java.io.File(dir, "_stage").exists())
    }
  }

  test("the model list drives the output: a live dir per written model, none for a view, " +
    "and the manifest's nodes in list order") {
    withTempDir("wp-models") { dir =>
      WeatherPipeline.runBatch(payloads, t0, now, dir)
      assert(WeatherPipeline.models.exists(!_.written))
      for (m <- WeatherPipeline.models)
        assert(new java.io.File(dir, m.path).isDirectory == m.written, m.path)
      assert(!new java.io.File(dir, "staging/stg_weather").exists())
      assert(ModelManifest.models(spark).map(_.name) == WeatherPipeline.models.map(_.relation))
    }
  }

  /** Appends one JSON landing file of (city, raw_json, interval) rows. */
  private def land(dir: String, rows: (String, String, Timestamp)*): Unit =
    rows.toDF("city", "raw_json", "data_interval_start").coalesce(1)
      .write.mode("append").json(dir)

  private def landed(t: Timestamp, df: DataFrame): Seq[(String, String, Timestamp)] =
    df.as[(String, String)].collect().toSeq.map { case (c, j) => (c, j, t) }

  private val tableDirs = Seq("raw/weather", "marts/dim_locations", "marts/fct_weather_observations")

  /** Each table's rows under `root`. */
  private def tables(root: String): Seq[Set[org.apache.spark.sql.Row]] =
    tableDirs.map(t => spark.read.parquet(s"$root/$t").collect().toSet)

  test("startStream publishes each micro-batch through the gated commit into raw and the marts") {
    withTempDir("wp-stream") { dir =>
      land(s"$dir/landing", landed(t0, payloads): _*)
      val q = WeatherPipeline.startStream(spark, s"$dir/landing", s"$dir/ckpt", s"$dir/out", now)
      try {
        q.processAllAvailable()
        // late-arriving file → next micro-batch picks it up via the checkpoint
        land(s"$dir/landing", ("Rome", payload("Rome", "Italy", 22, "sunny"), t0))
        q.processAllAvailable()
      } finally q.stop()
      val raw = spark.read.parquet(s"$dir/out/raw/weather")
      assert(raw.count() == 5) // the error payload routed out; the outlier lands in raw
      assert(raw.filter($"city" === "Rome").count() == 1)
      // Paris, London, Tokyo + Rome: the outlier is filtered in staging
      assert(spark.read.parquet(s"$dir/out/marts/fct_weather_observations").count() == 4)
      assert(new java.io.File(s"$dir/out/marts/fct_weather_observations").listFiles()
        .exists(_.getName.startsWith("data_interval_start=")))
    }
  }

  test("the stream's raw and marts equal runBatch over each interval's landed rows, in interval order") {
    withTempDir("wp-stream-batch") { dir =>
      val t1 = Timestamp.valueOf("2024-06-03 08:30:00")
      val files = Seq(
        Seq(("Paris", payload("Paris", "France", 18, "sunny"), t0),
          ("London", payload("London", "United Kingdom", -3, "light rain"), t0),
          ("ErrCity", """{"error":{"code":615,"info":"request failed"}}""", t0)),
        Seq(("Tokyo", payload("Tokyo", "Japan", 35, "Overcast Clouds"), t0),
          ("Paris", payload("Paris", "France", 21, "sunny"), t1),
          ("Rome", payload("Rome", "Italy", 22, "sunny"), t1),
          ("Hot City", payload("Hot City", "X", 75, "Sunny"), t1)))
      new java.io.File(s"$dir/landing").mkdirs()
      val q = WeatherPipeline.startStream(spark, s"$dir/landing", s"$dir/ckpt", s"$dir/stream", now)
      try files.foreach { f => land(s"$dir/landing", f: _*); q.processAllAvailable() }
      finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
      for ((t, rows) <- files.flatten.groupBy(_._3).toSeq.sortBy(_._1.getTime))
        WeatherPipeline.runBatch(rows.map(r => (r._1, r._2)).toDF("city", "raw_json"), t, now,
          s"$dir/batch")
      tables(s"$dir/stream").zip(tables(s"$dir/batch")).zip(tableDirs).foreach {
        case ((stream, batch), t) => assert(stream == batch, t)
      }
    }
  }

  test("the stream replaces a city per interval, resumes from its checkpoint, " +
    "and a replayed micro-batch changes no table") {
    // every dir given as a plain path and as a file: URI
    for (uri <- Seq(false, true)) {
      withTempDir("wp-stream-merge") { path =>
        val dir = new java.io.File(path)
        val root = if (uri) dir.toURI.toString.stripSuffix("/") else dir.toString
        /** Runs the stream until it has consumed every landed file; returns
          * the input rows of each micro-batch it ran. */
        def run(): Seq[Long] = {
          val q = WeatherPipeline.startStream(spark, s"$root/landing", s"$root/ckpt", s"$root/out", now)
          try q.processAllAvailable() finally q.stop()
          q.recentProgress.map(_.numInputRows).toSeq
        }
        def temps(): Map[String, Int] = spark.read.parquet(s"$dir/out/raw/weather")
          .select($"city", $"temperature").as[(String, Int)].collect().toMap
        land(s"$root/landing", ("Paris", payload("Paris", "France", 18, "sunny"), t0),
          ("London", payload("London", "United Kingdom", -3, "light rain"), t0))
        assert(run().sum == 2)
        assert(temps() == Map("Paris" -> 18, "London" -> -3))
        // a restart processes only the new file, whose Paris replaces the first
        land(s"$root/landing", ("Paris", payload("Paris", "France", 25, "sunny"), t0))
        assert(run().sum == 1)
        assert(temps() == Map("Paris" -> 25, "London" -> -3))
        val published = tables(s"$dir/out")
        assert(published(2).size == 2)
        // no new file: a no-op run
        assert(run().sum == 0)
        assert(tables(s"$dir/out") == published)
        // uncommit the last micro-batch: the restart replays it, changing no table
        Seq("1", ".1.crc").foreach(n => new java.io.File(dir, s"ckpt/commits/$n").delete())
        assert(run() == Seq(1L))
        assert(tables(s"$dir/out") == published)
        assert(!new java.io.File(dir, "out/_stage").exists())
      }
    }
  }

  test("a micro-batch that ingests no row, or fails the gate, publishes nothing") {
    withTempDir("wp-stream-gate") { dir =>
      new java.io.File(s"$dir/landing").mkdirs()
      val q = WeatherPipeline.startStream(spark, s"$dir/landing", s"$dir/ckpt", s"$dir/out", now)
      try {
        land(s"$dir/landing", ("ErrCity", """{"error":{"code":615,"info":"request failed"}}""", t0),
          ("Oslo", payload("Oslo", "Norway", 5, "sunny").take(60), t0))
        q.processAllAvailable()
        assert(q.recentProgress.map(_.numInputRows).sum == 2)
        assert(!new java.io.File(s"$dir/out").exists())
        land(s"$dir/landing", ("Paris", payload("Paris", "France", 18, "sunny"), t0))
        q.processAllAvailable()
        val published = tables(s"$dir/out")
        land(s"$dir/landing", landed(t0, dupParis): _*)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains("raw_weather.unique_id")), e)
        assert(tables(s"$dir/out") == published)
        assert(!new java.io.File(s"$dir/out/_stage").exists())
      } finally q.stop()
    }
  }

  test("runBatch writes raw + marts and enforces gates end-to-end") {
    withTempDir("wp-test") { dir =>
      WeatherPipeline.runBatch(payloads, t0, now, dir)
      val fct = spark.read.parquet(s"$dir/marts/fct_weather_observations")
      assert(fct.count() == 3)
      // partitioned layout by data_interval_start (the daily overwrite unit)
      assert(new java.io.File(s"$dir/marts/fct_weather_observations")
        .listFiles().exists(_.getName.startsWith("data_interval_start=")))
    }
  }

  test("scheduled-run E2E: the full DAG chain fetch→ingest→stg→assert→marts→assert, " +
    "with per-city retry/skip and failing-test short-circuit") {
    import graft.pipeline.WeatherFetcher.FakeFetcher
    // --- happy path: one scheduled run end to end (DAG :172 chain) ---
    withTempDir("wp-dag") { dir =>
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
      withTempDir("wp-dag-fail") { dir2 =>
        val e = intercept[IllegalArgumentException] {
          WeatherPipeline.runBatch(dupParis, t0, now, dir2)
        }
        assert(e.getMessage.contains("raw_weather.unique_id"))
        // the mart tests never ran in the DAG: only source-tier checks are named
        assert(failedChecks(e).forall(_.startsWith("raw_weather.")), e.getMessage)
        // stricter than the DAG, whose step 2 lands raw before the test: the
        // failing batch's raw rows are staged and never published
        assert(!new java.io.File(s"$dir2/raw").exists(),
          "a failing staging test must publish no raw rows")
        assert(!new java.io.File(s"$dir2/marts").exists(),
          "a failing staging test must short-circuit before any mart write")
      }
    }
  }

  /** The `<model>.<check>` names of a gate failure. */
  private def failedChecks(e: Throwable): Seq[String] =
    e.getMessage.split("data-quality check failed: ", 2).last.split(", ").toSeq

  private def dupParis: DataFrame = Seq(
    ("Paris", payload("Paris", "France", 18, "sunny")),
    ("Paris", payload("Paris", "France", 19, "sunny"))).toDF("city", "raw_json")

  test("a failed gate publishes nothing: the live marts keep their files and no stage remains") {
    withTempDir("wp-gate") { dir =>
      WeatherPipeline.runBatch(payloads, t0, now, dir) // a good day
      val interval = new java.io.File(s"$dir/raw/weather").listFiles()
        .filter(_.getName.startsWith("data_interval_start=")).map(_.getPath).toSeq
      assert(interval.size == 1)
      val day1 = s"$dir/marts/fct_weather_observations/data_interval_start=" +
        new java.io.File(interval.head).getName.stripPrefix("data_interval_start=")
      def names(d: String): Set[String] = new java.io.File(d).list().toSet
      def rawRows = spark.read.parquet(interval.head).collect().toSet
      val (dimBefore, fctBefore, rawBefore) = (names(s"$dir/marts/dim_locations"), names(day1),
        names(interval.head))
      val rawRowsBefore = rawRows
      assert(Seq(dimBefore, fctBefore, rawBefore).forall(_.exists(_.endsWith(".parquet"))))
      assert(rawRowsBefore.size == 4)
      // the same interval again, failing the source tier: its raw rows and
      // marts were staged before the gate read them, and none may replace the live ones
      val e = intercept[IllegalArgumentException](WeatherPipeline.runBatch(dupParis, t0, now, dir))
      assert(e.getMessage.contains("raw_weather.unique_id"))
      assert(names(s"$dir/marts/dim_locations") == dimBefore)
      assert(names(day1) == fctBefore)
      assert(names(interval.head) == rawBefore)
      assert(rawRows == rawRowsBefore)
      assert(!new java.io.File(s"$dir/_stage").exists())
    }
  }

  test("a raw-write error is thrown before the gate's, and no mart is written") {
    def notADir(path: String): Unit = {
      new java.io.File(path).getParentFile.mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), "not a dir")
    }
    // a regular file at the stage root fails every staged write
    withTempDir("wp-rawfail") { dir =>
      notADir(s"$dir/_stage")
      // the batch would fail the gate too (duplicate raw id), but the gate
      // reads the writes' observations, and no write succeeded
      val e = intercept[Exception](WeatherPipeline.runBatch(dupParis, t0, now, dir))
      assert(!e.isInstanceOf[IllegalArgumentException], e)
      assert((e +: e.getSuppressed.toSeq).forall(x =>
        !String.valueOf(x.getMessage).contains("data-quality check failed")), e)
      assert(new java.io.File(dir).list().toSeq == Seq("_stage"))
      assert(new java.io.File(s"$dir/_stage").isFile)
      // a passing batch whose live raw dir is a regular file fails at the
      // raw publish, which comes first: no mart is published either
      withTempDir("wp-rawpublish") { dir2 =>
        notADir(s"$dir2/raw/weather")
        intercept[Exception](WeatherPipeline.runBatch(payloads, t0, now, dir2))
        assert(!new java.io.File(s"$dir2/marts").exists())
        assert(!new java.io.File(s"$dir2/_stage").exists())
      }
    }
  }

  private val threeCityNames = Seq("Paris", "London", "Tokyo")

  /** A fetcher that serves [[threeCityNames]]. */
  private def threeCities = new WeatherFetcher.FakeFetcher(Map(
    "Paris" -> payload("Paris", "France", 18, "Partly sunny"),
    "London" -> payload("London", "United Kingdom", -3, "light rain"),
    "Tokyo" -> payload("Tokyo", "Japan", 35, "Overcast Clouds")))

  test("a runDaily day is single-task jobs with no shuffle and one file per mart; " +
    "a file-sourced batch keeps its scan parallelism") {
    import org.apache.spark.metrics.source.CodegenMetrics
    withTempDir("wp-shape") { dir =>
      val fetcher = threeCities
      WeatherPipeline.runDaily(spark, fetcher, threeCityNames, t0, now, dir) // warm-up day
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // the next day, with its own interval and `now` literals
      var r: graft.obs.Trace.Report = null
      val plans = executedPlans {
        r = graft.obs.Trace.around(spark) {
          WeatherPipeline.runDaily(spark, fetcher, threeCityNames, Timestamp.valueOf("2024-06-03 08:30:00"),
            Timestamp.valueOf("2024-06-03 09:00:00"), dir)
        }._2
      }
      // one collect per written model, each carrying its checks and
      // written on the driver; the actions of the batch's cloned session
      // reach a listener registered on the caller's
      val written = WeatherPipeline.models.count(_.written)
      assert(r.actions == written && plans.size == written, r.summary)
      assert(r.jobs == written && r.tasks == r.jobs && r.shuffleBytes == 0, r.summary)
      val writes = plans.flatMap(nodes).collect {
        case w @ (_: DataWritingCommandExec | _: WriteFilesExec) => w.nodeName
      }
      assert(writes.isEmpty, plans.mkString("\n"))
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        "a warm day compiled generated code")
      def dataFiles(d: String): Int =
        new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
      assert(dataFiles(s"$dir/marts/dim_locations") == 1)
      val day2 = new java.io.File(s"$dir/marts/fct_weather_observations").listFiles()
        .filter(_.getName.startsWith("data_interval_start=2024-06-03"))
      assert(day2.length == 1 && dataFiles(day2.head.getPath) == 1)

      // JSON landing files: the scan keeps one partition per file
      payloads.limit(2).write.json(s"$dir/landing")
      payloads.limit(3).filter($"city" === "Tokyo").write.mode("append").json(s"$dir/landing")
      assert(new java.io.File(s"$dir/landing").listFiles().count(_.getName.endsWith(".json")) >= 2)
      val landed = spark.read.schema("city STRING, raw_json STRING").json(s"$dir/landing")
      WeatherPipeline.runBatch(landed, t0, now, s"$dir/file")
      val intervals = new java.io.File(s"$dir/file/raw/weather").listFiles()
        .filter(_.getName.startsWith("data_interval_start="))
      assert(intervals.length == 1 && dataFiles(intervals.head.getPath) >= 2)
      assert(spark.read.parquet(s"$dir/file/marts/fct_weather_observations").count() == 3)
    }
  }

  test("a warm runDaily day starts no OS process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
    // the recording sees the whole JVM: keep the starts made by the
    // pipeline or the local filesystem, and run no stream beside the day
    def ours(e: RecordedEvent): Boolean = Option(e.getStackTrace).exists(_.getFrames.asScala.exists { f =>
      val c = f.getMethod.getType.getName
      c.startsWith("graft.") || c.startsWith("org.apache.hadoop.fs.RawLocalFileSystem")
    })
    withTempDir("wp-procs") { dir =>
      val recording = new Recording()
      val jfr = java.nio.file.Files.createTempFile("wp-procs", ".jfr")
      try {
        WeatherPipeline.runDaily(spark, threeCities, threeCityNames, t0, now, dir) // warm-up day
        assert(spark.streams.active.isEmpty, spark.streams.active.map(_.name).mkString(", "))
        recording.enable("jdk.ProcessStart").withStackTrace()
        recording.start()
        WeatherPipeline.runDaily(spark, threeCities, threeCityNames, Timestamp.valueOf("2024-06-03 08:30:00"),
          Timestamp.valueOf("2024-06-03 09:00:00"), dir)
        recording.stop()
        recording.dump(jfr)
        val commands = RecordingFile.readAllEvents(jfr).asScala.filter(ours).map(_.getString("command"))
        assert(commands.isEmpty, commands.mkString("\n"))
      } finally {
        recording.close()
        java.nio.file.Files.delete(jfr)
      }
    }
  }

  test("a warm runDaily day is O(day): the same jobs and tasks after 2 and after 30 " +
    "intervals, and no read of an earlier interval's raw or fct file") {
    withTempDir("wp-oday") { dir =>
      def day(i: Int): Unit = {
        val start = new Timestamp(t0.getTime + i * 86400000L)
        WeatherPipeline.runDaily(spark, threeCities, threeCityNames, start,
          new Timestamp(start.getTime + 1800000L), dir)
      }
      /** The trace of day `i` and the files its actions read. */
      def traced(i: Int): (graft.obs.Trace.Report, Seq[String]) = {
        var report: graft.obs.Trace.Report = null
        val plans = executedPlans { report = graft.obs.Trace.around(spark)(day(i))._2 }
        (report, plans.flatMap(filesRead))
      }
      (0 until 2).foreach(day)
      val (afterTwo, readAfterTwo) = traced(2)
      (3 until 30).foreach(day)
      val (afterThirty, readAfterThirty) = traced(30)
      assert(new java.io.File(s"$dir/raw/weather").list().count(_.startsWith("data_interval_start=")) == 31)
      assert((afterTwo.jobs, afterTwo.tasks) == (afterThirty.jobs, afterThirty.tasks),
        s"${afterTwo.summary} / ${afterThirty.summary}")
      val history = (readAfterTwo ++ readAfterThirty).filter(f => f.contains(s"$dir/raw") ||
        f.contains(s"$dir/marts"))
      assert(history.isEmpty, history.mkString("\n"))
    }
  }

  test("the file-sourced path: a raw id duplicated across landing files fails the gate " +
    "and publishes nothing; a clean multi-file batch passes") {
    withTempDir("wp-files") { dir =>
      /** Lands each frame as one JSON file under `root` and reads them back,
        * one scan partition per file. */
      def landFiles(root: String, files: DataFrame*): DataFrame = {
        files.foreach(_.coalesce(1).write.mode("append").json(root))
        val landed = spark.read.schema("city STRING, raw_json STRING").json(root)
        assert(landed.rdd.getNumPartitions == files.size)
        landed
      }
      val clean = landFiles(s"$dir/clean", payloads.limit(2), payloads.filter($"city" === "Tokyo"))
      WeatherPipeline.runBatch(clean, t0, now, s"$dir/clean_out")
      assert(spark.read.parquet(s"$dir/clean_out/raw/weather").count() == 3)
      assert(spark.read.parquet(s"$dir/clean_out/marts/fct_weather_observations").count() == 3)
      // each file's rows are unique on their own; the two Paris rows
      // collide only once the partitions' observed keys are merged
      def paris(temp: Int) = Seq(("Paris", payload("Paris", "France", temp, "sunny"))).toDF("city", "raw_json")
      val dup = landFiles(s"$dir/dup", paris(18).union(payloads.filter($"city" === "London")), paris(19))
      val e = intercept[IllegalArgumentException](WeatherPipeline.runBatch(dup, t0, now, s"$dir/dup_out"))
      assert(failedChecks(e) == Seq("raw_weather.unique_id"), e.getMessage)
      assert(Option(new java.io.File(s"$dir/dup_out").list()).forall(_.isEmpty))
    }
  }

  test("a day on which every city is skipped publishes nothing") {
    import graft.pipeline.WeatherFetcher.FakeFetcher
    val failAll = new FakeFetcher(Map.empty) // every fetch throws
    val cities = Seq("Paris", "London")
    val day2 = Timestamp.valueOf("2024-06-03 09:00:00")
    // after a normal day, the empty day leaves the dim as it was
    withTempDir("wp-empty") { dir =>
      WeatherPipeline.runDaily(spark, new FakeFetcher(Map(
        "Paris" -> payload("Paris", "France", 18, "sunny"))), Seq("Paris"), t0, now, dir)
      def dimRows = spark.read.parquet(s"$dir/marts/dim_locations").collect().toSet
      val before = dimRows
      assert(before.size == 1)
      val results = WeatherPipeline.runDaily(spark, failAll, cities, t0, day2, dir, retries = 1)
      assert(results.map(_.city) == cities && results.forall(_.rawJson.isEmpty))
      assert(dimRows == before)
      assert(spark.read.parquet(s"$dir/marts/fct_weather_observations").count() == 1)
      // as the first day of a fresh root, it creates no marts dir
      withTempDir("wp-empty-fresh") { fresh =>
        WeatherPipeline.runDaily(spark, failAll, cities, t0, now, fresh, retries = 0)
        assert(!new java.io.File(s"$fresh/marts").exists())
      }
    }
  }

  test("raw keeps one copy of each interval: a re-run replaces that interval's raw rows") {
    withTempDir("wp-raw") { dir =>
      def batch(cities: (String, String)*): DataFrame =
        cities.map { case (c, country) => (c, payload(c, country, 18, "sunny")) }
          .toDF("city", "raw_json")
      val (t1, now1) = (Timestamp.valueOf("2024-06-03 08:30:00"), Timestamp.valueOf("2024-06-03 09:00:00"))
      WeatherPipeline.runBatch(batch("Paris" -> "France", "Tokyo" -> "Japan"), t0, now, dir)
      WeatherPipeline.runBatch(batch("Paris" -> "France"), t1, now1, dir)
      WeatherPipeline.runBatch(batch("Paris" -> "France"), t1, now1, dir) // the day-2 retry
      val raw = spark.read.parquet(s"$dir/raw/weather")
      assert(raw.count() == 3)
      assert(raw.select("id").distinct().count() == 3)
    }
  }

  test("re-running an interval on a later date replaces that interval's fct rows and only them") {
    withTempDir("wp-dyn") { dir =>
      val (t1, day2) = (Timestamp.valueOf("2024-06-03 08:30:00"), Timestamp.valueOf("2024-06-03 09:00:00"))
      def oneCity(c: String, country: String): DataFrame =
        Seq((c, payload(c, country, 22, "sunny"))).toDF("city", "raw_json")
      WeatherPipeline.runBatch(payloads, t0, now, dir)                    // interval t0: 3 rows
      WeatherPipeline.runBatch(oneCity("Oslo", "Norway"), t1, day2, dir) // interval t1: 1 row
      WeatherPipeline.runBatch(oneCity("Rome", "Italy"), t0, day2, dir)  // t0 again, on day 2
      def fct = spark.read.parquet(s"$dir/marts/fct_weather_observations")
      val raw = spark.read.parquet(s"$dir/raw/weather")
      assert(fct.collect().toSet ==
        WeatherPipeline.fctWeatherObservations(WeatherPipeline.stgWeather(raw)).collect().toSet)
      assert(fct.filter($"data_interval_start" === t0).count() == 1)
      assert(fct.filter($"data_interval_start" === t1).count() == 1)
      // re-run t0 with the same batch → still 1 row for that interval, not 2
      WeatherPipeline.runBatch(oneCity("Rome", "Italy"), t0, day2, dir)
      assert(fct.count() == 2)
    }
  }
}
