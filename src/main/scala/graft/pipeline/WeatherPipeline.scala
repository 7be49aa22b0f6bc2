package graft.pipeline

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.{DriverWrite, Fs}
import graft.ops.Relational
import graft.quality.Checks
import graft.quality.Checks._

/** The reference pipeline (bronze → silver → gold) re-expressed as pure
  * DataFrame functions. Reference: caphey/weather-api-automate-etl —
  * DAG `dags/weatherstack_full_pipeline.py`, models
  * `dbt/models/staging/stg_weather.sql`, and the two mart models under
  * `dbt/models/marts/` (dim_locations.sql, fct_weather_observations.sql).
  *
  * Orchestration collapses to function composition (SURVEY.md §3.1): the
  * Airflow task chain becomes the dbt graph [[models]], `raw → stg →
  * {dim, fct}`, with each model's builder and tests. [[runBatch]]'s gated
  * publish, which [[startStream]] feeds, and `ModelManifest` read it there.
  */
object WeatherPipeline {

  /** raw.weather DDL (reference: dags/weatherstack_full_pipeline.py:26-42)
    * mapped to Spark types (SURVEY.md §1.3). */
  val rawSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("city", StringType),
    StructField("country", StringType),
    StructField("temperature", IntegerType),
    StructField("weather_description", StringType),
    StructField("humidity", IntegerType),
    StructField("wind_speed", IntegerType),
    StructField("wind_direction", StringType),
    StructField("pressure", IntegerType),
    StructField("visibility", IntegerType),
    StructField("uv_index", IntegerType),
    StructField("observation_time", TimestampType),
    StructField("extracted_at", TimestampType),
    StructField("data_interval_start", TimestampType)))

  /** Weatherstack current-weather payload shape
    * (reference: dags/weatherstack_full_pipeline.py:80-107). The `error`
    * branch mirrors the API's error envelope (:75). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("location", StructType(Seq(
      StructField("name", StringType),
      StructField("country", StringType)))),
    StructField("current", StructType(Seq(
      StructField("temperature", IntegerType),
      StructField("weather_descriptions", ArrayType(StringType)),
      StructField("humidity", IntegerType),
      StructField("wind_speed", IntegerType),
      StructField("wind_dir", StringType),
      StructField("pressure", IntegerType),
      StructField("visibility", IntegerType),
      StructField("uv_index", IntegerType),
      StructField("observation_time", StringType)))),
    StructField("error", StructType(Seq(
      StructField("code", IntegerType),
      StructField("info", StringType))))))

  /** S1–S5: ingest raw JSON payloads into the raw.weather shape.
    *
    * Input: one row per (city, raw_json) fetch — the HTTP GET itself is
    * driver/orchestrator code, exactly as in the reference (requests.get,
    * :51-72); Spark's job starts at the payload.
    *
    * Semantics preserved from the reference:
    *  - error payloads are routed out, never fail the batch (:75-77);
    *    so are payloads without a `current` block: a truncated payload
    *    parses to a partial struct, where the reference's `.json()`
    *    raises and the city is skipped
    *  - location.name falls back to the queried city (:97)
    *  - weather_descriptions[0] (:100)
    *  - extracted_at default (DDL :39); injectable `now` keeps tests and
    *    verified queries deterministic (SURVEY.md §5 quarantine rule)
    */
  def ingest(payloads: DataFrame, dataIntervalStart: Timestamp,
             now: Timestamp): DataFrame =
    ingest(payloads, lit(dataIntervalStart), now)

  /** [[ingest]] with each row's interval given by `interval`. */
  private def ingest(payloads: DataFrame, interval: Column, now: Timestamp): DataFrame = {
    val j = from_json(col("raw_json"), payloadSchema)
    payloads
      .withColumn("j", j)
      .filter(col("j.error").isNull && col("j.current").isNotNull)
      .select(
        // Deterministic surrogate for the reference's SERIAL id
        // (dags/weatherstack_full_pipeline.py:27): hash of the natural key
        // (city, data_interval_start) — stable across re-runs and
        // partitionings, unlike monotonically_increasing_id. One row per
        // (city, interval) per run ⇒ unique within a batch.
        xxhash64(coalesce(col("j.location.name"), col("city")), interval).as("id"),
        coalesce(col("j.location.name"), col("city")).as("city"),
        col("j.location.country").as("country"),
        col("j.current.temperature").as("temperature"),
        element_at(col("j.current.weather_descriptions"), 1).as("weather_description"),
        col("j.current.humidity").as("humidity"),
        col("j.current.wind_speed").as("wind_speed"),
        col("j.current.wind_dir").as("wind_direction"),
        col("j.current.pressure").as("pressure"),
        col("j.current.visibility").as("visibility"),
        col("j.current.uv_index").as("uv_index"),
        to_timestamp(col("j.current.observation_time"), "hh:mm a").as("observation_time"),
        lit(now).as("extracted_at"),
        interval.as("data_interval_start"))
  }

  /** Silver: dbt/models/staging/stg_weather.sql re-expressed. */
  def stgWeather(raw: DataFrame): DataFrame =
    raw
      .filter(col("temperature").isNotNull &&
        col("temperature").between(-50, 60) &&
        col("city").isNotNull)
      .select(
        col("id"),
        Relational.normString(col("city")).as("city_clean"),
        Relational.normString(col("country")).as("country_clean"),
        col("temperature"),
        Relational.categorize(col("weather_description"),
          Seq("sunny" -> "Clear", "rain" -> "Rain", "cloud" -> "Cloudy")).as("weather_category"),
        col("humidity"),
        col("wind_speed"),
        col("wind_direction"),
        col("pressure"),
        col("visibility"),
        col("uv_index"),
        col("observation_time"),
        col("extracted_at"),
        col("data_interval_start"),
        Relational.bands(col("temperature"),
          Seq((Int.MinValue, -1, "Freezing"), (0, 10, "Cold"), (11, 20, "Mild"), (21, 30, "Warm")),
          "Hot").as("temperature_category"),
        to_date(col("extracted_at")).as("extraction_date"))

  /** Gold: dbt/models/marts/dim_locations.sql. */
  def dimLocations(stg: DataFrame): DataFrame =
    stg.groupBy(col("city_clean"), col("country_clean"))
      .agg(
        min(col("extracted_at")).as("first_observation_date"),
        max(col("extracted_at")).as("last_observation_date"),
        count(lit(1)).as("total_observations"))
      .select(
        Relational.surrogateKey(col("city_clean"), col("country_clean")).as("location_key"),
        col("city_clean").as("city"),
        col("country_clean").as("country"),
        col("first_observation_date"),
        col("last_observation_date"),
        col("total_observations"))
      .distinct() // faithful to the reference's (redundant) SELECT DISTINCT

  /** Gold: dbt/models/marts/fct_weather_observations.sql. Note the dow
    * convention: Postgres DATE_PART('dow') is 0=Sunday..6=Saturday, Spark
    * dayofweek is 1=Sunday..7 → subtract 1 (SURVEY.md §2.4 E6). */
  def fctWeatherObservations(stg: DataFrame): DataFrame =
    stg.select(
      col("id").as("observation_id"),
      Relational.surrogateKey(col("city_clean"), col("country_clean")).as("location_key"),
      col("temperature"),
      col("temperature_category"),
      col("weather_category"),
      col("humidity"),
      col("wind_speed"),
      col("pressure"),
      col("extraction_date"),
      hour(col("extracted_at")).as("extraction_hour"),
      (dayofweek(col("extracted_at")) - 1).as("day_of_week"),
      col("extracted_at"),
      col("data_interval_start"))

  val TemperatureCategories = Seq("Freezing", "Cold", "Mild", "Warm", "Hot")

  /** Source-tier tests (`dbt/models/staging/_staging__sources.yml`), the
    * gate the DAG runs as `dbt test --select staging` (step 4) BEFORE
    * `dbt run --select marts` (step 5). */
  val rawWeatherTests: Seq[Check] = Seq(
    Unique(Seq("id")), NotNull("id"), NotNull("city"), NotNull("extracted_at"))

  /** Mart tests (`dbt/models/marts/schema.yml`), plus the temperature
    * plausibility range the reference left on its roadmap: it pins
    * staging's -50..60 filter as a declared invariant of the fact. */
  val dimLocationsTests: Seq[Check] = Seq(
    Unique(Seq("location_key")), NotNull("location_key"), NotNull("total_observations"))
  val fctWeatherObservationsTests: Seq[Check] = Seq(
    NotNull("observation_id"), NotNull("location_key"), NotNull("extracted_at"),
    AcceptedValues("temperature_category", TemperatureCategories),
    InRange("temperature", -50, 60))

  /** A node of the dbt graph: the relation `schema.name`, built by `build`
    * from its `upstream`'s frame and gated on `tests`; if `written`, a table
    * at `schema/name` under the output root, partitioned by `partitionedBy`. */
  final case class Model(schema: String, name: String, upstream: String,
                         build: DataFrame => DataFrame, tests: Seq[Check] = Nil,
                         partitionedBy: Option[String] = None, written: Boolean = true) {
    def relation: String = s"$schema.$name"
    def path: String = s"$schema/$name"
    /** Its tests' prefix, as dbt names them: `<source>_<table>` for the table
      * loaded from the API (dbt's source `raw.weather`), else the model's name. */
    def gateName: String = if (upstream == Source) s"${schema}_$name" else name
  }

  /** The API the raw rows are ingested from. */
  private val Source = "source.weatherstack_api"

  /** The graph in lineage order, upstreams first; raw heads it. */
  val models: Seq[Model] = Seq(
    Model("raw", "weather", Source, identity, rawWeatherTests, Some("data_interval_start")),
    Model("staging", "stg_weather", "raw.weather", stgWeather, written = false),
    Model("marts", "dim_locations", "staging.stg_weather", dimLocations, dimLocationsTests),
    Model("marts", "fct_weather_observations", "staging.stg_weather", fctWeatherObservations,
      fctWeatherObservationsTests, Some("data_interval_start")))

  /** [[models]] with their frames over the source's `ingested` rows, each built once. */
  private[pipeline] def frames(ingested: DataFrame): Seq[(Model, DataFrame)] = {
    val built = scala.collection.mutable.Map(Source -> ingested)
    models.map { m => val df = m.build(built(m.upstream)); built(m.relation) = df; m -> df }
  }

  /** The landing rows of [[startStream]]: one fetch each, tagged with the
    * interval it belongs to. */
  private val landingSchema: StructType = StructType(Seq(
    StructField("city", StringType), StructField("raw_json", StringType),
    StructField("data_interval_start", TimestampType)))

  /** Structured Streaming variant (SURVEY.md §7.2-5): [[runBatch]]'s
    * publish driven by micro-batches of a JSON landing directory of
    * [[landingSchema]] rows. Each micro-batch is ingested once, each row
    * at the interval it carries. Then, for each interval with ingested
    * rows, in interval order, the live raw rows of that interval — with
    * the rows whose `id` the micro-batch carries replaced by its rows —
    * go through the same gated publish as a `runBatch` of that interval:
    * raw, dim and fct, staged and published only if the gate passes. So
    * a later file replaces an earlier file's city in its interval, and a
    * replayed micro-batch (`foreachBatch` is at-least-once) republishes
    * the same rows. Duplicate ids inside a micro-batch fail the
    * `raw_weather.unique_id` gate, which stops the query; the intervals
    * before the failing one in that micro-batch are already published,
    * and a replay publishes them again unchanged. The dim is `runBatch`'s:
    * the last published interval's.
    *
    * Returns the started query; callers own the trigger/await policy
    * (tests use processAllAvailable over a static landing dir — the
    * Trigger.AvailableNow catch-up pattern).
    */
  def startStream(spark: SparkSession,
                  landingDir: String, checkpointDir: String, outDir: String,
                  now: Timestamp): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(landingSchema).json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (landed: Dataset[Row], _: Long) =>
        val delta = ingest(landed, col("data_interval_start"), now)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val intervals = delta.select("data_interval_start").distinct().collect()
            .map(_.getTimestamp(0)).sortBy(_.getTime)
          for (t <- intervals) {
            val rows = delta.filter(col("data_interval_start") === lit(t))
            publish(liveRaw(delta.sparkSession, outDir, t)
              .join(rows.select("id"), Seq("id"), "left_anti").unionByName(rows), outDir)
          }
        } finally delta.unpersist()
      }
      .start()

  /** The published raw rows of `interval` under `outDir`, read under
    * [[rawSchema]]. */
  private def liveRaw(spark: SparkSession, outDir: String, interval: Timestamp): DataFrame = {
    val dir = new Path(outDir, models.head.path)
    if (!Fs.of(spark, dir).exists(dir)) spark.createDataFrame(java.util.List.of[Row](), rawSchema)
    else spark.read.schema(rawSchema).parquet(dir.toString)
      .filter(col("data_interval_start") === lit(interval))
  }

  /** End-to-end batch run mirroring the DAG's task chain
    * (dags/weatherstack_full_pipeline.py:172) as ONE wave of concurrent
    * writes into one stage under `outDir`: one per written model of
    * [[models]], in list order, at its path and with its partitioning.
    * Each write observes its model's tests over the rows it writes
    * (`Checks.Observed`). Once all succeeded, the gate reads the
    * observations (`Checks.assertObserved`) in tiers, one per schema in
    * list order: if a source check (`raw_weather`, DAG step 4) fails, the
    * IllegalArgumentException names only the failing `raw_weather.*`
    * checks, because the DAG never runs the mart tests (step 6) then;
    * otherwise it names every failing mart check, sorted. Only if it
    * passes are the tables published, in list order (write–audit–publish
    * on the Hadoop `FileSystem` of `outDir`, `graft.Fs.commitTables`):
    * the dim replaces the live dim, and the staged interval of raw and of
    * the fact each replaces its live partition, leaving the other
    * intervals as they are (O(day), not O(table)). So a re-run of an
    * interval, on any date, leaves exactly its own rows in both tables,
    * and a batch that fails the gate publishes nothing, raw included.
    * Stricter than the DAG by design: dbt lands raw in step 2 and
    * validates after; here the tests gate the PUBLISH, so a failing
    * table never goes live. If a write fails, no gate runs: the first
    * error in wave order is thrown, the others suppressed.
    *
    * A batch whose ingest optimizes to a `LocalRelation` (the driver-
    * held payloads of `runDaily`) runs in a per-batch clone of the
    * caller's session with whole-stage codegen off and interpreted
    * expressions: its few rows cost less to interpret than to compile
    * for. The clone keeps the caller's runtime confs and its
    * `QueryExecutionListener`s. Code the interpreted operators still
    * generate in tasks is compiled once per JVM only if the caller's
    * session turns artifact isolation off, as `graft.Sessions.build`
    * does; otherwise every clone's tasks get their own class loader and
    * recompile it. Such a session also keeps Hadoop's forked `chmod`
    * per file and dir the writes create (`graft.LocalFs` makes it a
    * system call). The batch's `raw` is that `LocalRelation`,
    * coalesced to ONE partition and not cached: every aggregate and
    * `distinct` is then satisfied without an exchange and each action
    * is a single task. The coalesce comes after
    * `ingest`, not on the payload frame: over the payloads it would stop
    * `ConvertToLocalRelation` from folding `ingest` on the driver. Its
    * writes run no write job: each is one collect, which fires the
    * model's observation, and Spark's parquet writer run on the driver
    * (`DriverWrite`), leaving one file per table or partition dir and
    * `_SUCCESS`, as a single-task `df.write` does. A write job would
    * ship the session's Hadoop conf (about 1,100 properties, 113 KB
    * serialized) twice in its task binary, serialized on the scheduler
    * thread and deserialized in the task, and its output committer would
    * move each file through `_temporary` into the stage that the publish
    * renames again. Any other batch (JSON
    * landing files, a backfill, a stream's micro-batch) runs in the
    * caller's session with codegen, keeps its scan parallelism, is
    * persisted across its consumers instead of re-parsing the payloads
    * per action, and writes with `df.write`.
    *
    * A driver-held batch with no rows (every city skipped) returns before
    * any action: the previous day's marts stay as they are, and a fresh
    * output root gets no `raw` or `marts` dir.
    */
  def runBatch(payloads: DataFrame, dataIntervalStart: Timestamp, now: Timestamp,
               outDir: String): Unit =
    publish(ingest(payloads, dataIntervalStart, now), outDir)

  /** [[runBatch]]'s wave and publish over the raw rows `ingested`. A
    * driver-held batch (a `LocalRelation`) collects each model's rows
    * with `bridge.collectInternal`, one SQL execution, so the model's
    * observation completes as it does for a write, and writes them with
    * `DriverWrite`; any other batch writes with `df.write`. The collect
    * takes no `graft.Collect` bound, because the rows derive from the
    * `LocalRelation`'s rows, which are on the driver already, and no
    * model has more rows than raw. */
  private def publish(ingested: DataFrame, outDir: String): Unit = {
    val spark = ingested.sparkSession
    val driverHeld = ingested.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.data.isEmpty => return // nothing to publish
      case l: LocalRelation => Some(l)
      case _ => None
    }
    val raw = driverHeld match {
      case Some(l) => held(spark, l)
      case None => ingested.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val write: (DataFrame, Path, Option[String]) => Unit = driverHeld match {
      // every written model's rows derive from the rows of a
      // LocalRelation already on the driver, and none has more rows than
      // it: collecting them needs no graft.Collect bound
      case Some(_) =>
        val conf = bridge.hadoopConf(spark)
        (df, dir, partitionedBy) =>
          val (schema, rows) = bridge.collectInternal(df)
          DriverWrite.parquet(df.sparkSession, schema, rows, dir, partitionedBy, conf)
      case None => (df, dir, partitionedBy) =>
        df.write.partitionBy(partitionedBy.toSeq: _*).parquet(dir.toString)
    }
    val out = new Path(outDir)
    val fs = Fs.of(spark, out)
    try {
      val tables = observed(raw)
      Fs.commitTables(fs, out, tables.map { case (m, _, _) => (m.path, m.partitionedBy) }) { stage =>
        inParallel(tables.map { case (m, _, df) => () =>
          write(df, new Path(stage, m.path), m.partitionedBy)
        }: _*)
        Checks.assertObserved(tables.map(_._1.schema).distinct.map(schema =>
          tables.collect { case (m, checks, _) if m.schema == schema => checks }): _*)
      }
      // a rename bypasses the writers' own refresh of frames cached over a table
      tables.foreach { case (m, _, _) => spark.catalog.refreshByPath(new Path(out, m.path).toString) }
    } finally if (driverHeld.isEmpty) raw.unpersist()
  }

  /** The written models of [[models]] over the batch's `raw` rows, each
    * frame observing its model's tests (`Checks.Observed`) for one
    * action. */
  private[pipeline] def observed(raw: DataFrame): Seq[(Model, Checks.Observed, DataFrame)] =
    frames(raw).collect { case (m, df) if m.written =>
      val checks = new Checks.Observed(m.gateName, m.tests)
      (m, checks, checks.on(df))
    }

  /** The rows `l` of a driver-held batch as [[publish]] runs them: in an
    * [[interpreted]] clone of `spark`, coalesced to one partition. */
  private[pipeline] def held(spark: SparkSession, l: LocalRelation): DataFrame =
    bridge.frame(interpreted(spark), l).coalesce(1)

  /** A per-batch clone of `spark` that interprets its plans: no
    * whole-stage codegen and interpreted expressions. */
  private def interpreted(spark: SparkSession): SparkSession = {
    val s = bridge.cloneSession(spark)
    s.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "false")
    s.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
    s
  }

  /** Runs the first action on the calling thread and each other on a new
    * thread, and returns once all have ended; then throws the first
    * error in argument order, with the later ones suppressed. The
    * threads are started outside any Spark action, so they inherit no
    * `spark.sql.execution.id` and each action runs as its own SQL
    * execution. */
  private def inParallel(actions: (() => Unit)*): Unit = {
    val errs = new Array[Throwable](actions.size) // published to this thread by join
    def run(i: Int): Unit = try actions(i)() catch { case e: Throwable => errs(i) = e }
    val threads = actions.indices.tail.map { i =>
      val t = new Thread(() => run(i), "weather-pipeline-wave")
      t.setDaemon(true)
      t.start()
      t
    }
    run(0)
    threads.foreach(_.join())
    errs.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
  }

  /** The full daily run the reference's DAG schedules: per-city fetch
    * (retry + skip-on-error, WeatherFetcher.fetchAll) → payload frame →
    * `runBatch`. Returns the fetch results so callers can log/alert on
    * skipped cities, as the reference prints per-city errors. */
  def runDaily(spark: SparkSession, fetcher: WeatherFetcher,
               cities: Seq[String], dataIntervalStart: Timestamp, now: Timestamp,
               outDir: String, retries: Int = 2,
               log: String => Unit = _ => ()): Seq[WeatherFetcher.FetchResult] = {
    val results = WeatherFetcher.fetchAll(fetcher, cities, retries, log)
    runBatch(WeatherFetcher.payloads(spark, results), dataIntervalStart, now, outDir)
    results
  }
}
