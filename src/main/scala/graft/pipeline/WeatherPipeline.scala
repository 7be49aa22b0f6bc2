package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Airflow task chain becomes `ingest → stg → {dim, fct}`, gated by the
  * models' dbt tests declared as `quality.Checks` contracts
  * (`rawWeatherTests`, `dimLocationsTests`, `fctWeatherObservationsTests`).
  * At scale the mart writes partition by `extraction_date` so daily
  * re-runs overwrite one partition instead of the table.
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
             now: Timestamp): DataFrame = {
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
        xxhash64(coalesce(col("j.location.name"), col("city")), lit(dataIntervalStart)).as("id"),
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
        lit(dataIntervalStart).as("data_interval_start"))
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

  /** Structured Streaming variant (SURVEY.md §7.2-5): the SAME ingest +
    * staging transforms run incrementally over a JSON landing directory —
    * Spark's unified batch/stream semantics means zero operator
    * duplication. Each micro-batch appends cleansed staging rows to a
    * date-partitioned parquet sink; marts stay periodic batch rebuilds
    * over the accumulated staging table (aggregating marts in-stream
    * would need output-mode complete — the daily-rebuild model of the
    * reference maps cleaner and keeps the sink append-only).
    *
    * Returns the started query; callers own the trigger/await policy
    * (tests use processAllAvailable over a static landing dir — the
    * Trigger.AvailableNow catch-up pattern).
    */
  def startStream(spark: org.apache.spark.sql.SparkSession,
                  landingDir: String, checkpointDir: String, outDir: String,
                  dataIntervalStart: Timestamp, now: Timestamp):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val landingSchema = StructType(Seq(
      StructField("city", StringType), StructField("raw_json", StringType)))
    val payloads = spark.readStream.schema(landingSchema).json(landingDir)
    stgWeather(ingest(payloads, dataIntervalStart, now))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .partitionBy("extraction_date")
      .outputMode("append")
      .format("parquet")
      .start(outDir)
  }

  /** End-to-end batch run mirroring the DAG's task chain
    * (dags/weatherstack_full_pipeline.py:172): ingest → raw write →
    * source gate → staging → marts → mart gate → mart writes. Each gate
    * is one `Checks.assertAll` action, which throws an
    * IllegalArgumentException naming every failing `<model>.<check>`,
    * like the DAG's failing dbt_test task.
    *
    * Scale posture: `raw` is persisted across its consumers (raw append,
    * both gates, both marts) instead of re-parsing the payloads per
    * sink, and the fact write goes through DYNAMIC partition overwrite
    * (graft.sources.IO.writePartitioned) — a daily re-run replaces only
    * the `extraction_date` partitions present in the batch, O(day) not
    * O(table).
    */
  def runBatch(payloads: DataFrame, dataIntervalStart: Timestamp, now: Timestamp,
               outDir: String): Unit = {
    val raw = ingest(payloads, dataIntervalStart, now)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      raw.write.mode("append").parquet(s"$outDir/raw/weather")
      // GATE 1 — source-tier tests (DAG step 4): a failure short-circuits
      // here, before any mart is BUILT, mirroring dbt_test >> dbt_run_marts.
      Checks.assertAll(("raw_weather", raw, rawWeatherTests))
      val stg = stgWeather(raw)
      val dim = dimLocations(stg)
      val fct = fctWeatherObservations(stg)
      // GATE 2 — marts-tier tests (DAG step 6). Stricter than the DAG by
      // design: dbt writes the marts in step 5 and validates after; here
      // the tests gate the WRITES, so a failing mart never goes live.
      Checks.assertAll(("dim_locations", dim, dimLocationsTests),
        ("fct_weather_observations", fct, fctWeatherObservationsTests))
      dim.write.mode("overwrite").parquet(s"$outDir/marts/dim_locations")
      graft.sources.IO.writePartitioned(fct, Seq("extraction_date"),
        s"$outDir/marts/fct_weather_observations")
    } finally { raw.unpersist(); () }
  }

  /** The full daily run the reference's DAG schedules: per-city fetch
    * (retry + skip-on-error, WeatherFetcher.fetchAll) → payload frame →
    * `runBatch`. Returns the fetch results so callers can log/alert on
    * skipped cities, as the reference prints per-city errors. */
  def runDaily(spark: org.apache.spark.sql.SparkSession, fetcher: WeatherFetcher,
               cities: Seq[String], dataIntervalStart: Timestamp, now: Timestamp,
               outDir: String, retries: Int = 2,
               log: String => Unit = _ => ()): Seq[WeatherFetcher.FetchResult] = {
    val results = WeatherFetcher.fetchAll(fetcher, cities, retries, log)
    runBatch(WeatherFetcher.payloads(spark, results), dataIntervalStart, now, outDir)
    results
  }
}
