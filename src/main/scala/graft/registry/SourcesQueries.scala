package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational

import SharedSpark._

/** The weather pipeline's source and staging layer. */
object SourcesQueries extends Module("sources") {

  private def qAntiAcceptedValues(s: SparkSession, d: String): DataFrame =
    Relational.acceptedValuesViolations(
      t(s, d, "events"), "event_type", Seq("click", "view", "purchase", "signup"))
      .select(col("event_id"), col("event_type"))
      .orderBy(col("event_id"))
  query("q_anti_accepted_values", qAntiAcceptedValues,
    """SELECT event_id, event_type FROM events
      |WHERE event_type IS NOT NULL
      |  AND event_type NOT IN ('click', 'view', 'purchase', 'signup')
      |ORDER BY event_id""".stripMargin)

  /** Native session_window sessionization (the built-in merging session
    * operator — one exchange; an event at exactly gap distance starts a
    * NEW session, the strictness the oracle mirrors). */
  private def qSessionWindow(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("tsc"))
      .groupBy(col("user_id"), session_window(col("tsc"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n_events"))
      .orderBy(col("user_id"), col("start_us"))
  // native session_window: an event at EXACTLY gap distance starts a
  // new session (brk on >=), end = last event + gap
  query("q_session_window", qSessionWindow,
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |m AS (SELECT user_id, us,
      |        CASE WHEN lag(us) OVER w IS NULL
      |               OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |s AS (SELECT user_id, us,
      |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
      |                       ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM m)
      |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin)

  /** The REFERENCE-CORE pipeline (ingest → stg_weather) under the hard
    * oracle gate: raw Weatherstack payloads are synthesized closed-form
    * from doc_id (ref: dags/weatherstack_full_pipeline.py:80-107 payload
    * shape), pushed through the REAL from_json ingest and the staging
    * model (dbt/models/staging/stg_weather.sql), and the oracle recomputes
    * every staged column from the same arithmetic — so JSON parsing,
    * error-envelope routing (doc_id%9), malformed-payload routing
    * (doc_id%11), the -50..60 plausibility filter (temps span -55..64),
    * all four ILIKE categories and every temperature band are all
    * result-verified, not just spec'd. `id` (xxhash64 surrogate) is
    * excluded: not portably recomputable — its uniqueness is dbt-tested. */
  private def qWeatherStg(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"))
    val descs = array(lit("sunny spells"), lit("light rain"), lit("cloudy sky"), lit("mist"))
    val dirs = array(Seq("N", "NE", "E", "SE", "S", "SW", "W", "NW").map(lit(_)): _*)
    def m(n: Int): org.apache.spark.sql.Column = pmod(col("doc_id"), lit(n.toLong))
    val payload = struct(
      struct(concat(lit("City "), col("doc_id")).as("name"),
        concat(lit("Country "), m(7)).as("country")).as("location"),
      struct((m(120) - 55).cast("int").as("temperature"),
        array(element_at(descs, m(4).cast("int") + 1)).as("weather_descriptions"),
        m(101).cast("int").as("humidity"),
        m(40).cast("int").as("wind_speed"),
        element_at(dirs, m(8).cast("int") + 1).as("wind_dir"),
        (m(60) + 980).cast("int").as("pressure"),
        m(16).cast("int").as("visibility"),
        m(12).cast("int").as("uv_index"),
        concat(lpad((m(12) + 1).cast("string"), 2, "0"), lit(":"),
          lpad(m(60).cast("string"), 2, "0"),
          when(m(2) === 0, lit(" AM")).otherwise(lit(" PM"))).as("observation_time"))
        .as("current"))
    val raw = docs.select(
      concat(lit("City "), col("doc_id")).as("city"),
      when(m(9) === 0, lit("""{"error":{"code":615,"info":"no data"}}"""))
        .when(m(11) === 1, lit("this is not json {"))
        .otherwise(to_json(payload)).as("raw_json"))
    val dis = java.sql.Timestamp.from(java.time.Instant.parse("2026-03-01T09:00:00Z"))
    val now = java.sql.Timestamp.from(java.time.Instant.parse("2026-03-01T10:30:00Z"))
    pipeline.WeatherPipeline.stgWeather(pipeline.WeatherPipeline.ingest(raw, dis, now))
      .drop("id")
      .orderBy(col("city_clean"))
  }
  // Reference-core ingest + staging mirror: every staged column
  // recomputed from the closed-form doc_id arithmetic that synthesized
  // the JSON payload — parsing, error/malformed routing, plausibility
  // filter, ILIKE categories, bands, 12-hour time parse all verified.
  query("q_weather_stg", qWeatherStg,
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 120 - 55 AS INTEGER) AS temperature,
      |         (['sunny spells','light rain','cloudy sky','mist'])[CAST(doc_id % 4 AS INTEGER) + 1] AS descr,
      |         (['N','NE','E','SE','S','SW','W','NW'])[CAST(doc_id % 8 AS INTEGER) + 1] AS wdir
      |  FROM documents
      |  WHERE doc_id % 9 <> 0 AND doc_id % 11 <> 1),
      |f AS (SELECT * FROM d WHERE temperature BETWEEN -50 AND 60)
      |SELECT trim(upper('City ' || CAST(doc_id AS VARCHAR))) AS city_clean,
      |       trim(upper('Country ' || CAST(doc_id % 7 AS VARCHAR))) AS country_clean,
      |       temperature,
      |       CASE WHEN lower(descr) LIKE '%sunny%' THEN 'Clear'
      |            WHEN lower(descr) LIKE '%rain%' THEN 'Rain'
      |            WHEN lower(descr) LIKE '%cloud%' THEN 'Cloudy'
      |            ELSE trim(descr) END AS weather_category,
      |       CAST(doc_id % 101 AS INTEGER) AS humidity,
      |       CAST(doc_id % 40 AS INTEGER) AS wind_speed,
      |       wdir AS wind_direction,
      |       CAST(980 + doc_id % 60 AS INTEGER) AS pressure,
      |       CAST(doc_id % 16 AS INTEGER) AS visibility,
      |       CAST(doc_id % 12 AS INTEGER) AS uv_index,
      |       make_timestamp(1970, 1, 1,
      |         CASE WHEN doc_id % 2 = 0
      |              THEN CASE WHEN doc_id % 12 + 1 = 12 THEN 0 ELSE doc_id % 12 + 1 END
      |              ELSE CASE WHEN doc_id % 12 + 1 = 12 THEN 12 ELSE doc_id % 12 + 13 END
      |         END,
      |         doc_id % 60, 0) AS observation_time,
      |       TIMESTAMP '2026-03-01 10:30:00' AS extracted_at,
      |       TIMESTAMP '2026-03-01 09:00:00' AS data_interval_start,
      |       CASE WHEN temperature <= -1 THEN 'Freezing'
      |            WHEN temperature BETWEEN 0 AND 10 THEN 'Cold'
      |            WHEN temperature BETWEEN 11 AND 20 THEN 'Mild'
      |            WHEN temperature BETWEEN 21 AND 30 THEN 'Warm'
      |            ELSE 'Hot' END AS temperature_category,
      |       DATE '2026-03-01' AS extraction_date
      |FROM f
      |ORDER BY city_clean""".stripMargin)
}
