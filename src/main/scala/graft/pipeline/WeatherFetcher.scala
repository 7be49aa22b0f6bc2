package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Driver-side fetch seam for the reference's per-city HTTP loop
  * (reference: dags/weatherstack_full_pipeline.py:58-116 — requests.get +
  * raise_for_status per city, API error envelopes logged and skipped,
  * task-level retries=2 from default_args :17).
  *
  * The HTTP GET is orchestrator code in the reference too — Spark's job
  * starts at the payload rows — so the seam is a plain trait: a real
  * implementation wraps an HTTP client; tests and offline runs use
  * [[WeatherFetcher.FakeFetcher]] (this container has no egress). Same
  * seam pattern as multimodal.MediaDecoder.
  */
trait WeatherFetcher {

  /** Raw current-weather JSON for one city. Implementations THROW on
    * transport errors (the raise_for_status contract); API-level error
    * envelopes are ordinary payloads — `ingest`'s error filter routes
    * them out downstream, exactly like the reference's 'error'-key check. */
  def fetch(city: String): String
}

object WeatherFetcher {

  /** Outcome of one city's fetch: `rawJson` empty ⇒ the city was skipped
    * after exhausting retries (the reference's log-and-continue). */
  final case class FetchResult(city: String, rawJson: Option[String],
                               error: Option[String], attempts: Int)

  /** The reference loop: each city is attempted up to 1 + `retries`
    * times; a city that keeps failing is logged and SKIPPED — one bad
    * city never fails the batch (dags/weatherstack_full_pipeline.py:115-116).
    */
  def fetchAll(fetcher: WeatherFetcher, cities: Seq[String], retries: Int = 2,
               log: String => Unit = _ => ()): Seq[FetchResult] =
    cities.map { city =>
      var attempt = 0
      var out: Option[String] = None
      var err: Option[String] = None
      while (out.isEmpty && attempt <= retries) {
        attempt += 1
        try { out = Some(fetcher.fetch(city)); err = None }
        catch {
          case e: Exception =>
            err = Some(e.getMessage)
            log(s"fetch failed for $city (attempt $attempt): ${e.getMessage}")
        }
      }
      FetchResult(city, out, err, attempt)
    }

  /** The rows of [[payloads]]: one fetched payload per city. */
  private val payloadRowSchema: StructType = StructType(Seq(
    StructField("city", StringType), StructField("raw_json", StringType)))

  /** Successful fetches → the (city, raw_json) payload frame `ingest`
    * consumes; skipped cities drop out (the reference's `continue`).
    * The rows are built against [[payloadRowSchema]], with no encoder
    * derived by reflection, and the frame is a `LocalRelation`, so
    * `ingest` over it folds on the driver. */
  def payloads(spark: SparkSession, results: Seq[FetchResult]): DataFrame =
    spark.createDataFrame(results.collect { case FetchResult(city, Some(json), _, _) =>
      Row(city, json) }.asJava, payloadRowSchema)

  /** Deterministic in-memory fetcher for tests/offline runs: canned
    * payload per city; `failFirst(city) = n` makes the first n attempts
    * throw (transient-failure simulation); unknown cities always throw
    * (permanent-failure simulation). */
  final class FakeFetcher(canned: Map[String, String],
                          failFirst: Map[String, Int] = Map.empty) extends WeatherFetcher {
    private val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

    override def fetch(city: String): String = {
      counts(city) += 1
      if (counts(city) <= failFirst.getOrElse(city, 0))
        throw new RuntimeException(s"simulated transient failure ${counts(city)} for $city")
      canned.getOrElse(city,
        throw new RuntimeException(s"no such city: $city"))
    }

    /** Attempts observed per city (for retry-semantics assertions). */
    def attempts(city: String): Int = counts(city)
  }
}
