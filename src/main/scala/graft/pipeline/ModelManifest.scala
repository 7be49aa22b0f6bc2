package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** dbt-docs-style lineage/catalog artifact (reference: the DAG's
  * `dbt docs generate` task, dags/weatherstack_full_pipeline.py:165-169,
  * and the exposures block in dbt/models/marts/schema.yml:44-72): one
  * entry per model with its layer, output schema, upstream dependencies
  * and data-quality tests.
  *
  * Schemas are derived from the REAL pipeline transforms applied to an
  * empty payload frame, and tests are the names of the contracts
  * `runBatch` gates on — the manifest can never drift from the code the
  * way a hand-written YAML can.
  */
object ModelManifest {

  final case class Model(name: String, layer: String,
                         columns: Seq[(String, String)], dependsOn: Seq[String],
                         tests: Seq[String])

  /** The three-layer lineage: source → raw → staging → {dim, fct}. */
  def models(spark: SparkSession): Seq[Model] = {
    val t0 = Timestamp.valueOf("1970-01-01 00:00:00")
    val payloads = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("city", StringType), StructField("raw_json", StringType))))
    val raw = WeatherPipeline.ingest(payloads, t0, t0)
    val stg = WeatherPipeline.stgWeather(raw)
    val dim = WeatherPipeline.dimLocations(stg)
    val fct = WeatherPipeline.fctWeatherObservations(stg)
    def cols(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
    Seq(
      Model("raw.weather", "raw", cols(raw), Seq("source.weatherstack_api"),
        WeatherPipeline.rawWeatherTests.map(_.name)),
      Model("staging.stg_weather", "staging", cols(stg), Seq("raw.weather"), Nil),
      Model("marts.dim_locations", "marts", cols(dim), Seq("staging.stg_weather"),
        WeatherPipeline.dimLocationsTests.map(_.name)),
      Model("marts.fct_weather_observations", "marts", cols(fct), Seq("staging.stg_weather"),
        WeatherPipeline.fctWeatherObservationsTests.map(_.name)))
  }

  /** Render the manifest as JSON (no external libs; names/types contain
    * no characters needing escapes beyond the standard set). */
  def toJson(ms: Seq[Model]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    ms.map { m =>
      val cols = m.columns.map { case (n, t) => s"{${q("name")}:${q(n)},${q("type")}:${q(t)}}" }
        .mkString("[", ",", "]")
      val deps = m.dependsOn.map(q).mkString("[", ",", "]")
      val tests = m.tests.map(q).mkString("[", ",", "]")
      s"{${q("name")}:${q(m.name)},${q("layer")}:${q(m.layer)}," +
        s"${q("columns")}:$cols,${q("depends_on")}:$deps,${q("tests")}:$tests}"
    }.mkString("{\"models\":[", ",", "]}")
  }

  /** `dbt docs generate` equivalent: write manifest.json under `outDir`. */
  def write(spark: SparkSession, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/manifest.json"), toJson(models(spark)))
    ()
  }
}
