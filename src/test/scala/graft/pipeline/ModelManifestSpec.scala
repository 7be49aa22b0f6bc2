package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class ModelManifestSpec extends SparkSpec {

  test("manifest covers the three-layer lineage with real schemas") {
    val ms = ModelManifest.models(spark)
    assert(ms.map(_.name) == Seq("raw.weather", "staging.stg_weather",
      "marts.dim_locations", "marts.fct_weather_observations"))
    val byName = ms.map(m => m.name -> m).toMap
    assert(byName("staging.stg_weather").dependsOn == Seq("raw.weather"))
    assert(byName("marts.dim_locations").dependsOn == Seq("staging.stg_weather"))
    assert(byName("marts.fct_weather_observations").dependsOn == Seq("staging.stg_weather"))
    // schemas come from the live transforms
    assert(byName("raw.weather").columns.map(_._1).take(3) == Seq("id", "city", "country"))
    assert(byName("staging.stg_weather").columns.exists(_ == ("temperature_category", "string")))
    assert(byName("marts.dim_locations").columns.map(_._1).contains("location_key"))
    assert(byName("marts.fct_weather_observations").columns
      .exists(_ == ("day_of_week", "int")))
    // tests are the contracts runBatch gates on
    assert(byName("marts.fct_weather_observations").tests == Seq(
      "not_null_observation_id", "not_null_location_key", "not_null_extracted_at",
      "accepted_values_temperature_category", "in_range_temperature"))
    assert(byName("raw.weather").tests.contains("unique_id"))
    assert(byName("staging.stg_weather").tests.isEmpty)
  }

  /** The expected manifest.json, byte for byte. A change to the models
    * changes it on purpose: regenerate it from `ModelManifest.write`. */
  private val golden = new String(
    getClass.getResourceAsStream("manifest.json").readAllBytes(), "UTF-8")

  test("manifest.json is written and structurally sound") {
    withTempDir("manifest") { dir =>
      ModelManifest.write(spark, dir)
      assert(Files.readString(Paths.get(s"$dir/manifest.json")) == golden)
    }
  }

  test("manifest.json is written under an output root given as a file: URI") {
    withTempDir("manifest-uri") { dir =>
      val uri = new java.io.File(dir).toURI.toString
      assert(uri.startsWith("file:/"))
      ModelManifest.write(spark, s"${uri}out")
      assert(Files.readString(Paths.get(s"$dir/out/manifest.json")) == golden)
      assert(!Files.exists(Paths.get("file:")))
    }
  }
}
