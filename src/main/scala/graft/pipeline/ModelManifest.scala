package graft.pipeline

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** dbt-docs-style lineage/catalog artifact (reference: the DAG's
  * `dbt docs generate` task, dags/weatherstack_full_pipeline.py:165-169,
  * and the exposures block in dbt/models/marts/schema.yml:44-72): one
  * node per model of `WeatherPipeline.models`, with its layer (schema),
  * output columns, upstream and data-quality tests. The columns come from
  * the models' real builders run over an empty payload frame, so the
  * manifest cannot drift from the code the way a hand-written YAML can.
  */
object ModelManifest {

  final case class Node(name: String, layer: String, columns: Seq[(String, String)],
                        dependsOn: Seq[String], tests: Seq[String])

  def models(spark: SparkSession): Seq[Node] = {
    val t0 = Timestamp.valueOf("1970-01-01 00:00:00")
    val payloads = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("city", StringType), StructField("raw_json", StringType))))
    WeatherPipeline.frames(WeatherPipeline.ingest(payloads, t0, t0)).map { case (m, df) =>
      Node(m.relation, m.schema, df.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString),
        Seq(m.upstream), m.tests.map(_.name))
    }
  }

  /** Render the manifest as JSON (no external libs; names/types contain
    * no characters needing escapes beyond the standard set). */
  def toJson(ms: Seq[Node]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    ms.map { m =>
      val cols = arr(m.columns.map { case (n, t) => s"""{"name":${q(n)},"type":${q(t)}}""" })
      s"""{"name":${q(m.name)},"layer":${q(m.layer)},"columns":$cols,""" +
        s""""depends_on":${arr(m.dependsOn.map(q))},"tests":${arr(m.tests.map(q))}}"""
    }.mkString("""{"models":[""", ",", "]}")
  }

  /** `dbt docs generate` equivalent: write manifest.json under `outDir`, a
    * path or URI on its Hadoop `FileSystem`. */
  def write(spark: SparkSession, outDir: String): Unit = {
    val file = new Path(outDir, "manifest.json")
    val out = graft.Fs.of(spark, file).create(file, true)
    try out.write(toJson(models(spark)).getBytes("UTF-8")) finally out.close()
  }
}
