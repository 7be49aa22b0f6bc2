package graft.pipeline

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.{DriverWrite, SparkSpec}

/** The driver-held write path against `df.write`: the same observed model
  * frames, written once by each, give the same tables. */
class DriverWriteSpec extends SparkSpec {

  private def payload(city: String, country: String, temp: Int): String =
    s"""{"location":{"name":"$city","country":"$country"},
       |"current":{"temperature":$temp,"weather_descriptions":["light rain"],
       |"humidity":50,"wind_speed":10,"wind_dir":"NW","pressure":1013,
       |"visibility":10,"uv_index":4,"observation_time":"08:30 AM"}}""".stripMargin

  private val payloadSchema = StructType(Seq(
    StructField("city", StringType), StructField("raw_json", StringType)))

  /** Every file under `root`, by its dir relative to `root`, with the
    * write's uuid masked: the layout a reader lists. */
  private def layout(root: java.io.File): Map[String, Seq[String]] = {
    val base = root.toPath
    java.nio.file.Files.walk(base).iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .toSeq.groupBy(f => base.relativize(f.getParent).toString)
      .map { case (dir, fs) => dir -> fs.map(_.getFileName.toString
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")).sorted }
  }

  /** Each data file's length, parquet schema, key-value metadata and row
    * count, by its dir relative to `root`. */
  private def footers(spark: SparkSession, root: java.io.File): Map[String, Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = root.toPath
    java.nio.file.Files.walk(base).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      .groupBy(f => base.relativize(f.getParent).toString)
      .map { case (dir, fs) => dir -> fs.map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toUri), conf))
        try {
          val meta = reader.getFooter.getFileMetaData
          s"${f.toFile.length} ${meta.getSchema} ${meta.getKeyValueMetaData.asScala.toSeq.sorted} " +
            reader.getRecordCount
        } finally reader.close()
      }.sorted }
  }

  /** Ingests `payloads` at interval `t` in `spark`, writes each written
    * model's observed frame of the driver-held batch with
    * `DriverWrite.parquet` under `<dir>/driver` and with `df.write` under
    * `<dir>/spark`, asserts that the two outputs match, and returns the
    * per-model observed counts and read-back row counts. */
  private def parity(spark: SparkSession, payloads: Seq[(String, String)], t: Timestamp,
                     dir: String): Map[String, (Seq[(String, Long)], Long)] = {
    val frame = spark.createDataFrame(payloads.map { case (c, j) => Row(c, j) }.asJava, payloadSchema)
    val ingested = WeatherPipeline.ingest(frame, t, Timestamp.valueOf("2024-06-02 09:00:00"))
    val raw = WeatherPipeline.held(spark,
      ingested.queryExecution.optimizedPlan.asInstanceOf[LocalRelation])
    val conf = bridge.hadoopConf(spark)
    val viaDriver = WeatherPipeline.observed(raw).map { case (m, checks, df) =>
      val (schema, rows) = bridge.collectInternal(df)
      DriverWrite.parquet(df.sparkSession, schema, rows, new Path(s"$dir/driver/${m.path}"),
        m.partitionedBy, conf)
      m -> checks.counts
    }
    val viaSpark = WeatherPipeline.observed(raw).map { case (m, checks, df) =>
      df.write.partitionBy(m.partitionedBy.toSeq: _*).parquet(s"$dir/spark/${m.path}")
      m -> checks.counts
    }
    assert(viaDriver.map(_._2) == viaSpark.map(_._2))
    viaDriver.map { case (m, counts) =>
      val (d, s) = (new java.io.File(s"$dir/driver/${m.path}"), new java.io.File(s"$dir/spark/${m.path}"))
      assert(layout(d) == layout(s), m.relation)
      assert(layout(d).get("").exists(_.contains("_SUCCESS")), m.relation)
      assert(footers(spark, d) == footers(spark, s), m.relation)
      val rows = if (!layout(d).values.flatten.exists(_.endsWith(".parquet"))) 0L else {
        val (rd, rs) = (spark.read.parquet(d.toString), spark.read.parquet(s.toString))
        assert(rd.schema == rs.schema, m.relation)
        val (a, b) = (rd.collect().toSeq.map(_.toString).sorted, rs.collect().toSeq.map(_.toString).sorted)
        assert(a == b, m.relation)
        a.size.toLong
      }
      m.name -> (counts, rows)
    }.toMap
  }

  private def counts(checks: (String, Long)*): Seq[(String, Long)] = checks

  test("a day's raw, dim and fct: the driver write equals df.write, observations included") {
    withTempDir("dw-day") { dir =>
      val day = Seq("Paris" -> "France", "Paris" -> "France", "London" -> "United Kingdom",
        "Tokyo" -> "Japan").map { case (c, country) => c -> payload(c, country, 18) } ++
        Seq("ErrCity" -> """{"error":{"code":615,"info":"request failed"}}""",
          "Hot City" -> payload("Hot City", "X", 75))
      val out = parity(spark, day, Timestamp.valueOf("2024-06-02 08:30:00"), dir)
      // the duplicated Paris id is counted by both writes
      assert(out("weather") == (counts("unique_id" -> 1L, "not_null_id" -> 0L,
        "not_null_city" -> 0L, "not_null_extracted_at" -> 0L), 5L))
      assert(out("dim_locations")._2 == 3L && out("fct_weather_observations")._2 == 4L)
    }
  }

  test("a non-UTC session and an interval with fractional seconds: partition dirs named alike") {
    val session = spark.newSession()
    session.conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "America/St_Johns") // UTC-2:30 in June
    withTempDir("dw-tz") { dir =>
      val t = Timestamp.from(java.time.Instant.parse("2024-06-02T08:30:15.250Z"))
      parity(session, Seq("Oslo" -> payload("Oslo", "Norway", 12)), t, dir)
      for (table <- Seq("raw/weather", "marts/fct_weather_observations"))
        assert(layout(new java.io.File(s"$dir/driver/$table")).keySet ==
          Set("", "data_interval_start=2024-06-02 06%3A00%3A15.25"), table)
    }
  }

  test("an fct with zero in-range rows and an empty dim are written alike") {
    withTempDir("dw-empty") { dir =>
      val out = parity(spark, Seq("Hot City" -> payload("Hot City", "X", 75)),
        Timestamp.valueOf("2024-06-02 08:30:00"), dir)
      assert(out.map { case (m, (_, rows)) => m -> rows } ==
        Map("weather" -> 1L, "dim_locations" -> 0L, "fct_weather_observations" -> 0L))
      // an empty dim keeps one file with its schema; an empty fct has no partition dir
      assert(layout(new java.io.File(s"$dir/driver/marts/dim_locations"))("").count(_.endsWith(".parquet")) == 1)
      assert(layout(new java.io.File(s"$dir/driver/marts/fct_weather_observations")) ==
        Map("" -> Seq("._SUCCESS.crc", "_SUCCESS")))
    }
  }

  test("the near-dup admitted and store shapes, empty included: the rows-level write equals df.write") {
    val admitted = StructType(Seq(StructField("id", LongType), StructField("simhash", StringType)))
    val store = StructType(Seq(StructField("simhash", StringType)))
    val conf = bridge.hadoopConf(spark)
    withTempDir("dw-neardup") { dir =>
      for ((name, schema, rows) <- Seq(
             ("admitted", admitted, Seq(Row(1L, "0110100111010010"), Row(3L, "1100101000111101"))),
             ("store", store, Seq(Row("0110100111010010"), Row("1100101000111101"))),
             ("admitted-empty", admitted, Nil), ("store-empty", store, Nil))) {
        val internal = rows.map(r => InternalRow.fromSeq(r.toSeq.map {
          case v: String => UTF8String.fromString(v)
          case v => v
        }))
        DriverWrite.parquet(spark, schema, internal, new Path(s"$dir/driver/$name"), None, conf)
        spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(s"$dir/spark/$name")
        val (d, s) = (new java.io.File(s"$dir/driver/$name"), new java.io.File(s"$dir/spark/$name"))
        assert(layout(d) == layout(s), name)
        // one schema-carrying file, even with no rows
        assert(layout(d)("").count(_.endsWith(".parquet")) == 1, name)
        assert(footers(spark, d) == footers(spark, s), name)
        assert(spark.read.parquet(d.toString).collect().toSet == rows.toSet, name)
      }
    }
  }
}
