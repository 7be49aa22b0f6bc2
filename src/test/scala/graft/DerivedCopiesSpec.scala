package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, lit, regexp_replace, sha2}

import graft.registry.{MultimodalQueries, RelationalQueries, TextQueries}
import graft.streaming.{EventStream, NearDupStream}

/** Every materialized copy of a source follows the source: regenerate the
  * tables of an sf dir at the same paths, and each helper's copy, read
  * from a new session, holds the new rows, not the old ones. */
class DerivedCopiesSpec extends SparkSpec {

  /** Writes `df` as the single file `dir/<name>.parquet`, as the test tables are. */
  private def writeTable(dir: String, name: String, df: DataFrame): Unit = {
    val tmp = s"$dir/_write_$name"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(Tables.path(dir, name)), StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteRecursively(new java.io.File(tmp))
  }

  /** Writes `n` rows of orders, lineitem and documents, with the columns
    * the copies read; each document is eight distinct hex words, so its
    * simhash differs from the others'. */
  private def writeSource(dir: String, n: Int): Unit = {
    val id = spark.range(n).toDF("id")
    writeTable(dir, "orders", id.select(col("id").as("o_orderkey"), (col("id") % 7).as("o_custkey"),
      concat(lit("p"), col("id") % 5).as("o_orderpriority"), (col("id") * 1.25).as("o_totalprice"),
      expr("date_add(DATE'1995-01-01', CAST(id * 37 AS INT))").as("o_orderdate")))
    writeTable(dir, "lineitem", id.select((col("id") / 4).cast("long").as("l_orderkey"),
      (col("id") % 4).as("l_linenumber"), (col("id") * 13).as("l_partkey"),
      (col("id") * 7).as("l_suppkey"), (col("id") % 50).cast("double").as("l_quantity")))
    writeTable(dir, "documents", id.select(col("id").as("doc_id"),
      regexp_replace(sha2(col("id").cast("string"), 256), "(.{8})", "$1 ").as("text")))
  }

  /** The row (or, for the media copy, file) count of every derived copy. */
  private def copyCounts(s: SparkSession, d: String): Map[String, Long] = Map(
    "csv" -> s.read.option("header", "true").csv(RelationalQueries.csvOrdersDir(s, d)).count(),
    "json" -> s.read.json(RelationalQueries.jsonOrdersDir(s, d)).count(),
    "orc" -> s.read.orc(MultimodalQueries.orcOrdersDir(s, d)).count(),
    "by_year" -> s.read.parquet(RelationalQueries.partitionedOrdersDir(s, d)).count(),
    "zorder" -> s.read.parquet(RelationalQueries.zorderedLineitemDir(s, d)).count(),
    "compact" -> s.read.parquet(RelationalQueries.compactedLineitemDir(s, d)).count(),
    "media" -> s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
      .load(RelationalQueries.binaryMediaDir(s, d)).count(),
    "text" -> s.read.text(TextQueries.textLinesDir(s, d)).count(),
    "landing" -> s.read.parquet(
      EventStream.stageLanding(s, Tables.path(d, "orders"), "events_dup", copies = 2)).count())

  private def expected(s: SparkSession, d: String): Map[String, Long] = {
    def rows(name: String): Long = s.read.parquet(Tables.path(d, name)).count()
    val (orders, lineitem, docs) = (rows("orders"), rows("lineitem"), rows("documents"))
    Map("csv" -> orders, "json" -> orders, "orc" -> orders, "by_year" -> orders,
      "zorder" -> lineitem, "compact" -> lineitem, "media" -> docs, "text" -> docs,
      "landing" -> 2 * orders)
  }

  /** The ids the near-dup gate admits, and the source's doc ids. */
  private def nearDup(s: SparkSession, d: String): (Set[Long], Set[Long]) = {
    val docs = Tables.path(d, "documents")
    (NearDupStream.runDocNearDup16GateOnce(s, docs, maxDist = 2)
      .select("id").collect().map(_.getLong(0)).toSet,
      s.read.parquet(docs).select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("every derived copy follows its source when the source is regenerated") {
    val dir = Files.createTempDirectory("derived-copies").toString
    try {
      writeSource(dir, 120)
      val first = copyCounts(spark, dir)
      assert(first == expected(spark, dir))
      val (admitted, ids) = nearDup(spark, dir)
      assert(admitted.nonEmpty && admitted.subsetOf(ids))

      writeSource(dir, 30)
      val s2 = spark.newSession()
      val now = expected(s2, dir)
      assert(now("csv") < first("csv"))
      assert(copyCounts(s2, dir) == now)
      val (admitted2, ids2) = nearDup(s2, dir)
      assert(admitted2.nonEmpty && admitted2.subsetOf(ids2), admitted2 -- ids2)
    } finally {
      Seq("orders", "lineitem", "documents").foreach(n => Fs.dropDerived(spark, Seq(Tables.path(dir, n))))
      Fs.deleteRecursively(new java.io.File(dir))
    }
  }
}
