package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source/sink surface (SURVEY.md §2.1 S1-S9 re-expressed):
  * schema'd readers with per-record error routing, and the two write
  * layouts that matter at 100 TB — partitioned overwrite (daily
  * incremental rebuilds touch one partition, S9) and bucketed tables
  * (pre-shuffled layout so repeated equi-joins/aggregations on the bucket
  * key skip their exchange).
  */
object IO {

  /** Corrupt-record column name used by permissive reads. */
  val CorruptCol = "_corrupt_record"

  /** JSON lines → rows under an explicit contract schema, PERMISSIVE mode:
    * malformed records land in `_corrupt_record` instead of failing the
    * batch — the reference's skip-and-log per-record tolerance
    * (dags/weatherstack_full_pipeline.py:75-77) as a source property. */
  def readJsonPermissive(spark: SparkSession, schema: StructType,
                         path: String): DataFrame =
    spark.read
      .schema(schema.add(StructField(CorruptCol, StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** Split a permissive read into (good, bad) frames. The parsed result is
    * cached first: Spark disallows queries touching only the internal
    * corrupt-record column of a raw file scan
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the two
    * routes share one parse this way. */
  def routeErrors(df: DataFrame): (DataFrame, DataFrame) = {
    val parsed = df.cache()
    (parsed.filter(col(CorruptCol).isNull).drop(CorruptCol),
      parsed.filter(col(CorruptCol).isNotNull))
  }

  /** Parquet scan under an explicit schema — pruning/pushdown contract
    * stays with Catalyst; the schema pin keeps evolution deliberate. */
  def readParquet(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Partitioned overwrite: with dynamic partition overwrite, a re-run
    * replaces only the partitions present in `df` — the daily-rebuild
    * sink that stays O(day) instead of O(table) at scale. */
  def writePartitioned(df: DataFrame, partitionCols: Seq[String], path: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed managed table: co-locates rows by key so later equi-joins /
    * aggregations on `bucketCols` reuse the layout instead of shuffling.
    * Bucketing requires saveAsTable (metastore-backed). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Morton (Z-curve) value of two non-negative int columns: bit i of `a`
    * lands at position 2i, bit i of `b` at 2i+1. Pure integer Column
    * arithmetic (codegen, engine-portable). */
  def mortonZ(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
              bits: Int): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits=$bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ORDER clustered write: range-partition + sort the rows by the
    * Morton interleave of two dimension columns before writing, so every
    * output file covers a small RECTANGLE of the (a, b) space and its
    * parquet min/max footer stats are tight on BOTH columns — a filter on
    * either dimension then row-group-skips most files (the multi-dim
    * data-skipping layout a single-column sort can only give one
    * dimension). The spec measures the effect: a narrow second-dimension
    * filter reads an order of magnitude fewer rows from the z-ordered
    * layout than from a first-dimension-sorted one. */
  def writeZOrdered(df: DataFrame, a: String, b: String, bits: Int,
                    nFiles: Int, path: String): Unit =
    df.withColumn("__z", mortonZ(col(a), col(b), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction: rewrite a fragmented parquet directory into
    * ceil(bytes/targetBytes) files (floor 1). The file count comes from
    * the directory's ACTUAL size on its Hadoop filesystem (`inPath` is a
    * plain path or a URI), not a row guess, so the same call is right
    * for wide and narrow rows; `rebalance` is a plain round-robin
    * repartition — compaction preserves rows, not order.
    * Writes to `outPath` (a temp-and-swap in a real deployment; the
    * distributed rewrite itself is the expensive part at 100 TB, and it
    * parallelizes over the input files). Returns the file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes=$targetBytes must be positive")
    val dir = new org.apache.hadoop.fs.Path(inPath)
    val bytes = graft.Fs.of(spark, dir).listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }
}
