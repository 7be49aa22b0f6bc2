package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loaders for the driver test tables (TESTDATA.md): one parquet file per
  * table under `$dir/`. Reads are plain `spark.read.parquet` so Catalyst
  * owns pushdown/pruning; at cluster scale the same call works on a
  * directory of many files.
  */
object Tables {
  // `spark.read.parquet` lists files and reads footers for schema at
  // DataFrame-creation time — a fixed per-call driver cost that the
  // 261-query registry pays hundreds of times for the same ten tables.
  // Memoize the analyzed handle per (session, dir, table); the returned
  // plan is immutable, so sharing it is safe, and identical plans also
  // let CacheManager/exchange-reuse kick in across queries.
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    memo.computeIfAbsent((System.identityHashCode(spark), dir, name), { _ =>
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeTs(raw) else raw
    })

  // Engine-wide contract: `events.ts` surfaces as epoch-NANOS BIGINT.
  // The driver's parquet has shipped as both TIMESTAMP(NANOS) (arrives
  // as LongType under the session's nanosAsLong flag — already the
  // contract) and timestamp[us] (arrives as TIMESTAMP_NTZ / TIMESTAMP).
  // Normalize the latter here, once, instead of per call site: session
  // timezone is pinned UTC (Sessions.build), so the NTZ→LTZ cast is the
  // identity on the wall-clock and unix_micros*1000 is exact. Scoped to
  // the EVENTS table only — a future driver table with a legitimate
  // timestamp column named `ts` must keep its type and wall-clock
  // semantics (matching on column name alone would silently rewrite it).
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(dt) if dt == TimestampNTZType || dt == TimestampType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
