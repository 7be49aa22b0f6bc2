package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark helpers used by the queries of more than one module. */
object SharedSpark {

  private[registry] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** The driver's document/embedding files are single-row-group parquet —
    * one input split no matter the cluster size — so CPU-heavy per-row
    * pipelines (md5 chains, shingle explosion, regex scans) would run on
    * one core. Hash-repartitioning by id first costs a sub-MB shuffle and
    * spreads the narrow work across all cores; content is unchanged. On a
    * real multi-file corpus the scan already yields enough splits and this
    * becomes a cheap no-op-ish rebalance. */
  private[graft] def spread(df: DataFrame, idCol: String): DataFrame =
    df.repartition(Par.widthFor(df), col(idCol))
}
