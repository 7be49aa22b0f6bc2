package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark helpers used by the queries of more than one module. */
object SharedSpark {

  private[registry] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** The copy `write` makes of tables `names` of `dir`, kept as `name` in
    * [[graft.Fs.derived]]'s store: rebuilt only when a table's files
    * change. `write` gets the stage to fill, as a URI. */
  private[graft] def derivedDir(s: SparkSession, dir: String, name: String, names: String*)(
      write: String => Unit): String =
    graft.Fs.derived(s, name, names.map(Tables.path(dir, _)))(p => write(p.toString)).toString

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
