package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its Spark body and the DuckDB SQL that is its
  * oracle.
  *
  * The Spark body takes a session and a test-data dir and returns a
  * deterministic frame: no current_timestamp, no
  * monotonically_increasing_id, a total ORDER BY, and exact integer
  * arithmetic for any aggregated doubles, so it hash-matches the oracle
  * at any partitioning.
  *
  * The oracle SQL runs in DuckDB against views named after the test
  * tables (lineitem, orders, ...) over the same parquet the Spark body
  * reads; results are compared column-name-sorted and hashed. Rules
  * applied throughout (SURVEY.md §5):
  *   - aliases match the Spark output column names exactly;
  *   - integer-typed Spark outputs (size/length/year/row_number → INT) are
  *     CAST to INTEGER because DuckDB defaults to BIGINT;
  *   - double arithmetic mirrors the Spark expression tree operation-for-
  *     operation (IEEE doubles are deterministic given the same op order);
  *   - money sums go through round(x*100) → BIGINT (exact ints, order-free);
  *   - DuckDB date_part('dow') is already 0=Sunday like Postgres, matching
  *     the Spark side's dayofweek-1 adjustment;
  *   - DuckDB regexp_replace needs the 'g' flag to match Spark's
  *     replace-all semantics.
  */
final case class Query(name: String, spark: (SparkSession, String) => DataFrame, oracleSql: String)

/** One library module's slice of the registry. Each `query` call in the
  * object body declares one query, next to the Spark method it runs. */
abstract class Module(val module: String) {
  private val declared = scala.collection.mutable.ArrayBuffer.empty[Query]

  protected def query(name: String, spark: (SparkSession, String) => DataFrame,
      oracleSql: String): Query = {
    val q = Query(name, spark, oracleSql)
    declared += q
    q
  }

  /** This module's queries, in declaration order. */
  def queries: Seq[Query] = declared.toSeq
}
