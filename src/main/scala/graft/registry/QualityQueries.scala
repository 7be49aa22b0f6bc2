package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational

import SharedSpark._

/** Data-quality reports: column profiles, check reports and checksums. */
object QualityQueries extends Module("quality") {

  /** Per-column profile of orders (see quality.Checks.profile):
    * doubles profiled as exact cents so min/max strings are
    * engine-portable. */
  private def qProfile(s: SparkSession, d: String): DataFrame =
    graft.quality.Checks.profile(
      t(s, d, "orders").withColumn("price_cents",
        Relational.cents(col("o_totalprice"))),
      Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "price_cents" -> col("price_cents"),
        "o_orderpriority" -> col("o_orderpriority"),
        "o_orderdate" -> col("o_orderdate")))
      .orderBy(col("column"))
  query("q_profile", qProfile, {
    def branch(name: String, c: String) =
      s"""SELECT '$name' AS "column", count(*) AS n_rows,
         |       count(*) - count($c) AS n_null,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_value,
         |       CAST(max($c) AS VARCHAR) AS max_value
         |FROM o""".stripMargin
    s"""WITH o AS (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
       |           FROM orders)
       |${Seq("o_orderkey" -> "o_orderkey", "o_custkey" -> "o_custkey",
                "price_cents" -> "price_cents",
                "o_orderpriority" -> "o_orderpriority",
                "o_orderdate" -> "o_orderdate")
             .map { case (n, c) => branch(n, c) }.mkString("\nUNION ALL\n")}
       |ORDER BY "column"""".stripMargin
  })

  /** Declarative data-contract REPORT over orders (Checks.reportDf): the
    * dbt generic-test surface as a queryable (check, n_violations,
    * passed) table. The four row-predicate checks fuse into ONE
    * conditional-aggregate scan; the two Unique checks each add a
    * key-pruned aggregate branch. Thresholds are sized so both report
    * outcomes appear: accepted_values and in_range FAIL on real data
    * ('P' orders / >200k prices), the rest pass. */
  private def qQualityReport(s: SparkSession, d: String): DataFrame = {
    import graft.quality.Checks._
    reportDf(t(s, d, "orders"), Seq(
      NotNull("o_orderkey"),
      Unique(Seq("o_orderkey")),
      AcceptedValues("o_orderstatus", Seq("O", "F")),
      InRange("o_totalprice", 0.0, 200000.0),
      Satisfies("positive_price", "o_totalprice > 0"),
      Unique(Seq("o_custkey", "o_orderdate"))))
      .orderBy(col("check"))
  }
  // Declarative contract report: each check's violation count as a
  // scalar subquery, unioned — check names must match Checks.Check.name
  // exactly (the report is keyed on them).
  query("q_quality_report", qQualityReport,
    """WITH c AS (
      |  SELECT 'not_null_o_orderkey' AS chk,
      |         CAST((SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS BIGINT) AS n
      |  UNION ALL
      |  SELECT 'unique_o_orderkey',
      |         CAST((SELECT count(*) FROM (SELECT o_orderkey FROM orders
      |               GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT)
      |  UNION ALL
      |  SELECT 'accepted_values_o_orderstatus',
      |         CAST((SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
      |               AND o_orderstatus NOT IN ('O', 'F')) AS BIGINT)
      |  UNION ALL
      |  SELECT 'in_range_o_totalprice',
      |         CAST((SELECT count(*) FROM orders WHERE o_totalprice IS NOT NULL
      |               AND o_totalprice NOT BETWEEN 0 AND 200000) AS BIGINT)
      |  UNION ALL
      |  SELECT 'positive_price',
      |         CAST((SELECT count(*) FROM orders WHERE NOT (o_totalprice > 0)) AS BIGINT)
      |  UNION ALL
      |  SELECT 'unique_o_custkey_o_orderdate',
      |         CAST((SELECT count(*) FROM (SELECT o_custkey, o_orderdate FROM orders
      |               GROUP BY 1, 2 HAVING count(*) > 1)) AS BIGINT))
      |SELECT chk AS "check", n AS n_violations, n = 0 AS passed
      |FROM c ORDER BY "check"""".stripMargin)

  /** Order-free reconciliation checksum of lineitem per return flag (see
    * quality.Checks.groupChecksum): the row rendering pins key, line
    * number, and exact cents. */
  private def qChecksum(s: SparkSession, d: String): DataFrame =
    graft.quality.Checks.groupChecksum(
      t(s, d, "lineitem"), "l_returnflag",
      concat_ws("|", col("l_orderkey"), col("l_linenumber"),
        Relational.cents(col("l_extendedprice"))), hexDigits = 10)
      .orderBy(col("l_returnflag"))
  query("q_checksum", qChecksum,
    """SELECT l_returnflag,
      |       count(*) AS n_rows,
      |       CAST(sum(CAST(concat('0x', substring(md5(
      |         concat_ws('|', l_orderkey, l_linenumber,
      |                   CAST(round(l_extendedprice * 100) AS BIGINT))), 1, 10))
      |         AS BIGINT)) AS BIGINT) AS checksum
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
