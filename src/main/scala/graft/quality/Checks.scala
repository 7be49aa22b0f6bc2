package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Declarative data-quality checks — the dbt generic-test surface
  * (unique / not_null / accepted_values, SURVEY.md §2.9) plus the range
  * test the reference's roadmap wanted, generalized so any table can
  * declare its contract as data:
  *
  *   val checks = Seq(Unique(Seq("id")), NotNull("city"),
  *                    AcceptedValues("cat", Seq("a", "b")), InRange("t", -50, 60))
  *   Checks.reportDf(df, checks)                  // (check, n_violations, passed)
  *   Checks.assertAll(("model", df, checks), ...)  // throw naming every failure
  *
  * Each check compiles to a violations DataFrame (the dbt "test query
  * returns 0 rows" contract). Counting goes through `reportDf` only, so
  * the report and the gate cannot disagree: every row-level check fuses
  * into one conditional aggregate and each Unique adds one grouping
  * branch; nothing reaches the driver but the counts.
  */
object Checks {

  sealed trait Check {
    def name: String
    def violations(df: DataFrame): DataFrame

    /** Row-level violation predicate, when the check is expressible per
      * row: lets `reportDf` fuse every such check into ONE conditional
      * aggregate pass. None for checks that need grouping (Unique). */
    def rowViolation: Option[Column] = None
  }

  /** dbt `unique` (composite keys allowed). Not a row predicate — its
    * violation count is "number of duplicated key groups". */
  final case class Unique(cols: Seq[String]) extends Check {
    val name = s"unique_${cols.mkString("_")}"
    def violations(df: DataFrame): DataFrame = Relational.duplicates(df, cols)
  }

  /** dbt `not_null`. */
  final case class NotNull(col0: String) extends Check {
    val name = s"not_null_$col0"
    def violations(df: DataFrame): DataFrame = Relational.nullViolations(df, col0)
    override def rowViolation: Option[Column] = Some(col(col0).isNull)
  }

  /** dbt `accepted_values` (NULLs pass, like SQL NOT IN). */
  final case class AcceptedValues(col0: String, values: Seq[String]) extends Check {
    val name = s"accepted_values_$col0"
    def violations(df: DataFrame): DataFrame =
      Relational.acceptedValuesViolations(df, col0, values)
    override def rowViolation: Option[Column] =
      Some(col(col0).isNotNull && !col(col0).isin(values.map(_.asInstanceOf[Any]): _*))
  }

  /** Closed-range test (the reference's unimplemented roadmap item,
    * README.md:126: temperature plausibility). NULLs pass — combine with
    * NotNull to reject them. */
  final case class InRange(col0: String, lo: Double, hi: Double) extends Check {
    val name = s"in_range_$col0"
    def violations(df: DataFrame): DataFrame =
      df.filter(col(col0).isNotNull && !col(col0).between(lo, hi))
    override def rowViolation: Option[Column] =
      Some(col(col0).isNotNull && !col(col0).between(lo, hi))
  }

  /** Arbitrary predicate that every row must satisfy. */
  final case class Satisfies(name: String, predicateSql: String) extends Check {
    def violations(df: DataFrame): DataFrame = df.filter(s"NOT ($predicateSql)")
    override def rowViolation: Option[Column] = Some(not(expr(predicateSql)))
  }

  /** One row per check: (check, n_violations, passed) — the form a
    * contract dashboard or a downstream gate table consumes, and the form
    * the oracle can verify. Every row-predicate check (not_null /
    * accepted_values / in_range / satisfies) becomes one entry of an
    * array-of-structs built in a SINGLE conditional-aggregate scan (one
    * job however many checks, map-side partials) and exploded to
    * (check, n_violations) rows; each grouping check (Unique) contributes
    * its own aggregate branch, unioned — at scale the branches
    * parallelize and none reads more than its key columns. */
  def reportDf(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val fused = checks.flatMap(c => c.rowViolation.map(p => (c.name, p)))
    val fusedDf =
      if (fused.isEmpty) Seq.empty[DataFrame]
      else Seq(
        df.agg(array(fused.map { case (n, p) =>
            struct(lit(n).as("check"),
              coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L)).as("n_violations"))
          }: _*).as("cs"))
          .select(explode(col("cs")).as("kv"))
          .select(col("kv.check").as("check"), col("kv.n_violations").as("n_violations")))
    val grouped = checks.collect {
      case c if c.rowViolation.isEmpty =>
        c.violations(df)
          .agg(count(lit(1)).as("n_violations"))
          .select(lit(c.name).as("check"), col("n_violations"))
    }
    (fusedDf ++ grouped)
      .reduce(_.unionAll(_))
      .withColumn("passed", col("n_violations") === 0L)
  }

  /** Pipeline gate over one or more (model, frame, contract) triples:
    * the models' [[reportDf]]s are unioned and collected in one action,
    * and any violation throws an IllegalArgumentException naming every
    * failing `<model>.<check>` (mirrors the reference DAG failing on dbt
    * test, dags/weatherstack_full_pipeline.py:147-151). */
  def assertAll(contract: (String, DataFrame, Seq[Check]),
                more: (String, DataFrame, Seq[Check])*): Unit = {
    val failing = (contract +: more)
      .map { case (model, df, checks) =>
        reportDf(df, checks).filter(!col("passed"))
          .select(concat_ws(".", lit(model), col("check"))) }
      .reduce(_.unionAll(_))
      .collect().map(_.getString(0)).sorted
    require(failing.isEmpty, s"data-quality check failed: ${failing.mkString(", ")}")
  }

  /** Per-column data PROFILE — the table-summary report of dbt docs /
    * Deequ-style profilers: one row per profiled column with row count,
    * null count, distinct count, and min/max rendered as strings. Each
    * column profiles in its own aggregate branch (column-pruned scan,
    * map-side partials) and the branches UNION — at scale the branches
    * run in parallel and no branch reads more than its one column.
    * Profile doubles as fixed-point integers at the call site: raw
    * double→string rendering is engine-specific, exact ints are not.
    */
  def profile(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    cols.map { case (name, c) =>
      df.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(c)).as("n_null"),
        countDistinct(c).as("n_distinct"),
        min(c).cast("string").as("min_value"),
        max(c).cast("string").as("max_value"))
        .select(lit(name).as("column"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)

  /** Order-free reconciliation CHECKSUM per group — the cheap
    * replica/migration compare: each row contributes an md5-derived
    * (4·hexDigits)-bit integer of its canonical rendering, summed per
    * group (sum is commutative ⇒ partition- and order-independent, and
    * engine-portable where a concatenated digest is not). Two tables
    * match iff their (group, n_rows, checksum) frames match — compare
    * O(groups) rows instead of re-shipping either table. The default 10
    * hex digits (40-bit hashes) keep the i64 sum exact past 8M rows per
    * group; beyond that the engine-internal compare still works (both
    * replicas wrap identically) but cross-engine oracles must stay in
    * the exact regime. */
  def groupChecksum(df: DataFrame, groupCol: String, rowRepr: Column,
                    hexDigits: Int = 10): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(conv(substring(md5(rowRepr), 1, hexDigits), 16, 10).cast("long"))
          .as("checksum"))
}
