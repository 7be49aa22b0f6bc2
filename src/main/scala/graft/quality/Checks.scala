package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Observation}
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
  *   val o = new Checks.Observed("model", checks)  // the gate, riding on a write
  *   o.on(df).write.parquet(p)
  *   Checks.assertObserved(Seq(o))                // throw naming every failure
  *
  * Each check compiles to a violations DataFrame (the dbt "test query
  * returns 0 rows" contract) and to one aggregate, its metric, 0 exactly
  * when that frame is empty. `reportDf` fuses every row-level check into
  * one conditional aggregate and adds one grouping branch per Unique;
  * nothing reaches the driver but the counts. The gate reads the metrics
  * a write observed and names the failures of the first failing tier.
  */
object Checks {

  sealed trait Check {
    def name: String
    def violations(df: DataFrame): DataFrame
    /** 0 exactly when [[violations]] is empty; an aggregate with no
      * DISTINCT, so `Dataset.observe` accepts it. */
    def metric: Column
  }

  /** A check stated as one row-level violation predicate: its violations
    * are the rows it holds for, and `reportDf` fuses every such check
    * into ONE conditional aggregate pass. Its metric counts them. */
  sealed trait RowCheck extends Check {
    def rowViolation: Column
    def violations(df: DataFrame): DataFrame = df.filter(rowViolation)
    def metric: Column = coalesce(sum(when(rowViolation, 1L).otherwise(0L)), lit(0L))
  }

  /** dbt `unique` (composite keys allowed). Not a row predicate, and it
    * has two counts, which are 0 together: [[violations]], and so
    * `reportDf`, counts the duplicated keys (dbt's `unique` rows, one per
    * key seen more than once); its metric, and so [[Observed.counts]],
    * counts the rows past each key's first. A key three times and
    * another twice are 2 violations and a metric of 3. The metric is
    * `count(1) - size(collect_set(struct(cols)))`, NULL keys included.
    * The set holds the frame's distinct keys, so observe it on a bounded
    * frame: a pipeline batch has one key per city (a few on a `runDaily`
    * day, 80k on a backfill). */
  final case class Unique(cols: Seq[String]) extends Check {
    val name = s"unique_${cols.mkString("_")}"
    def violations(df: DataFrame): DataFrame = Relational.duplicates(df, cols)
    def metric: Column = count(lit(1)) - size(collect_set(struct(cols.map(col): _*)))
  }

  /** dbt `not_null`. */
  final case class NotNull(col0: String) extends RowCheck {
    val name = s"not_null_$col0"
    def rowViolation: Column = col(col0).isNull
  }

  /** dbt `accepted_values` (NULLs pass, like SQL NOT IN). */
  final case class AcceptedValues(col0: String, values: Seq[String]) extends RowCheck {
    val name = s"accepted_values_$col0"
    def rowViolation: Column =
      col(col0).isNotNull && !col(col0).isin(values.map(_.asInstanceOf[Any]): _*)
  }

  /** Closed-range test (the reference's unimplemented roadmap item,
    * README.md:126: temperature plausibility). NULLs pass — combine with
    * NotNull to reject them. */
  final case class InRange(col0: String, lo: Double, hi: Double) extends RowCheck {
    val name = s"in_range_$col0"
    def rowViolation: Column = col(col0).isNotNull && !col(col0).between(lo, hi)
  }

  /** Arbitrary predicate that every row must satisfy. */
  final case class Satisfies(name: String, predicateSql: String) extends RowCheck {
    def rowViolation: Column = not(expr(predicateSql))
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
    val fused = checks.collect { case c: RowCheck => c }
    val fusedDf =
      if (fused.isEmpty) Seq.empty[DataFrame]
      else Seq(
        df.agg(array(fused.map { c =>
            struct(lit(c.name).as("check"), c.metric.as("n_violations"))
          }: _*).as("cs"))
          .select(explode(col("cs")).as("kv"))
          .select(col("kv.check").as("check"), col("kv.n_violations").as("n_violations")))
    val grouped = checks.filterNot(_.isInstanceOf[RowCheck]).map { c =>
      c.violations(df)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit(c.name).as("check"), col("n_violations"))
    }
    (fusedDf ++ grouped)
      .reduce(_.unionAll(_))
      .withColumn("passed", col("n_violations") === 0L)
  }

  /** A model's contract carried by a write instead of a gate action:
    * [[on]] adds every check's metric to the written frame as ONE
    * `Dataset.observe`, computed in the write's own scan. Observe above
    * any shuffle, in the result stage, which alone counts each partition
    * once under task retry. Each instance has its own unnamed
    * `Observation`, so concurrent runs in one session stay apart; use it
    * for one action. */
  final class Observed(val model: String, checks: Seq[Check]) {
    private val observation = Observation()

    def on(df: DataFrame): DataFrame = {
      val Seq(first, more @ _*) = checks.map(c => c.metric.as(c.name))
      df.observe(observation, first, more: _*)
    }

    /** Each check's name and metric, in contract order: the violating
      * rows of a row check, and for a [[Unique]] the rows past each
      * key's first, not `reportDf`'s count of duplicated keys (the two
      * are 0 together). Blocks until the action over [[on]]'s frame has
      * succeeded, and forever if it failed, so call it only once that
      * action returned. */
    def counts: Seq[(String, Long)] = {
      val observed = observation.get
      checks.map(c => c.name -> observed(c.name).asInstanceOf[Long])
    }
  }

  /** Pipeline gate over observed contracts in tiers of DAG order (sources
    * before marts), once their actions have succeeded. Any violation
    * throws an IllegalArgumentException naming the FIRST failing tier's
    * `<model>.<check>`s, sorted, because the DAG never runs a later
    * tier's tests once an earlier tier failed (mirrors the reference DAG
    * failing on dbt test, dags/weatherstack_full_pipeline.py:147-151). */
  def assertObserved(tiers: Seq[Observed]*): Unit = {
    val named = tiers.map(_.flatMap(o =>
        o.counts.collect { case (check, n) if n != 0L => s"${o.model}.$check" }))
      .find(_.nonEmpty).getOrElse(Nil).sorted
    require(named.isEmpty, s"data-quality check failed: ${named.mkString(", ")}")
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
