package graft.quality

import graft.SparkSpec
import Checks._

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, "PARIS", "Mild", 18),
    (2L, "LONDON", "Freezing", -3),
    (3L, null, "Scorching", 75),
    (3L, "TOKYO", "Hot", 35)
  ).toDF("id", "city", "category", "temperature")

  private val contract = Seq(
    Unique(Seq("id")),
    NotNull("city"),
    AcceptedValues("category", Seq("Freezing", "Cold", "Mild", "Warm", "Hot")),
    InRange("temperature", -50, 60),
    Satisfies("temp_int_range", "temperature BETWEEN -273 AND 1000"))

  private def counts(df: org.apache.spark.sql.DataFrame, checks: Seq[Check]) =
    Checks.reportDf(df, checks).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet

  test("report counts violations per check") {
    assert(counts(df, contract) == Set(
      ("unique_id", 1L, false),          // id 3 twice
      ("not_null_city", 1L, false),
      ("accepted_values_category", 1L, false), // Scorching
      ("in_range_temperature", 1L, false),     // 75
      ("temp_int_range", 0L, true)))
  }

  test("reportDf matches each check's own violations count") {
    val own = contract.map { c =>
      val n = c.violations(df).count()
      (c.name, n, n == 0)
    }
    assert(counts(df, contract) == own.toSet)
    // every contract check is present exactly once
    assert(Checks.reportDf(df, contract).count() == contract.size)
  }

  /** `checks` observed on one write of `df`, which has run. */
  private def observedWrite(model: String, df: org.apache.spark.sql.DataFrame,
                            checks: Seq[Check]): Observed = {
    val o = new Observed(model, checks)
    o.on(df).write.format("noop").mode("overwrite").save()
    o
  }

  private def observed(df: org.apache.spark.sql.DataFrame, checks: Seq[Check]): Map[String, Long] =
    observedWrite("t", df, checks).counts.toMap

  test("assertObserved passes a clean frame and names the failing check") {
    Checks.assertObserved(Seq(observedWrite("clean", df.limit(2), contract))) // first two rows are clean
    val e = intercept[IllegalArgumentException](
      Checks.assertObserved(Seq(observedWrite("t", df, contract))))
    assert(e.getMessage.contains("t.unique_id"))
    assert(e.getMessage.contains("t.in_range_temperature"))
    assert(!e.getMessage.contains("temp_int_range")) // a passing check is not named
    // one tier over two models names the failures of both
    val ids = Seq(1L, 1L).toDF("id")
    val e2 = intercept[IllegalArgumentException](Checks.assertObserved(Seq(
      observedWrite("a", df, Seq(NotNull("city"))), observedWrite("b", ids, Seq(Unique(Seq("id")))))))
    assert(e2.getMessage.contains("a.not_null_city") && e2.getMessage.contains("b.unique_id"))
  }

  test("assertObserved names only the first failing tier's checks") {
    val ids = Seq(1L, 1L).toDF("id")
    def marts = Seq(observedWrite("m", df, contract))
    // the source tier fails: the failing mart checks are not named
    val e = intercept[IllegalArgumentException](Checks.assertObserved(
      Seq(observedWrite("src", ids, Seq(Unique(Seq("id"))))), marts))
    assert(e.getMessage.endsWith("data-quality check failed: src.unique_id"), e.getMessage)
    // the source tier passes: every failing mart check is named, sorted
    val e2 = intercept[IllegalArgumentException](Checks.assertObserved(
      Seq(observedWrite("src", ids, Seq(NotNull("id")))), marts))
    assert(e2.getMessage.endsWith("data-quality check failed: m.accepted_values_category, " +
      "m.in_range_temperature, m.not_null_city, m.unique_id"), e2.getMessage)
    Checks.assertObserved(Seq(observedWrite("src", ids, Seq(NotNull("id")))),
      Seq(observedWrite("m", df.limit(2), contract)))
  }

  test("each check's observed metric is 0 exactly when reportDf counts no violation") {
    val keys = Seq((Some(1L), "a"), (Some(1L), "b"), (None, "a"), (None, "a")).toDF("id", "city")
    val uniques = Seq(Unique(Seq("id")), Unique(Seq("id", "city")), Unique(Seq("city")))
    val onePerPartition = spark.createDataFrame(
      spark.sparkContext.parallelize(df.collect().toSeq, 4), df.schema)
    assert(onePerPartition.rdd.glom().collect().map(_.length).toSeq == Seq(1, 1, 1, 1))
    val cases = Seq(
      (df, contract),
      (df.limit(2), contract),                                    // clean
      (df.limit(0), contract),                                    // empty
      (keys, uniques),                                            // duplicated only by a NULL key
      (keys.limit(3), uniques),                                   // one NULL key
      (keys.filter($"id".isNotNull), uniques),                    // composite key unique
      (onePerPartition, contract))                                // id 3 in two partitions
    for ((frame, checks) <- cases) {
      val reported = counts(frame, checks).map { case (n, v, _) => n -> (v != 0L) }.toMap
      assert(observed(frame, checks).map { case (n, v) => n -> (v != 0L) } == reported,
        checks.map(_.name))
    }
    // the rows beyond the first of each key
    assert(observed(keys, uniques) == Map("unique_id" -> 2L, "unique_id_city" -> 1L,
      "unique_city" -> 2L))
    assert(observed(keys.limit(3), uniques) == Map("unique_id" -> 1L, "unique_id_city" -> 0L,
      "unique_city" -> 1L))
  }

  test("unique: reportDf counts the duplicated keys, the observed metric the rows past each key's first") {
    val keys = Seq("A", "A", "A", "B", "B", "C").toDF("k")
    val unique = Seq(Unique(Seq("k")))
    assert(counts(keys, unique) == Set(("unique_k", 2L, false)))
    assert(observed(keys, unique) == Map("unique_k" -> 3L))
  }

  test("the observed gate names what reportDf fails in the first failing tier") {
    val ids = Seq(1L, 1L).toDF("id")
    def message(gate: => Unit): String = intercept[IllegalArgumentException](gate).getMessage
    /** The failing `<model>.<check>`s reportDf counts over one tier, sorted. */
    def reported(tier: Seq[(String, org.apache.spark.sql.DataFrame, Seq[Check])]): Seq[String] =
      tier.flatMap { case (model, frame, checks) =>
        counts(frame, checks).collect { case (check, _, false) => s"$model.$check" } }.sorted
    for (sources <- Seq(Seq(("src", ids, Seq(Unique(Seq("id"))))), Seq(("src", ids, Seq(NotNull("id")))))) {
      val marts = Seq(("m", df, contract), ("clean", df.limit(2), contract))
      val Seq(src, mts) = Seq(sources, marts).map(_.map((observedWrite _).tupled))
      val firstFailing = Seq(sources, marts).map(reported).find(_.nonEmpty).get
      assert(message(Checks.assertObserved(src, mts)) ==
        s"requirement failed: data-quality check failed: ${firstFailing.mkString(", ")}")
    }
    Checks.assertObserved(Seq(observedWrite("clean", df.limit(2), contract)))
  }

  test("profile reports rows, nulls, distincts, and stringified min/max per column") {
    import org.apache.spark.sql.functions.col
    val data = Seq((1L, Some("a")), (2L, None), (3L, Some("a")), (4L, Some("b")))
      .toDF("id", "v")
    val out = Checks.profile(data, Seq("id" -> col("id"), "v" -> col("v")))
      .orderBy("column")
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(out.toSeq == Seq(
      ("id", 4L, 0L, 4L, "1", "4"),
      ("v", 4L, 1L, 2L, "a", "b")))
  }

  test("groupChecksum is partition-order-free and detects a one-row change") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val base = Seq((1L, "x", 10L), (1L, "y", 20L), (2L, "z", 30L))
      .toDF("g", "k", "v")
    def sums(df: org.apache.spark.sql.DataFrame) =
      Checks.groupChecksum(df, "g", concat_ws("|", col("k"), col("v")))
        .orderBy("g").as[(Long, Long, Long)].collect().toSeq
    assert(sums(base) == sums(base.repartition(7)))
    val tweaked = Seq((1L, "x", 10L), (1L, "y", 21L), (2L, "z", 30L))
      .toDF("g", "k", "v")
    val (b, t) = (sums(base), sums(tweaked))
    assert(b.head != t.head)            // group 1 checksum moves
    assert(b.last == t.last)            // group 2 untouched
  }
}
