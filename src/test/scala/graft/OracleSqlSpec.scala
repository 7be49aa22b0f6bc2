package graft

class OracleSqlSpec extends SparkSpec {

  test("all queries run and return rows on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).limit(1).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
