package graft

/** [[Collect]]: every driver-side cutover's row bound is one share of the
  * driver heap over the site's bytes per row, and the scoped override
  * that specs force routes with leaves no bound behind. */
class CollectSpec extends SparkSpec {
  import spark.implicits._

  private val sites = Seq(Collect.EdgeBytes, Collect.WordBytes, Collect.SigBytes)

  test("each site's row bound follows the driver heap") {
    val heap = Runtime.getRuntime.maxMemory
    for (b <- sites) {
      assert(Collect.maxRows(b) == Collect.rowsFor(heap, b))
      assert(Collect.rowsFor(4L << 30, b) == 2 * Collect.rowsFor(2L << 30, b))
    }
    // at a 2 GiB driver: 2M edges, and at least 1M words and 1M signatures
    val twoGiB = 2L << 30
    assert(Collect.rowsFor(twoGiB, Collect.EdgeBytes) == 2097152L)
    assert(Collect.rowsFor(twoGiB, Collect.WordBytes) == 1048576L)
    assert(Collect.rowsFor(twoGiB, Collect.SigBytes) == 1864135L)
  }

  test("the scoped override restores the previous bound when its body throws") {
    def bounds = sites.map(Collect.maxRows)
    val derived = bounds
    Collect.withMaxRows(5L) {
      assert(bounds == Seq(5L, 5L, 5L))
      intercept[IllegalStateException] {
        Collect.withMaxRows(0L) {
          assert(bounds == Seq(0L, 0L, 0L))
          throw new IllegalStateException("body failed")
        }
      }
      assert(bounds == Seq(5L, 5L, 5L))
    }
    assert(bounds == derived)
  }

  test("head returns the rows at or under the bound and None over it") {
    val df = Seq(1L, 2L, 3L).toDF("id")
    assert(Collect.head(df, 3L).map(_.map(_.getLong(0)).toSeq.sorted) == Some(Seq(1L, 2L, 3L)))
    assert(Collect.head(df, 2L).isEmpty)
    assert(Collect.head(df, 0L).isEmpty)
  }
}
