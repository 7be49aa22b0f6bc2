package graft
package registry

import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {

  test("a duplicate query name is rejected") {
    val q = Query("q_dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](Registry.unique(Seq(q, q.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("q_dup"))
    assert(Registry.unique(Registry.all) == Registry.all)
  }

  test("each query's module is its module in perfbench/registry.tsv") {
    val src = scala.io.Source.fromFile("perfbench/registry.tsv")
    val tsv = try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l => val f = l.split("\t"); f(0) -> f(1) }.toMap
      finally src.close()
    val declared = Registry.modules.flatMap(m => m.queries.map(_.name -> m.module)).toMap
    assert(declared == tsv)
  }
}
