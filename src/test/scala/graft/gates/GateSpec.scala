package graft.gates

import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {

  test("gate names are unique and every gate carries a non-blank oracle") {
    val names = Gate.all.map(_.name)
    assert(names.distinct.size == names.size)
    val blank = Gate.all.filter(g => g.oracle == null || g.oracle.trim.isEmpty)
    assert(blank.isEmpty, s"gates without an oracle: ${blank.map(_.name).mkString(", ")}")
    assert(graft.SparkEntry.queries.keySet == names.toSet)
    assert(graft.SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("registering two gates under one name fails and names them") {
    val g = Gate("a", (s, d) => s.read.parquet(d), "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      Gate.registry(Seq(g, g.copy(name = "b"), g, g.copy(name = "c"), g.copy(name = "c")))
    }
    assert(e.getMessage.contains("duplicate gate names: a, c"))
  }
}
