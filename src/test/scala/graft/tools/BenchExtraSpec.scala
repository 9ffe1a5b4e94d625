package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {

  test("SPARK_GRAFT_SET parses key=value entries and names a malformed one") {
    assert(BenchExtra.confOverrides("a.b=1,,c=x=y") == Seq(("a.b", "1"), ("c", "x=y")))
    val e = intercept[IllegalArgumentException](
      BenchExtra.confOverrides("a.b=1,spark.sql.codegen"))
    assert(e.getMessage.contains("'spark.sql.codegen'"), e.getMessage)
  }

  test("the query filter selects by prefix and names a prefix that matches nothing") {
    assert(BenchExtra.select(Some(Set("qg1", "q07"))).map(_.name) == Vector(
      "q07_window_rank", "qg10_neighborhood", "qg11_seed_pagerank", "qg12_host_scc",
      "qg1_host_pagerank"))
    assert(BenchExtra.select(None).length == graft.SparkEntry.registry.length)
    val e = intercept[IllegalArgumentException](
      BenchExtra.select(Some(Set("qd6", "qz9_missing"))))
    assert(e.getMessage.contains("qz9_missing") && !e.getMessage.contains("qd6"),
      e.getMessage)
  }
}
