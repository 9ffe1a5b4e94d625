package graft

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("SPARK_GRAFT_ONLY unset selects the whole registry") {
    assert(Verify.select(None) == SparkEntry.registry)
    assert(Verify.select(None).length == 148)
  }

  test("SPARK_GRAFT_ONLY selects the named entries") {
    assert(Verify.select(Some(" qx1_extract_text,q06_topk_orders ")).map(_.name).toSet ==
      Set("q06_topk_orders", "qx1_extract_text"))
  }

  test("SPARK_GRAFT_ONLY rejects a name outside the registry, naming it") {
    val e = intercept[IllegalArgumentException](
      Verify.select(Some("q06_topk_orders,__none__")))
    assert(e.getMessage.contains("__none__") &&
      !e.getMessage.contains("q06_topk_orders"), e.getMessage)
    intercept[IllegalArgumentException](Verify.select(Some(" , ")))
  }
}
