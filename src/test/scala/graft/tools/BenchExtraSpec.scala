package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {

  test("SPARK_GRAFT_SET parses key=value entries and names a malformed one") {
    assert(BenchExtra.confOverrides("a.b=1,,c=x=y") == Seq(("a.b", "1"), ("c", "x=y")))
    val e = intercept[IllegalArgumentException](
      BenchExtra.confOverrides("a.b=1,spark.sql.codegen"))
    assert(e.getMessage.contains("'spark.sql.codegen'"), e.getMessage)
  }
}
