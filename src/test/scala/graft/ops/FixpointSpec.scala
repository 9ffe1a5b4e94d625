package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The shared loop policy: fixed-round iteration is the unrolled loop with
  * checkpoints in between, convergence counts rounds and throws past its
  * budget, and the sized scope always hands the session conf back.
  */
class FixpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-fixpoint-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  test("iterate with chain = 2 equals the lazily unrolled k steps, odd and even k") {
    // a shuffle per step (the aggregate) so chained steps stack real stages
    def step(s: DataFrame): DataFrame =
      s.groupBy(col("k")).agg(sum(col("v") * 3 + col("k") + 1).as("v"))
        .select(col("k"), (col("v") % 1000003L).as("v"))
    val init = spark.range(0, 20).select((col("id") % 5).as("k"), col("id").as("v"))
    for (k <- Seq(3, 4)) {
      var calls = 0
      val got = Fixpoint.iterate(init, k, chain = 2) { s => calls += 1; step(s) }
      val want = (1 to k).foldLeft(init)((s, _) => step(s))
      assert(rows(got) == rows(want), s"k = $k")
      assert(calls == k, s"k = $k: step applied $calls times")
    }
    assert(rows(Fixpoint.iterate(init, 0, chain = 2)(step)) == rows(init))
  }

  test("converge returns the round count, the detecting round included") {
    val (state, rounds) = Fixpoint.converge("countdown", 10, 3) { n =>
      (n - 1, n - 1 > 0)
    }
    assert(state == 0 && rounds == 3)
  }

  test("converge throws IllegalStateException naming the loop past maxRounds") {
    var calls = 0
    val e = intercept[IllegalStateException] {
      Fixpoint.converge("endless loop", 4, 0) { n => calls += 1; (n + 1, true) }
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    assert(e.getMessage.contains("endless loop"), e.getMessage)
    assert(calls == 4, s"step ran $calls times under a budget of 4")
  }

  test("sized runs the body state-sized with AQE off and restores the conf on a throw") {
    val conf = spark.conf
    conf.set("spark.sql.shuffle.partitions", "7")
    conf.set("spark.sql.adaptive.enabled", "true")
    var seen = (0L, "", "")
    val e = intercept[RuntimeException] {
      Fixpoint.sized(spark.range(0, 100).toDF("id")) { (table, n) =>
        seen = (n, conf.get("spark.sql.shuffle.partitions"),
          conf.get("spark.sql.adaptive.enabled"))
        assert(table.count() == 100)
        throw new RuntimeException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(seen == ((100L, "1", "false")), seen)
    assert(conf.get("spark.sql.shuffle.partitions") == "7")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("partitionsFor grows with the state and caps at the session width") {
    assert(Fixpoint.partitionsFor(spark, 0L) == 1)
    assert(Fixpoint.partitionsFor(spark, 2L * 65536L) == 3)
    assert(Fixpoint.partitionsFor(spark, 1000L * 65536L) == 4)
  }
}
