package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** HLL approx distinct vs exact: the rows-only catalog entry
  * `agg_approx_distinct` has no SQL oracle (sketches are
  * engine-specific), so the error bound is pinned here. */
class ApproxDistinctSpec extends SparkTestBase {
  import spark.implicits._

  test("approx_count_distinct within the configured 2% rsd of exact") {
    val rnd = new scala.util.Random(3)
    val df = Seq.fill(20000)(rnd.nextInt(5000)).toDF("v")
    val exact = df.select(countDistinct($"v")).collect().head.getLong(0)
    val approx = df.select(approx_count_distinct($"v", 0.02))
      .collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.06, // 3 sigma
      s"approx=$approx exact=$exact")
  }

  test("the agg_approx_distinct entry: every o_orderstatus within 3 sigma " +
      "of the exact distinct customer count") {
    val sf = "/root/testdata/sf0.01"
    val approx = JoinQueries.aggApproxDistinct.query(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.orders(spark, sf).groupBy($"o_orderstatus")
      .agg(countDistinct($"o_custkey")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet && exact.nonEmpty, s"$approx vs $exact")
    exact.foreach { case (status, n) =>
      assert(math.abs(approx(status) - n).toDouble / n < 0.06, // 3 sigma
        s"$status: approx=${approx(status)} exact=$n")
    }
  }
}
