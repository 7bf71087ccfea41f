package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The surfaced runtime-filter bloom pair: membership must be complete
  * (no false negatives — the property the decontamination prefilter's
  * correctness rests on) and selective (false positives rare enough to
  * be worth the probe). `bloom_might_contain` requires its filter to be
  * a constant or scalar subquery (the analyzer rejects a joined
  * column), so the probe takes the bloom as a scalar subquery — the
  * same shape Spark's own injected runtime filters use. */
class BloomFnSpec extends SparkTestBase {

  test("bloom_agg / bloom_might_contain: zero false negatives, few FPs") {
    import spark.implicits._
    spark.range(1000).select(xxhash64($"id").as("h"))
      .createOrReplaceTempView("graft_bloom_members")
    spark.range(5000).select($"id", xxhash64($"id").as("h"))
      .createOrReplaceTempView("graft_bloom_probe")
    val probed = spark.sql(
      """SELECT id, bloom_might_contain(
        |  (SELECT bloom_agg(h, 1000) FROM graft_bloom_members), h) AS hit
        |FROM graft_bloom_probe""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 1000L).forall(probed(_)), "false negative: impossible " +
      "for a bloom filter — the aggregate dropped a member")
    val fps = (1000L until 5000L).count(probed(_))
    assert(fps < 400, s"false-positive rate ${fps / 4000.0} far above the " +
      "~3% default for a right-sized filter")
  }
}
