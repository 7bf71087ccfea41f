package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.queries.TextQueries

/** Misra-Gries guarantees: every item above the n/k threshold is
  * reported, weights are (true − n/k, true]-bounded lower bounds, and
  * both survive repartitioning (mergeable-summaries merge). */
class HeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  // skewed stream: "hot" 400x, "warm" 150x, 450 singletons; n = 1000
  private val items: Seq[String] =
    Seq.fill(400)("hot") ++ Seq.fill(150)("warm") ++
      (0 until 450).map(i => s"rare$i")
  private val n = items.size
  private val exact: Map[String, Long] =
    items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  private def run(k: Int, parts: Int): Map[String, Long] = {
    val ds = spark.createDataset(scala.util.Random.shuffle(items))
      .repartition(parts)
    ds.select(HeavyHitters.sketch(k).toColumn)
      .collect().head.map(h => h.item -> h.weight).toMap
  }

  test("items above n/k are always reported with bounded-error weights") {
    for (parts <- Seq(1, 7)) {
      val got = run(k = 5, parts) // threshold n/k = 200 → "hot" must survive
      assert(got.contains("hot"), s"hot (400 > 200) must be present: $got")
      got.foreach { case (item, w) =>
        val t = exact.getOrElse(item, 0L)
        assert(w <= t, s"$item weight $w exceeds true $t")
        assert(w >= t - n / 5, s"$item weight $w below true - n/k = ${t - n / 5}")
      }
    }
  }

  test("a larger capacity also retains the second hitter") {
    val got = run(k = 50, parts = 4) // threshold 20: hot and warm guaranteed
    assert(got.contains("hot") && got.contains("warm"), got.toString)
    assert(got.size <= 49, "buffer must respect the k-1 capacity")
  }

  test("the heavy_hitters_mg entry: every term above n/40 is present and " +
      "no weight exceeds its term's true count") {
    val sf = "/root/testdata/sf0.01"
    val got = TextQueries.heavyHittersMg.query(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens($"text")).as("term"))
      .groupBy($"term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val heavy = counts.collect { case (t, c) if c * 40 > total => t }
    assert(heavy.nonEmpty, s"no term above n/40 = ${total / 40}")
    heavy.foreach(t => assert(got.contains(t), s"$t (${counts(t)} > n/40) missing"))
    got.foreach { case (t, w) =>
      assert(w <= counts.getOrElse(t, 0L), s"$t weight $w exceeds true ${counts.get(t)}")
    }
  }

  test("capacity is validated") {
    intercept[IllegalArgumentException] { HeavyHitters.sketch(1) }
  }
}
