package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ext.Similarity

class VecDotProductSpec extends SparkTestBase {
  import spark.implicits._

  test("vec_dot is bit-exact with the zip_with+aggregate fold on random vectors") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 200).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1),
        Seq.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("id", "a", "b")
    val diff = df.select(
      call_function("vec_dot", $"a", $"b").as("native"),
      Similarity.dot($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof") // bit-exact: no tolerance
      .count()
    assert(diff == 0)
  }

  test("vec_dot known values, null array, mismatched lengths") {
    val df = Seq(
      (1L, Some(Seq(1f, 2f, 3f)), Some(Seq(4f, 5f, 6f))),
      (2L, None, Some(Seq(1f))),
      (3L, Some(Seq(1f, 2f)), Some(Seq(3f)))).toDF("id", "a", "b")
    val out = df.select($"id", call_function("vec_dot", $"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(32.0))
    assert(out(2L).isEmpty)          // null array → null
    assert(out(3L).contains(3.0))    // min-length prefix
  }

  test("vec_quant_score: self-score = |codes|, ranking tracks exact " +
      "cosine on random vectors, null propagates") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "v")
    val q = vecs.head._2
    // a vector scored against itself: dot/|qa| = |qa| = sqrt(int norm),
    // and 127/max|x| quantization makes at least one code = +-127
    val self = df.select(
      call_function("vec_quant_score", $"v", $"v").as("s")).collect()
    for (r <- self) {
      val s = r.getDouble(0)
      assert(s >= 127.0 && s <= 127.0 * 8, s"self-score |codes| = $s")
    }
    // int8 error ~1e-3: the approx TOP-10 against a fixed query must
    // overlap the exact cosine top-10 heavily (the shortlist-recall
    // property sim_quantized_topk's oracle leans on, in miniature)
    val scored = df.select($"id",
      call_function("vec_quant_score", $"v", typedLit(q)).as("approx"),
      (call_function("vec_dot", $"v", typedLit(q)) /
        sqrt(call_function("vec_dot", $"v", $"v"))).as("exact"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val topApprox = scored.sortBy(-_._2).take(10).map(_._1).toSet
    val topExact = scored.sortBy(-_._3).take(10).map(_._1).toSet
    assert((topApprox & topExact).size >= 8,
      s"approx top-10 lost the exact ranking: $topApprox vs $topExact")
    val nulls = Seq((1L, Option.empty[Seq[Float]])).toDF("id", "v")
      .select(call_function("vec_quant_score", $"v", $"v")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("vec_dot works in SQL text and inside whole-stage codegen") {
    // row-dependent input so the expression can't be constant-folded away
    spark.range(1, 4).createOrReplaceTempView("v")
    val plan = spark.sql(
      """SELECT vec_dot(array(cast(id AS FLOAT), cast(2 AS FLOAT)),
        |               array(cast(3 AS FLOAT), cast(id AS FLOAT))) AS d
        |FROM v ORDER BY d""".stripMargin)
    // id=1 → 3+2=5; id=2 → 6+4=10; id=3 → 9+6=15
    assert(plan.collect().map(_.getDouble(0)).toSeq == Seq(5.0, 10.0, 15.0))
    // must not fall back to interpreted eval: the vec_dot Project must be
    // inside a whole-stage-codegen span (the "*(n)" star marker)
    val exec = plan.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[vec_dot""".r.findFirstIn(exec).isDefined, exec)
  }

  test("vec_dot_q9 is bit-exact with the rint HOF fold on random vectors") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 200).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1),
        Seq.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("id", "a", "b")
    // the interpreted fold the kernel replaced, restated with rint
    // (HALF_EVEN — the kernel's per-element rounding)
    val fold = aggregate(
      zip_with($"a", $"b", (x, y) =>
        rint(x.cast("double") * y.cast("double") * lit(1e9)).cast("long")),
      lit(0L), (acc, t) => acc + t)
    val diff = df.select(
      call_function("vec_dot_q9", $"a", $"b").as("native"),
      fold.as("hof"))
      .filter($"native" =!= $"hof") // bit-exact: no tolerance
      .count()
    assert(diff == 0)
  }

  test("vec_dot_q9 known values, null array, mismatched lengths") {
    val df = Seq(
      (1L, Some(Seq(1f, 2f, 3f)), Some(Seq(4f, 5f, 6f))),
      (2L, None, Some(Seq(1f))),
      (3L, Some(Seq(1f, 2f)), Some(Seq(3f)))).toDF("id", "a", "b")
    val out = df.select($"id",
      call_function("vec_dot_q9", $"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).contains(32L * 1000000000L))
    assert(out(2L).isEmpty)                    // null array -> null
    assert(out(3L).contains(3L * 1000000000L)) // min-length prefix
  }
}
