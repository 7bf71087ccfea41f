package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The interval-join rewrite: a naive BETWEEN join becomes the binned
  * equi-join (no nested loop), results stay identical, and out-of-scope
  * shapes are left untouched. */
class AutoRangeJoinSpec extends SparkTestBase {
  import spark.implicits._

  private val points = Seq.tabulate(300)(j => (j.toLong, j.toLong * 5))
    .toDF("pid", "x")
  private val intervals = Seq.tabulate(80)(j =>
    (j.toLong, j.toLong * 17, j.toLong * 17 + 40)).toDF("iid", "s", "e")

  private def withRule[A](bw: Long)(f: => A): A = {
    spark.experimental.extraOptimizations =
      Seq(AutoRangeJoin(bw))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally {
      spark.experimental.extraOptimizations = Nil
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  private def naiveJoin = points.join(intervals, $"x" >= $"s" && $"x" <= $"e")

  test("rewrites the naive BETWEEN join to an equi-join with identical results") {
    val expected = naiveJoin.select($"pid", $"iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    withRule(64L) {
      val df = naiveJoin
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)
      val got = df.select($"pid", $"iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expected)
      assert(df.columns.toSeq == Seq("pid", "x", "iid", "s", "e"),
        "rewrite must preserve the original output columns")
    }
  }

  test("containment matches regardless of conjunct order and operand flips") {
    withRule(64L) {
      val flipped = points.join(intervals, $"e" >= $"x" && $"s" <= $"x")
      val plan = flipped.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(flipped.count() == naiveJoin.count())
    }
  }

  test("leaves equi-joins, outer joins, and disabled sessions untouched") {
    withRule(64L) {
      // an equality conjunct → already an equi-join, no rewrite
      val equi = points.join(intervals, $"pid" === $"iid" && $"x" >= $"s")
      assert(!equi.queryExecution.optimizedPlan.toString.contains("__pbin"))
      // left outer BETWEEN → out of scope, stays nested-loop
      val outer = points.join(intervals, $"x" >= $"s" && $"x" <= $"e", "left")
      assert(!outer.queryExecution.optimizedPlan.toString.contains("__pbin"))
    }
    withRule(0L) { // not enabled
      assert(!naiveJoin.queryExecution.optimizedPlan.toString.contains("__pbin"))
    }
  }

  test("never rewrites a nondeterministic point expression") {
    // The rewrite copies the point into the bin key while keeping the
    // original predicate; a nondeterministic point would be evaluated
    // twice with different values. The analyzer already rejects such
    // conditions from the DataFrame API, so drive the rule directly on
    // a hand-built plan — the shape an upstream rewrite could produce.
    import org.apache.spark.sql.catalyst.expressions.{Add, And, Cast, GreaterThanOrEqual, LessThanOrEqual, Literal, Rand}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import org.apache.spark.sql.types.LongType
    val lp = points.queryExecution.analyzed
    val rp = intervals.queryExecution.analyzed
    val x = lp.output.find(_.name == "x").get
    val s = rp.output.find(_.name == "s").get
    val e = rp.output.find(_.name == "e").get
    val nd = Add(x, Cast(new Rand(Literal(7L)), LongType))
    assert(!nd.deterministic)
    val cond = And(GreaterThanOrEqual(nd, s), LessThanOrEqual(nd, e))
    val j = Join(lp, rp, Inner, Some(cond), JoinHint.NONE)
    val out = AutoRangeJoin(64L)(j)
    assert(out eq j, s"nondeterministic condition must not be rewritten:\n$out")
    // identical shape with a deterministic point DOES rewrite — the
    // guard above is the only thing blocking it
    val det = And(GreaterThanOrEqual(x, s), LessThanOrEqual(x, e))
    val j2 = Join(lp, rp, Inner, Some(det), JoinHint.NONE)
    assert(AutoRangeJoin(64L)(j2).toString.contains("__pbin"))
  }

  test("null and inverted intervals never match after the rewrite") {
    val iv = Seq((1L, Some(0L), Some(100L)), (2L, None: Option[Long], Some(50L)),
      (3L, Some(60L), Some(40L))).toDF("iid", "s", "e")
    val p = Seq((1L, 20L)).toDF("pid", "x")
    withRule(16L) {
      val got = p.join(iv, $"x" >= $"s" && $"x" <= $"e")
        .select($"iid").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(1L))
    }
  }
}
