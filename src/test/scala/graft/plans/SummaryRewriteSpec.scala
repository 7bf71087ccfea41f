package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.streaming.IncrementalAgg

/** The aggregate navigator: derivable aggregates over a summary's base
  * table re-plan onto the materialized summary given with the query;
  * anything outside the derivable surface is left untouched; results
  * are identical. */
class SummaryRewriteSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = tempDir("graft_sumrw")
  private val basePath = s"$dir/srw_fact_tbl"
  private val summaryPath = s"$dir/srw_summary_tbl"

  // base: 3 keys, values with nulls EXCLUDED (count(*) vs count(col)
  // derivability is what the rule's scope guards — see negative test)
  private val rows = Seq(
    ("a", 1.0), ("a", 3.5), ("a", -2.0),
    ("b", 10.0), ("b", 0.25),
    ("c", 7.0))

  private lazy val ready: Unit = {
    rows.toDF("k", "v").write.mode("overwrite").parquet(basePath)
    IncrementalAgg.partial(spark.read.parquet(basePath), "k", "v")
      .write.mode("overwrite").parquet(summaryPath)
  }

  private val spec = SummarySpec(basePath, summaryPath, Seq("k"), "v")

  /** `q` rewritten against the base table's summary. */
  private def navigated(q: DataFrame): DataFrame = {
    ready
    SummaryRewrite.rewrite(q, spec)
  }

  private def base: DataFrame = { ready; spark.read.parquet(basePath) }

  private def scans(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("grouped count/sum/min/max re-plan onto the summary, identical results") {
    val direct = base.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"),
        min($"v").as("lo"), max($"v").as("hi"))
      .orderBy($"k").collect().toSeq.toString
    val q = navigated(base.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"),
        min($"v").as("lo"), max($"v").as("hi"))
      .orderBy($"k"))
    val plan = scans(q)
    assert(plan.contains("srw_summary_tbl") && !plan.contains("srw_fact_tbl"),
      s"must scan the summary, not the base:\n$plan")
    assert(q.collect().toSeq.toString == direct)
  }

  test("global (ungrouped) aggregate derives too") {
    val direct = base.agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().toSeq.toString
    val q = navigated(base.agg(count(lit(1)).as("n"), sum($"v").as("s")))
    assert(scans(q).contains("srw_summary_tbl"), scans(q))
    assert(q.collect().toSeq.toString == direct)
  }

  test("a DIM-ONLY filter commutes: it rebases onto the summary scan " +
      "and the rewrite still fires with identical results") {
    val direct = base.where($"k" =!= "b").groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .orderBy($"k").collect().toSeq.toString
    val q = navigated(base.where($"k" =!= "b").groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .orderBy($"k"))
    assert(scans(q).contains("srw_summary_tbl"), scans(q))
    assert(q.collect().toSeq.toString == direct)
  }

  test("out-of-scope shapes do NOT rewrite: value-column filter, avg, " +
      "count(col), distinct, foreign column, unregistered table") {
    for (q <- Seq(
      base.where($"v" > 0).groupBy($"k").agg(sum($"v")), // value filter
      base.groupBy($"k").agg(avg($"v")),                 // not derivable
      base.groupBy($"k").agg(count($"v")),               // null-skipping
      base.groupBy($"k").agg(countDistinct($"v")),       // distinct
      base.groupBy($"v").agg(count(lit(1))))) {          // non-dim group
      val nq = navigated(q)
      assert(!scans(nq).contains("srw_summary_tbl"),
        s"must NOT rewrite:\n${nq.queryExecution.optimizedPlan}")
      assert(nq eq q, "an untouched query comes back as itself")
    }
    // the summary of another base table does not apply here
    val q = base.groupBy($"k").agg(sum($"v"))
    val other = SummaryRewrite.rewrite(q,
      spec.copy(basePath = s"$dir/srw_other_tbl"))
    assert(!scans(other).contains("srw_summary_tbl"), "unregistered → untouched")
  }

  test("dim filter matching NO rows: global count(*) derives 0, not " +
      "NULL (sum over an empty summary is NULL; count must not be)") {
    val direct = base.where($"k" === "zzz")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().toSeq.toString
    val q = navigated(base.where($"k" === "zzz")
      .agg(count(lit(1)).as("n"), sum($"v").as("s")))
    assert(scans(q).contains("srw_summary_tbl"), scans(q))
    assert(q.collect().toSeq.toString == direct,
      s"expected $direct got ${q.collect().toSeq}")
  }

  test("decimal sum: the derived column is cast back to the original " +
      "widened type (summary sum-of-sums would otherwise widen twice)") {
    val ddir = tempDir("graft_sumrw_dec")
    val dbase = s"$ddir/dec_base"
    val dsum = s"$ddir/dec_summary"
    rows.toDF("k", "v")
      .select($"k", $"v".cast("decimal(10,2)").as("v"))
      .write.mode("overwrite").parquet(dbase)
    IncrementalAgg.partial(spark.read.parquet(dbase), "k", "v")
      .write.mode("overwrite").parquet(dsum)
    val direct = spark.read.parquet(dbase).groupBy($"k").agg(sum($"v").as("s"))
    val expect = direct.orderBy($"k").collect().toSeq.toString
    val q = SummaryRewrite.rewrite(spark.read.parquet(dbase).groupBy($"k")
      .agg(sum($"v").as("s")).orderBy($"k"),
      SummarySpec(dbase, dsum, Seq("k"), "v"))
    assert(scans(q).contains("dec_summary"), scans(q))
    assert(q.queryExecution.executedPlan.schema("s").dataType ==
      direct.schema("s").dataType,
      s"executed type ${q.queryExecution.executedPlan.schema("s").dataType}" +
        s" != analyzed ${direct.schema("s").dataType}")
    assert(q.collect().toSeq.toString == expect)
  }

  test("catalog entry summary_rewrite_agg: the executed plan scans the " +
      "summary snapshot, never the base copy") {
    val q = graft.queries.OperatorQueries.summaryRewriteAgg
      .query(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_summary_nav"), plan)
    assert(plan.contains("/summary"), s"must scan the summary:\n$plan")
    assert(!plan.contains("/base"), s"must NOT scan the base:\n$plan")
    val rows = q.collect()
    assert(rows.nonEmpty && rows.forall(!_.isNullAt(1)))
  }

  test("summary stays correct as IncrementalAgg maintains it") {
    // fold one more batch through the maintainer, point the spec at the
    // maintained snapshot, and the navigator serves the new total
    val snap = s"$dir/maintained"
    IncrementalAgg.applyBatch(spark, rows.toDF("k", "v"), snap, "k", "v", 0L)
    IncrementalAgg.applyBatch(spark,
      Seq(("c", 100.0), ("d", 5.0)).toDF("k", "v"), snap, "k", "v", 1L)
    val all = (rows ++ Seq(("c", 100.0), ("d", 5.0))).toDF("k", "v")
    val allPath = s"$dir/base_all"
    all.write.mode("overwrite").parquet(allPath)
    val q = SummaryRewrite.rewrite(spark.read.parquet(allPath).groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s")).orderBy($"k"),
      SummarySpec(allPath, snap, Seq("k"), "v"))
    assert(scans(q).contains("maintained"), scans(q))
    val direct = all.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s")).orderBy($"k")
      .collect().toSeq.toString
    assert(q.collect().toSeq.toString == direct)
  }
}
