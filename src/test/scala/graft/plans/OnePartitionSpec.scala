package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkTestBase}
import graft.obs.RunMetrics
import graft.tools.Profile

/** The small-query rewrite applied by `CatalogEntry.query`: where its
  * gate fires, a rate query runs as one job with no shuffle and returns
  * the rows of the un-rewritten query; where it does not fire (a spread
  * scan, a join estimate above the bound, a stream, a lowered bound, a
  * query that plans no exchange anyway), the query is returned as it
  * was built. */
class OnePartitionSpec extends SparkTestBase {

  private val Sf001 = "/root/testdata/sf0.001"
  private val Sf01 = "/root/testdata/sf0.01"

  /** The entries of perfbench's `rate_queries` workload. */
  private val RateQueries = Seq(
    "topk_latest_per_pair", "earliest_in_window", "sort_limit_5000", "filter_eq",
    "filter_conj_eq", "filter_range_ts", "window_lag_pct_change", "moving_avg",
    "moving_avg_time_range", "scalar_pct_change", "latest_per_key_maxby",
    "merge_upsert", "count_rows", "preview_head", "window_first_last",
    "cdc_snapshot_diff", "pipeline_e2e")

  private def bound: Long = spark.sessionState.conf.filesOpenCostInBytes

  private def fires(df: DataFrame): Boolean = !(OnePartition.rewrite(df) eq df)

  /** Shuffle exchanges in `df`'s executed plan: tree lines whose
    * operator is `Exchange` (a `BroadcastExchange` is not one). */
  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator
      .count(_.dropWhile(c => !c.isLetter).startsWith("Exchange "))

  private def withConf[A](k: String, v: String)(f: => A): A = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("at sf0.01 every rate query but cdc_snapshot_diff runs as one job " +
      "with no shuffle (two for earliest_in_window's broadcast); the gate " +
      "fires on each that plans an exchange without it") {
    val rec = new RunMetrics.Recorder(keepPlans = false)
    val counted = RunMetrics.recording(spark, rec)(RateQueries.map { name =>
      val entry = SparkEntry.catalog(name)
      val fired = fires(entry.build(spark, Sf01))
      val group = s"one-partition-$name"
      RunMetrics.inGroup(spark, group)(
        entry.query(spark, Sf01).write.format("noop").mode("overwrite").save())
      RunMetrics.settle(spark, rec)
      val st = rec.take(group)
      (name, fired, st.jobs, st.shufW)
    })
    // cdc_snapshot_diff's join estimate is the product of its inputs;
    // the other three are a per-partition top-k over a scan, which
    // plans no exchange with or without the rewrite
    val notFired = counted.collect { case (n, false, _, _) => n }
    assert(notFired == Seq("topk_latest_per_pair", "sort_limit_5000",
      "preview_head", "cdc_snapshot_diff"), notFired)
    val wrong = counted.collect {
      case (n, _, jobs, shufW) if n != "cdc_snapshot_diff" &&
          (jobs != (if (n == "earliest_in_window") 2 else 1) || shufW != 0) =>
        s"$n: $jobs jobs, $shufW shuffle bytes"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("every catalog entry the gate fires on at sf0.001 returns the " +
      "rows of its un-rewritten query") {
    val checked = SparkEntry.catalog.toSeq.sortBy(_._1).flatMap { case (name, entry) =>
      val df = entry.build(spark, Sf001)
      val one = OnePartition.rewrite(df)
      if (one eq df) None
      else Some(name -> (df.collect().toSeq == one.collect().toSeq))
    }
    // 90 entries fire at sf0.001; a gate that stopped firing would
    // pass the row check vacuously
    assert(checked.size >= 80, s"the gate fired on only ${checked.size} entries")
    val differ = checked.collect { case (n, false) => n }
    assert(differ.isEmpty, s"rows differ after the rewrite: ${differ.mkString(", ")}")
  }

  test("the gate does not fire on a spread documents scan, a join " +
      "estimate above the bound, a stream, or a query with no exchange") {
    // Tables.documents spreads its scan with a shuffle repartition
    val docs = SparkEntry.catalog("doc_quality_filter").build(spark, Sf001)
    assert(!fires(docs) && shuffles(docs) > 0)
    // the full outer join of two snapshots estimates as the product of
    // its inputs, far above 4 MB though each input is small
    val cdc = SparkEntry.catalog("cdc_snapshot_diff").build(spark, Sf001)
    assert(!OnePartition.fires(cdc.queryExecution.analyzed, bound) && !fires(cdc))
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Int].toDF().groupBy($"value").count()
    assert(!OnePartition.fires(stream.queryExecution.analyzed, bound) && !fires(stream))
    // a top-k over a scan plans no exchange: the coalesce would only
    // add its own cost
    val topk = SparkEntry.catalog("preview_head").build(spark, Sf001)
    assert(shuffles(topk) == 0 && !fires(topk))
    assert(fires(spark.range(10).toDF().orderBy($"id".desc)))
  }

  test("sql_exists_subquery at sf0.01: rewritten inside its EXISTS and " +
      "scalar subqueries, it runs with no shuffle and returns its built rows") {
    val entry = SparkEntry.catalog("sql_exists_subquery")
    val one = entry.query(spark, Sf01)
    val rows = one.collect().toSeq
    assert(Profile.shuffleExchanges(one) == 0, one.queryExecution.executedPlan)
    assert(rows == entry.build(spark, Sf01).collect().toSeq)
  }

  test("an EXISTS subquery over a table above the bound keeps the gate " +
      "from firing") {
    spark.range(10).createOrReplaceTempView("one_partition_outer")
    spark.range(100).createOrReplaceTempView("one_partition_small")
    // a range's estimate is 8 bytes a row: 80 MB here
    spark.range(10000000).createOrReplaceTempView("one_partition_big")
    def existsIn(view: String): DataFrame = spark.sql(
      s"""SELECT id % 2 AS k, count(1) AS n FROM one_partition_outer o
         |WHERE EXISTS (SELECT 1 FROM $view b WHERE b.id = o.id)
         |GROUP BY id % 2""".stripMargin)
    assert(fires(existsIn("one_partition_small")))
    assert(!fires(existsIn("one_partition_big")))
  }

  test("filter_eq: rewritten with no exchange and its filter still pushed " +
      "to the scan; with the bound at 1 byte its range exchange stays") {
    val entry = SparkEntry.catalog("filter_eq")
    val one = entry.query(spark, Sf001)
    val plan = one.queryExecution.executedPlan.toString
    assert(shuffles(one) == 0, plan)
    assert("""PushedFilters: \[[^\]]""".r.findFirstIn(plan).isDefined, plan)
    withConf("spark.sql.files.openCostInBytes", "1") {
      val df = entry.query(spark, Sf001)
      assert(!fires(entry.build(spark, Sf001)))
      val sorted = df.queryExecution.executedPlan.toString
      assert(sorted.contains("Exchange rangepartitioning"), sorted)
    }
  }
}
