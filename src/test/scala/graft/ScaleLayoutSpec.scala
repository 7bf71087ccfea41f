package graft

import org.apache.spark.sql.functions._

/** 100 TB layout mechanics, asserted on the physical plan: partition
  * pruning on a partitioned parquet layout, and shuffle-free joins over
  * bucketed tables (SURVEY.md §4 — the layout, not code, buys these). */
class ScaleLayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("partitioned layout: a partition-column filter prunes at plan time") {
    val dir = tempDir("graft_part")
    graft.sources.Layout.writePartitioned(
      Tables.orders(spark, "/root/testdata/sf0.001"), dir, Seq("o_orderstatus"))
    val q = spark.read.parquet(dir).filter($"o_orderstatus" === "O")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("o_orderstatus"), scan)
    // pruned scan must read only the O partition
    val full = spark.read.parquet(dir)
    assert(q.count() == full.filter($"o_orderstatus" === "O").count())
    val files = q.select(input_file_name()).distinct()
      .as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("o_orderstatus=O")), files.mkString("\n"))
  }

  test("AQE splits a skewed join partition at runtime (the non-salted " +
      "skew path: no code change, the planner re-plans from runtime stats)") {
    // one hot key carrying ~100k rows of INCOMPRESSIBLE pad (shuffle
    // sizes are post-compression — a constant pad deflates under the
    // skew threshold) vs 50 cold keys: with low skew thresholds the
    // final adaptive plan must mark the sort-merge join skew-handled,
    // and results must equal the plain join's
    val fact = spark.range(100000)
      .select(lit(0L).as("k"), md5($"id".cast("string")).as("pad"))
      .union(spark.range(1000)
        .select(($"id" % 50 + 1).as("k"), md5($"id".cast("string")).as("pad")))
    val dim = (0L to 50L).toDF("k").withColumn("label", concat(lit("d"), $"k"))
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // max(length(pad)) keeps the wide column alive through the join —
      // column pruning would otherwise strip it before the shuffle and
      // deflate the hot partition below the skew threshold
      val joined = fact.join(dim, "k")
        .groupBy($"label").agg(count(lit(1)).as("n"),
          max(length($"pad")).as("padlen"))
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed join handled:\n$plan")
      assert(got("d0") == 100000L && got("d7") == 20L && got.size == 51)
      ()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    graft.sources.Layout.writeBucketed(
      Tables.orders(spark, "/root/testdata/sf0.001"), "orders_b", 4, Seq("o_orderkey"))
    graft.sources.Layout.writeBucketed(
      Tables.lineitem(spark, "/root/testdata/sf0.001"), "lineitem_b", 4, Seq("l_orderkey"))
    // merge hint forces a non-broadcast join, so bucketing (not a
    // broadcast) is what removes the shuffle
    val noBc = spark.table("lineitem_b").hint("merge")
      .join(spark.table("orders_b"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    noBc.collect()
    val plan = noBc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }

  test("compact: many small append files rewrite to few, data intact") {
    import graft.etl.Load
    val dir = tempDir("graft_compact") + "/hist"
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    (1 to 5).foreach { i => // five streaming-style appends
      Load.appendHistorical(orders.filter($"o_orderkey" % 5 === i % 5), dir)
    }
    val before = spark.read.parquet(dir)
    val beforeCount = before.count()
    val beforeFiles = before.select(input_file_name()).distinct().count()
    assert(beforeFiles >= 5)
    graft.sources.Layout.compact(spark, dir, nFiles = 1)
    val after = spark.read.parquet(dir)
    assert(after.count() == beforeCount)
    assert(after.select(input_file_name()).distinct().count() == 1)
  }

  test("dynamic partition overwrite rewrites only the touched partition") {
    val dir = tempDir("graft_dynpart")
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    graft.sources.Layout.writePartitioned(orders, dir, Seq("o_orderstatus"))
    val beforeF = spark.read.parquet(dir)
      .filter($"o_orderstatus" === "F").count()
    val beforeO = spark.read.parquet(dir)
      .filter($"o_orderstatus" === "O").count()

    // reprocess ONLY the O partition: replace it with a 10-row slice
    val replacement = orders.filter($"o_orderstatus" === "O").limit(10)
    graft.sources.Layout.overwritePartitionsDynamic(
      replacement, dir, Seq("o_orderstatus"))

    val after = spark.read.parquet(dir)
    assert(after.filter($"o_orderstatus" === "O").count() == 10,
      "touched partition must be replaced")
    assert(after.filter($"o_orderstatus" === "F").count() == beforeF,
      "untouched partition must survive")
    assert(beforeO > 10, "fixture sanity: the replacement actually shrank O")
  }

  test("join-driven dynamic partition pruning: a selective dim filter " +
      "prunes the partitioned fact scan at RUNTIME") {
    // static pruning (test 1) needs the literal on the partition
    // column; at 100 TB the selective predicate usually sits on a DIM
    // joined to the fact's partition key — DPP pushes the dim's
    // qualifying keys into the fact scan as a runtime subquery filter,
    // reading only the matching partitions
    val dir = tempDir("graft_dpp")
    graft.sources.Layout.writePartitioned(
      Tables.orders(spark, "/root/testdata/sf0.001"), dir, Seq("o_orderstatus"))
    // DPP fires only when the dim side carries a SELECTIVE predicate —
    // and the dim must be a real datasource: a literal in-memory
    // relation gets its filter constant-folded away
    // (ConvertToLocalRelation), leaving no Filter node to derive the
    // pruning subquery from
    val dimDir = tempDir("graft_dpp_dim")
    Seq(("O", "open"), ("F", "closed"), ("P", "pending"))
      .toDF("status", "label").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"label" === "open")
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    // broadcast join is DPP's cheap path (reuses the dim broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      val q = spark.read.parquet(dir)
        .join(dim, $"o_orderstatus" === $"status")
        .groupBy($"label").agg(count(lit(1)).as("n"))
      val got = q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"),
        s"fact scan must carry a runtime partition filter:\n$plan")
      assert(got.length == 1 && got.head.getString(0) == "open")
      ()
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("runtime bloom-filter join pruning: a selective non-partition dim " +
      "filter injects a bloom probe into the fact scan side") {
    // the unpartitioned sibling of DPP: when the join key is NOT the
    // layout key, Spark can still build a bloom filter from the
    // selective build side and probe it on the fact side before the
    // shuffle — at 100 TB this is row-level pruning ahead of the
    // exchange. Thresholds lowered so the tiny fixture qualifies.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select($"l_orderkey", $"l_quantity")
      val dim = Tables.orders(spark, "/root/testdata/sf0.001")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      val q = fact.join(dim, $"l_orderkey" === $"o_orderkey")
        .agg(count(lit(1)).as("n"), sum($"l_quantity").as("qty"))
      val n = q.collect().head.getLong(0)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"fact side must probe a runtime bloom filter:\n$plan")
      assert(n > 0)
      ()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("cached plans serve repeated queries from memory, not the scan") {
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy($"l_returnflag").agg(sum($"l_quantity").as("q"))
      .cache()
    try {
      df.count() // materialize
      val second = df.filter($"q" > 0)
      val plan = second.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"repeat query must hit the cache, got:\n$plan")
    } finally df.unpersist()
  }
}
