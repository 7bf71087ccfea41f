package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Incremental aggregate-view maintenance: the streamed summary must
  * equal the batch aggregate over all rows ever seen, and a replayed
  * batch must not double-count. */
class IncrementalAggSpec extends SparkTestBase {
  import spark.implicits._

  private def snapshot(path: String): Map[String, (Long, Double, Double, Double)] =
    spark.read.parquet(path)
      .select($"k", $"cnt", $"sum", $"min", $"max").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap

  test("streamed summary == batch aggregate over the full history") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_incragg")
    val (path, ckpt) = (s"$dir/summary", s"$dir/ckpt")
    val source = MemoryStream[(String, Double)]
    val q = IncrementalAgg.run(source.toDF().toDF("k", "v"), path, ckpt,
      "k", "v")
    val batches = Seq(
      Seq("a" -> 1.0, "a" -> 3.0, "b" -> 10.0),
      Seq("a" -> -2.0, "c" -> 7.5),
      Seq("b" -> 4.0, "c" -> 7.5, "c" -> 0.0))
    for (b <- batches) { source.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val all = batches.flatten.toDF("k", "v")
      .groupBy($"k")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum"),
        min($"v").as("min"), max($"v").as("max"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(snapshot(path) == all,
      s"incremental ${snapshot(path)} vs batch $all")
  }

  test("a replayed batch id is skipped: no double counting; a crashed " +
      "un-published merge replays correctly") {
    val dir = tempDir("graft_incragg2")
    val path = s"$dir/summary"
    val b0 = Seq("a" -> 1.0, "b" -> 2.0).toDF("k", "v")
    val b1 = Seq("a" -> 5.0).toDF("k", "v")
    IncrementalAgg.applyBatch(spark, b0, path, "k", "v", 0L)
    IncrementalAgg.applyBatch(spark, b1, path, "k", "v", 1L)
    IncrementalAgg.applyBatch(spark, b1, path, "k", "v", 1L) // replay: skip
    assert(snapshot(path) ==
      Map("a" -> ((2L, 6.0, 1.0, 5.0)), "b" -> ((1L, 2.0, 2.0, 2.0))))

    // crash window: a staging dir that never reached the commit point
    // (dest still present) must be discarded and the batch re-merged —
    // the marker travels with the PUBLISHED data only
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stg = new org.apache.hadoop.fs.Path(path + "__staging")
    fs.mkdirs(stg)
    fs.create(new org.apache.hadoop.fs.Path(stg, "_SUCCESS"), true).close()
    IncrementalAgg.applyBatch(spark, Seq("c" -> 9.0).toDF("k", "v"),
      path, "k", "v", 2L)
    assert(!fs.exists(stg), "uncommitted staging must be discarded")
    assert(snapshot(path)("c") == ((1L, 9.0, 9.0, 9.0)))
  }

  test("a replay OLDER than the pruned marker tail is refused by the " +
      "high-water mark (checkpoint restored from backup / reset ids)") {
    val dir = tempDir("graft_incragg3")
    val path = s"$dir/summary"
    val b0 = Seq("a" -> 1.0).toDF("k", "v")
    IncrementalAgg.applyBatch(spark, b0, path, "k", "v", 0L)
    IncrementalAgg.applyBatch(spark, Seq("a" -> 2.0).toDF("k", "v"),
      path, "k", "v", 1L)
    // simulate the 64-marker tail pruning having dropped batch 0's marker
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_applied_0"), false)
    val before = snapshot(path)
    IncrementalAgg.applyBatch(spark, b0, path, "k", "v", 0L) // deep replay
    assert(snapshot(path) == before,
      "a batch id at or below the high-water mark must never re-merge")
    assert(before("a") == ((2L, 3.0, 1.0, 2.0)))
  }

  test("merge is the aggregates' own algebra: associative across splits") {
    val rows = Seq("x" -> 2.0, "y" -> -1.0, "x" -> 0.5, "z" -> 3.0,
      "y" -> 8.0, "x" -> 4.0)
    val whole = IncrementalAgg.partial(rows.toDF("k", "v"), "k", "v")
    for (cut <- 1 until rows.size) {
      val (l, r) = rows.splitAt(cut)
      val merged = IncrementalAgg.merge(
        IncrementalAgg.partial(l.toDF("k", "v"), "k", "v"),
        IncrementalAgg.partial(r.toDF("k", "v"), "k", "v"), "k")
      val a = merged.orderBy($"k").collect().toSeq.toString
      val b = whole.orderBy($"k").collect().toSeq.toString
      assert(a == b, s"split at $cut: $a vs $b")
    }
  }
}
