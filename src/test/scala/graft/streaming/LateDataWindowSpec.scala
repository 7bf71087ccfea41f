package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Watermarked tumbling-window aggregation with a routed late feed:
  * the streamed summary must equal the batch tumbling-window aggregate
  * (the `events_tumbling_window` formulation) over the on-time rows,
  * the late feed must contain exactly the rows below the prior-batch
  * watermark, every input row must land in exactly one of the two
  * (no silent drop), and a replayed batch must not double-count. */
class LateDataWindowSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def summary(path: String): Map[(Timestamp, String), (Long, Long)] =
    spark.read.parquet(path)
      .select($"window_start", $"event_type", $"n", $"sum_cents")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3))))
      .toMap

  test("streamed windows == batch tumbling aggregate over on-time " +
      "rows; late rows routed, none dropped; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_latewin")
    val (aggPath, latePath, ckpt) =
      (s"$dir/agg", s"$dir/late", s"$dir/ckpt")
    val source = MemoryStream[(Long, String, Timestamp, Double)]
    val q = LateDataWindow.run(
      source.toDF().toDF("event_id", "event_type", "ts", "value"),
      aggPath, latePath, ckpt, "ts", "event_type", "value",
      "1 hour", "30 minutes")

    // batch 0: clock reaches 11:10 → next watermark 10:40
    val b0 = Seq(
      (1L, "a", ts("2024-01-01 10:00:00"), 1.00),
      (2L, "a", ts("2024-01-01 10:40:00"), 2.00),
      (3L, "b", ts("2024-01-01 11:10:00"), 3.00))
    // batch 1: 10:30 < 10:40 → LATE; clock reaches 12:00 → wm 11:30
    val b1 = Seq(
      (4L, "a", ts("2024-01-01 10:50:00"), 4.00),
      (5L, "a", ts("2024-01-01 10:30:00"), 5.00),
      (6L, "b", ts("2024-01-01 12:00:00"), 6.00))
    // batch 2: 11:20 < 11:30 → LATE
    val b2 = Seq(
      (7L, "b", ts("2024-01-01 11:20:00"), 7.00),
      (8L, "a", ts("2024-01-01 12:30:00"), 8.00))
    for (b <- Seq(b0, b1, b2)) {
      source.addData(b: _*); q.processAllAvailable()
    }
    q.stop()

    val late = spark.read.parquet(latePath)
    val lateIds = late.select($"event_id").as[Long].collect().toSet
    assert(lateIds == Set(5L, 7L))
    assert(late.select($"reason").distinct().as[String].collect()
      .toSeq == Seq("late"))

    // batch formulation (events_tumbling_window shape) over on-time rows
    val onTime = (b0 ++ b1 ++ b2)
      .toDF("event_id", "event_type", "ts", "value")
      .where(!$"event_id".isin(lateIds.toSeq: _*))
    val expected = onTime
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("long")).as("sum_cents"))
      .select($"w.start", $"event_type", $"n", $"sum_cents")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3))))
      .toMap
    val got = summary(aggPath)
    assert(got == expected, s"streamed $got vs batch $expected")

    // coverage: every input row is in exactly one of the two feeds
    assert(got.values.map(_._1).sum + lateIds.size == 8L)

    // replaying an already-applied batch id changes nothing
    LateDataWindow.applyBatch(spark,
      b2.toDF("event_id", "event_type", "ts", "value"),
      aggPath, latePath, 2L, "ts", "event_type", "value",
      "1 hour", "30 minutes")
    assert(summary(aggPath) == got)
    assert(spark.read.parquet(latePath).count() == 2L)
  }

  test("first batch has no watermark: nothing can be late") {
    val dir = tempDir("graft_latewin0")
    LateDataWindow.applyBatch(spark,
      Seq((1L, "a", ts("2024-01-01 00:00:00"), 1.0))
        .toDF("event_id", "event_type", "ts", "value"),
      s"$dir/agg", s"$dir/late", 0L, "ts", "event_type", "value",
      "1 hour", "30 minutes")
    val late = spark.read.parquet(s"$dir/late")
    assert(late.where($"reason".isNotNull).count() == 0)
    assert(summary(s"$dir/agg").values.map(_._1).sum == 1L)
  }
}
