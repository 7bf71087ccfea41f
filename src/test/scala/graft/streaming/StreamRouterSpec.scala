package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Dead-letter routing parity with the batch `events_quarantine`
  * semantics: priority order of rules, full-row quarantine with
  * reasons, and idempotent per-batch delivery on both feeds. */
class StreamRouterSpec extends SparkTestBase {
  import spark.implicits._

  private def rules = Seq(
    "poison_type" -> (col("event_type") === "error"),
    "below_min_value" -> (col("value") < 5.0),
    "blocklisted_user" -> (col("user_id") % 97 === 0))

  test("rules fire in priority order; clean rows carry no reason column") {
    val batch = Seq(
      (1L, 10L, "error", 1.0),   // matches ALL rules → poison_type wins
      (2L, 11L, "click", 2.0),   // below_min_value
      (3L, 97L, "click", 9.0),   // blocklisted_user
      (4L, 12L, "view", 9.0))    // clean
      .toDF("event_id", "user_id", "event_type", "value")
    val (clean, quarantined) = StreamRouter.route(batch, rules)
    assert(clean.columns.toSeq ==
      Seq("event_id", "user_id", "event_type", "value"))
    assert(clean.select("event_id").as[Long].collect().toSeq == Seq(4L))
    val q = quarantined.select("event_id", "reason").as[(Long, String)]
      .collect().toMap
    assert(q == Map(1L -> "poison_type", 2L -> "below_min_value",
      3L -> "blocklisted_user"))
  }

  test("streaming: both feeds land per batch; a replayed batch id is " +
      "absorbed, not duplicated") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_router")
    val (cleanP, quarP, ckpt) = (s"$dir/clean", s"$dir/quar", s"$dir/ckpt")

    val source = MemoryStream[(Long, Long, String, Double)]
    val stream = source.toDF().toDF("event_id", "user_id", "event_type", "value")
    val q = StreamRouter.run(stream, cleanP, quarP, ckpt, rules)

    source.addData((1L, 10L, "error", 1.0), (2L, 12L, "view", 9.0))
    q.processAllAvailable()
    source.addData((3L, 11L, "click", 2.0), (4L, 13L, "view", 8.0))
    q.processAllAvailable()
    q.stop()

    val clean = spark.read.parquet(cleanP)
    val quar = spark.read.parquet(quarP)
    assert(clean.select("event_id").as[Long].collect().toSet == Set(2L, 4L))
    assert(quar.select("event_id", "reason").as[(Long, String)].collect()
      .toMap == Map(1L -> "poison_type", 3L -> "below_min_value"))
    // both feeds keep the reprocessing-window key
    assert(clean.columns.contains("batch_id") &&
      quar.columns.contains("batch_id"))

    // at-least-once replay: re-deliver batch 0's rows under batch id 0 —
    // the _SUCCESS check must skip both writes
    val replay = Seq((1L, 10L, "error", 1.0), (2L, 12L, "view", 9.0))
      .toDF("event_id", "user_id", "event_type", "value")
    val (rc, rq) = StreamRouter.route(replay, rules)
    StreamRouter.appendBatch(rc, cleanP, 0L)
    StreamRouter.appendBatch(rq, quarP, 0L)
    assert(spark.read.parquet(cleanP).count() == 2)
    assert(spark.read.parquet(quarP).count() == 2)
  }
}
