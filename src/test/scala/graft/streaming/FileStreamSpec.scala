package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** File-based streaming source — the reference's actual feed shape
  * (each DAG run lands a new file; SURVEY.md §2.9): `readStream` over a
  * directory picks up files as they arrive, and the full MicroBatch
  * pipeline (partitioned history append + atomic snapshot upsert) runs
  * per discovered batch. MemoryStream specs prove the semantics; this
  * proves the SOURCE wiring: schema-explicit directory scan,
  * AvailableNow trigger draining, and late-file merge through the same
  * strict guard.
  */
class FileStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val schema = StructType(Seq(
    StructField("base", StringType), StructField("target", StringType),
    StructField("rate", DoubleType), StructField("ts", TimestampType),
    StructField("uid", LongType)))

  test("directory-fed stream drains through MicroBatch with upsert semantics") {
    val root = tempDir("filestream")
    val in = s"$root/in"; val hist = s"$root/hist"; val cur = s"$root/cur"

    def drain(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(in)
      val q = MicroBatch.writer(stream, hist, cur,
        keys = Seq("base", "target"), tsCol = "ts", tieCol = "uid")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // file 1 arrives
    Seq(("USD", "EGP", 48.0, ts("2024-01-02 00:00:00"), 1L),
      ("USD", "EUR", 0.92, ts("2024-01-02 00:00:00"), 2L))
      .toDF("base", "target", "rate", "ts", "uid")
      .write.mode("append").parquet(in)
    drain()
    assert(spark.read.parquet(cur).count() == 2)

    // file 2 arrives later: one genuinely newer row, one late row
    Seq(("USD", "EGP", 49.0, ts("2024-01-03 00:00:00"), 3L),
      ("USD", "EUR", 0.85, ts("2024-01-01 00:00:00"), 4L))
      .toDF("base", "target", "rate", "ts", "uid")
      .write.mode("append").parquet(in)
    drain()

    val current = spark.read.parquet(cur)
      .select($"target", $"rate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(current == Map("EGP" -> 49.0, "EUR" -> 0.92),
      s"newer row upserts, late row must not clobber: $current")

    // history keeps every observation, partitioned by discovery batch
    val histDf = spark.read.parquet(hist)
    assert(histDf.count() == 4, "all rows land in history")
    assert(histDf.select($"batch_id").distinct().count() >= 2,
      "each drained batch lands in its own partition")
  }
}
