package graft.sources

import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}

import graft.SparkTestBase
import graft.etl.Transform

/** The fetch stamp (`retrieved_at`) is read by generated code through a
  * reference (`graft.functions.BoundConstant`), so a micro-batch whose
  * only difference from the last one is its stamp compiles no class,
  * and still carries its own stamp. */
class BoundStampSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = Seq(
    "base_currency" -> StringType, "target_currency" -> StringType,
    "rate" -> DoubleType, "timestamp" -> TimestampType,
    "retrieved_at" -> TimestampType)

  private val payloads = Seq(
    """{"success": true, "source": "USD", "timestamp": 1704153600,
      | "quotes": {"USDEGP": 48.0, "USDEUR": 0.92, "USDJPY": null}}""".stripMargin,
    """{"success": false}""")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One batch through parseLive → alignSchema, counted then collected:
    * its rows, sorted by target, and the classes compiled meanwhile. */
  private def batch(now: Column): (Seq[Row], Long) = {
    val c0 = compiles
    val df = Transform.alignSchema(
      Transform.dropNullOn(Fetch.parseLive(payloads.toDF("j"), "j", "USD", None, now), "rate"),
      schema)
    assert(df.count() == 2)
    val rows = df.collect().sortBy(_.getString(1)).toSeq
    (rows, compiles - c0)
  }

  private def stamps(rows: Seq[Row]): Set[Timestamp] = rows.map(_.getTimestamp(4)).toSet

  test("literal stamps: the second batch compiles nothing and carries its own stamp") {
    val (t1, t2) = (Timestamp.valueOf("2024-01-02 06:00:00"),
      Timestamp.valueOf("2024-01-03 06:00:00"))
    val (rows1, _) = batch(lit(t1))
    val (rows2, compiled) = batch(lit(t2))
    assert(compiled == 0)
    assert(stamps(rows1) == Set(t1) && stamps(rows2) == Set(t2))
    assert(rows1.map(r => (r.getString(1), r.getDouble(2))) == Seq("EGP" -> 48.0, "EUR" -> 0.92))
  }

  test("epoch-second stamps (the micro-batch's timestamp_seconds) compile nothing") {
    val (rows1, _) = batch(timestamp_seconds(lit(1704189600L)))
    val (rows2, compiled) = batch(timestamp_seconds(lit(1704193200L)))
    assert(compiled == 0)
    assert(stamps(rows1) == Set(new Timestamp(1704189600000L)))
    assert(stamps(rows2) == Set(new Timestamp(1704193200000L)))
  }

  test("current_timestamp() stamps: fixed per query, no compile on the second batch") {
    batch(current_timestamp())
    val before = System.currentTimeMillis()
    val (rows, compiled) = batch(current_timestamp())
    val after = System.currentTimeMillis()
    assert(compiled == 0)
    val stamp = stamps(rows)
    assert(stamp.size == 1, stamp)
    assert(stamp.head.getTime >= before - 1 && stamp.head.getTime <= after, stamp)
  }

  test("cast-string stamps (pipeline_e2e's) compile nothing and keep their value") {
    // values no other case uses: a folded stamp equal to an earlier
    // case's would find that case's class in the cache
    val (rows1, _) = batch(lit("2024-02-02 06:00:00").cast("timestamp"))
    val (rows2, compiled) = batch(lit("2024-02-03 06:00:00").cast("timestamp"))
    assert(compiled == 0)
    assert(stamps(rows1) == Set(Timestamp.valueOf("2024-02-02 06:00:00")))
    assert(stamps(rows2) == Set(Timestamp.valueOf("2024-02-03 06:00:00")))
  }

  test("interpreted evaluation (no codegen) gives the same rows") {
    val now = lit(Timestamp.valueOf("2024-01-04 06:00:00"))
    val (generated, _) = batch(now)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    spark.conf.set(keys(0), false)
    spark.conf.set(keys(1), "NO_CODEGEN")
    val (interpreted, _) = try batch(now) finally keys.foreach(spark.conf.unset)
    assert(interpreted == generated)
  }
}
