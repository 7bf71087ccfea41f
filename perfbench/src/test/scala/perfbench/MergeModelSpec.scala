package perfbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Load

class MergeModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def df(rows: Seq[RateRow]): DataFrame = {
    import spark.implicits._
    rows.map(r => (r.base, r.target, r.rate, new Timestamp(r.ts * 1000),
        new Timestamp(r.retrievedAt * 1000)))
      .toDF("base_currency", "target_currency", "rate", "timestamp", "retrieved_at")
  }

  private def snapshot(d: DataFrame): Map[(String, String), RateRow] =
    d.collect().map { r =>
      val row = RateRow(r.getString(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime / 1000, r.getTimestamp(4).getTime / 1000)
      row.key -> row
    }.toMap

  test("the MERGE model agrees with Load.upsertLatest on late, tied and duplicate rows") {
    def r(t: String, rate: Double, ts: Long, at: Long) = RateRow("USD", t, rate, ts, at)
    val batches = Seq(
      // duplicate keys in one batch: the newest wins, a tie goes to the higher rate
      Seq(r("EGP", 48.0, 100, 1000), r("EGP", 47.0, 90, 1000),
        r("EUR", 0.90, 100, 1000), r("EUR", 0.91, 100, 1000)),
      // newer (update), late (kept out), tied with the stored row (stored stays), new key
      Seq(r("EGP", 49.0, 200, 2000), r("EUR", 0.85, 50, 2000),
        r("JPY", 148.0, 200, 2000)),
      Seq(r("JPY", 150.0, 200, 3000), r("EGP", 50.0, 200, 3000),
        r("EUR", 0.80, 300, 3000), r("EUR", 0.70, 300, 3000)))
    val keys = Seq("base_currency", "target_currency")
    val model = new MergeModel
    var current: DataFrame = null
    val changed = batches.map { b =>
      val n = model(b)
      current =
        if (current == null) Load.latestPerKey(df(b), keys, "timestamp", "rate")
        else Load.upsertLatest(current, df(b), keys, "timestamp", "rate")
      current = spark.createDataFrame(current.collect().toSeq.asJava, current.schema)
      assert(snapshot(current) == model.snapshot)
      n
    }
    assert(changed == Seq(2, 2, 1))
    assert(model.historyRows == 11)
    assert(model.snapshot(("USD", "EUR")).rate == 0.80)
    assert(model.latest(("USD", "EGP")).map(_.rate).contains(50.0))
  }
}
