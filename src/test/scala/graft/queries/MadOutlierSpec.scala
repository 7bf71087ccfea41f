package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkTestBase}

/** events_outlier_mad's reason to exist: breakdown resistance. A single
  * planted extreme value must (a) be the only flagged row and (b) leave
  * the median/MAD band itself essentially unmoved — the property the
  * moment-based z-score band cannot offer (the outlier inflates its own
  * sigma). */
class MadOutlierSpec extends SparkTestBase {

  private def writeEvents(dir: String, values: Seq[Double]): Unit = {
    val s = spark
    import s.implicits._
    values.zipWithIndex.map { case (v, i) =>
      (i.toLong, new Timestamp(1700000000000L + i * 1000L), i.toLong % 7,
        "click", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  // 21 well-behaved values around 100 (median 100.0, MAD 2.0) ...
  private val base: Seq[Double] =
    (-10 to 10).map(i => 100.0 + (i % 5)) // values in {98..102}

  test("a planted 1e6 outlier is flagged, and only it") {
    val d = tempDir("mad-fixture")
    writeEvents(d, base :+ 1e6)
    val row = SparkEntry.queries("events_outlier_mad")(spark, d)
      .collect().head
    assert(row.getString(0) == "click")
    assert(row.getLong(1) == 22L) // n_rows
    assert(row.getLong(2) == 1L)  // n_outliers: exactly the plant
  }

  test("the band is breakdown-resistant: outlier barely moves median/MAD") {
    val d1 = tempDir("mad-clean")
    val d2 = tempDir("mad-dirty")
    writeEvents(d1, base)
    writeEvents(d2, base :+ 1e6)
    def stats(dir: String): (Long, Long) = {
      val r = SparkEntry.queries("events_outlier_mad")(spark, dir)
        .collect().head
      (r.getLong(3), r.getLong(4)) // median_cents_x2, mad_cents_x4
    }
    val (medClean, madClean) = stats(d1)
    val (medDirty, madDirty) = stats(d2)
    // doubled-cents units: one value step = 200; the 1e6 plant moves the
    // MEAN by ~45k dollars but the median/MAD by at most one step
    assert(math.abs(medDirty - medClean) <= 200L)
    assert(math.abs(madDirty - madClean) <= 400L)
  }
}
