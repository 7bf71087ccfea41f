package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}

import graft.SparkTestBase
import graft.etl.{Load, Transform}

/** End-to-end mirror of the DAG chain (fetch_transform_load_dag.py:190):
  * fixture JSON → fetch shape → transform → load (append + upsert),
  * asserting historical growth and a one-row-per-pair snapshot with the
  * late-data guard — SURVEY.md §5.4. */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def fixture(epoch: Long, quotes: String): String =
    s"""{"success": true, "source": "USD", "timestamp": $epoch, "quotes": {$quotes}}"""

  private val loadSchema = Seq(
    "base_currency" -> StringType, "target_currency" -> StringType,
    "rate" -> DoubleType, "timestamp" -> TimestampType,
    "retrieved_at" -> TimestampType)

  test("fetch→transform→load: append grows, current keeps latest per pair") {
    val dir = tempDir("graft_e2e")
    val hist = s"$dir/historical_rates"

    def runOnce(json: String): org.apache.spark.sql.DataFrame = {
      val fetched = Fetch.parseLive(Seq(json).toDF("value"), "value", "USD",
        now = lit("2024-01-05 00:00:00").cast("timestamp"))
      // transform.py:39-41: dropna → coerce → dropna
      val transformed = Transform.dropNullOn(
        Transform.dropNullOn(fetched, "rate")
          .withColumn("rate", Transform.coerceDouble($"rate".cast("string"))),
        "rate")
      // load_to_bigquery.py:44-54: align + reorder
      Transform.alignSchema(transformed, loadSchema)
    }

    val b1 = runOnce(fixture(1704153600L, """"USDEGP": 48.0, "USDEUR": 0.92"""))
    Load.appendHistorical(b1, hist)
    val cur1 = Load.latestPerKey(b1,
      Seq("base_currency", "target_currency"), "timestamp", "rate")

    // second run: EGP newer (update), EUR older (guard), JPY new (insert)
    val newer = fixture(1704240000L, """"USDEGP": 49.0, "USDJPY": 148.0""")
    val older = fixture(1704067200L, """"USDEUR": 0.90""")
    val b2 = runOnce(newer).unionByName(runOnce(older))
    Load.appendHistorical(b2, hist)
    val cur2 = Load.upsertLatest(cur1, b2,
      Seq("base_currency", "target_currency"), "timestamp", "rate")

    assert(spark.read.parquet(hist).count() == 5) // 2 + 3, append-only
    val snap = cur2.select($"target_currency", $"rate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(snap == Map("EGP" -> 49.0, "EUR" -> 0.92, "JPY" -> 148.0))
    assert(cur2.count() == 3) // exactly one row per pair

    // staging sink truncates on each load (load_to_bigquery.py:88-95)
    val stage = s"$dir/tmp_rates"
    Load.overwriteStaging(b1, stage)
    Load.overwriteStaging(b2, stage)
    assert(spark.read.parquet(stage).count() == 3) // b2 only, truncated
  }

  test("parseLive: failed payloads and corrupt JSON are excluded") {
    val rows = Seq(
      fixture(1704153600L, """"USDEGP": 48.0"""),
      """{"success": false, "error": {"code": 104}}""",
      """not json at all {{{""").toDF("value")
    val out = Fetch.parseLive(rows, "value", "USD")
    assert(out.count() == 1)
    assert(out.select($"target_currency").as[String].collect().toSeq == Seq("EGP"))
  }

  test("latestFile returns the newest matching file (transform.py:12-25)") {
    val dir = Paths.get(tempDir("graft_fs"))
    def write(name: String, mtime: Long): Unit = {
      val p = dir.resolve(name)
      Files.writeString(p, "x")
      p.toFile.setLastModified(mtime)
    }
    write("currency_live_USD_1.csv", 1000000L)
    write("currency_live_USD_2.csv", 2000000L)
    write("other.txt", 3000000L)
    val got = FsUtil.latestFile(spark, dir.toString, "currency_live")
    assert(got.exists(_.endsWith("currency_live_USD_2.csv")))
    assert(FsUtil.latestFile(spark, dir.toString + "/missing").isEmpty)
  }

  test("ensureTable creates iff absent; dropTable removes (load_to_bigquery.py:15-23,116)") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "base_currency STRING, rate DOUBLE")
    Ddl.dropTable(spark, "tmp_rates_spec")
    Ddl.ensureTable(spark, "tmp_rates_spec", schema)
    assert(spark.catalog.tableExists("tmp_rates_spec"))
    Ddl.ensureTable(spark, "tmp_rates_spec", schema) // idempotent
    spark.sql("INSERT INTO tmp_rates_spec VALUES ('USD', 48.0)")
    assert(spark.table("tmp_rates_spec").count() == 1)
    Ddl.dropTable(spark, "tmp_rates_spec")
    assert(!spark.catalog.tableExists("tmp_rates_spec"))
  }
}
