package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Transform
import graft.functions.BoundConstant

/** The fetch stage (dags/scritps/fetch.py:13-85) minus the HTTP GET:
  * the REST payload (one JSON document per row, e.g. read with
  * `spark.read.text`/`json` from a landing zone or a test fixture)
  * is parsed, validated, pivoted and stamped exactly as the reference
  * does. The network call itself is driver-side I/O outside the engine.
  */
object Fetch {

  /** exchangerate.host /live response shape (fetch.py:22-30). */
  val liveSchema: StructType = StructType(Seq(
    StructField("success", BooleanType),
    StructField("source", StringType),
    StructField("timestamp", LongType),
    StructField("quotes", MapType(StringType, DoubleType))))

  /** Parse raw /live JSON strings into rate rows:
    * success check (fetch.py:32-34), quotes-map pivot (fetch.py:39-40),
    * base lit (fetch.py:41), target suffix (fetch.py:44), optional
    * target filter (fetch.py:47-48), timestamps (fetch.py:51-53):
    * `timestamp` from the payload epoch, `retrieved_at` stamped with
    * `now` (pass a literal for deterministic tests; defaults to
    * current_timestamp() like the reference's wall clock).
    *
    * The stamp is projected through [[BoundConstant]], so generated code
    * reads it by reference: successive batches with different stamps
    * share one compiled class per stage instead of compiling every stage
    * again (14-16 Janino compiles per steady-state micro-batch before,
    * 0 after). Its value is unchanged; a `current_timestamp()` stamp is
    * fixed per query as before. */
  def parseLive(raw: DataFrame, jsonCol: String, base: String,
      target: Option[String] = None,
      now: Column = current_timestamp()): DataFrame = {
    val parsed = raw
      .select(from_json(col(jsonCol), liveSchema).as("r"))
      .filter(col("r.success")) // failed payloads raise in the reference
    val pivoted = Transform.pivotMapToRows(
      parsed.select(col("r.timestamp").as("api_ts"), col("r.quotes").as("quotes")),
      "quotes", "pair", "rate")
      .select(lit(base).as("base_currency"),
        Transform.targetFromPair(col("pair"), base.length).as("target_currency"),
        col("rate"),
        timestamp_seconds(col("api_ts")).as("timestamp"),
        GraftSqlBridge.column(BoundConstant(GraftSqlBridge.expression(now)))
          .as("retrieved_at"))
    target.fold(pivoted)(t => pivoted.filter(col("target_currency") === t))
  }
}
