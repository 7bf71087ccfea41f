package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The reference's transform chain as pure, composable `DataFrame`
  * functions (reference: dags/scritps/transform.py:28-50 and
  * dags/scritps/load_to_bigquery.py:38-54).
  *
  * All coercions use `try_*` variants so semantics match pandas
  * `errors="coerce"` (invalid → null) regardless of the session's
  * `spark.sql.ansi.enabled` — Spark 4 defaults ANSI on, and a plain
  * `cast` would throw where the reference nulls (SURVEY.md §7.5).
  *
  * Everything here is a narrow transformation or a column expression:
  * no shuffles, no driver materialization — at 100 TB these fuse into
  * the scan's whole-stage-codegen pass. [[alignSchema]] also sizes its
  * output by bytes (a coalesce, still narrow).
  */
object Transform {

  /** pandas `pd.to_numeric(errors="coerce")` (transform.py:40,
    * load_to_bigquery.py:44): invalid strings become null, never throw. */
  def coerceDouble(c: Column): Column = c.try_cast("double")

  /** pandas `pd.to_datetime(errors="coerce")` (load_to_bigquery.py:50). */
  def coerceTimestamp(c: Column): Column = try_to_timestamp(c)

  /** `df.dropna(subset=[...])` (transform.py:39,41). */
  def dropNullOn(df: DataFrame, cols: String*): DataFrame =
    if (cols.isEmpty) df.na.drop() else df.na.drop(cols)

  /** Split a 6-letter currency pair "USDEGP" into (base, target) via the
    * reference's regex (load_to_bigquery.py:41-42). Spark's
    * regexp_extract returns '' (not null) on no match, so the result is
    * wrapped in nullif to give pandas `str.extract` semantics — a
    * non-matching pair yields null that the subsequent dropna removes. */
  def pairRegex: String = "([A-Z]{3})([A-Z]{3})"
  def pairBase(pair: Column): Column =
    nullif(regexp_extract(pair, pairRegex, 1), lit(""))
  def pairTarget(pair: Column): Column =
    nullif(regexp_extract(pair, pairRegex, 2), lit(""))

  /** Suffix derivation `pair.str[len(base):]` (fetch.py:44). */
  def targetFromPair(pair: Column, baseLen: Int): Column =
    substring(pair, baseLen + 1, 3)

  /** The fetch step's `{pair: rate}` map pivot (fetch.py:39-40): one map
    * column → one row per entry. */
  def pivotMapToRows(df: DataFrame, mapCol: String,
      keyName: String, valName: String): DataFrame = {
    val cols = df.columns.filterNot(_ == mapCol).map(col).toIndexedSeq
    df.select(cols :+ explode(col(mapCol)).as(Seq(keyName, valName)): _*)
  }

  /** Schema align + reorder before load (load_to_bigquery.py:44-54):
    * project to the declared columns in order, coercing each.
    *
    * The result is the load-ready batch, so it leaves here
    * [[Load.sizedByBytes]]: a batch under
    * `spark.sql.files.maxPartitionBytes` is one partition, and caching
    * and counting it needs no exchange: 2 jobs of one task each, where
    * a 1,700-row micro-batch (`ingest_refresh`) took 3 jobs, 20 tasks
    * and a 560 B shuffle. The trade-off: a batch above that size
    * is built in `ceil(bytes / maxPartitionBytes)` tasks, the count the
    * sinks write with anyway, not in its upstream partition count. */
  def alignSchema(df: DataFrame, schema: Seq[(String, DataType)]): DataFrame =
    Load.sizedByBytes(df.select(schema.map { case (n, t) => col(n).try_cast(t).as(n) }: _*))

  /** `validate_nonempty` (fetch.py:55-56): raise if nothing survived.
    * Deliberately an action — the reference's check is eager too. */
  def requireNonEmpty(df: DataFrame, what: String): DataFrame = {
    if (df.isEmpty) throw new IllegalStateException(s"no rows: $what")
    df
  }
}
