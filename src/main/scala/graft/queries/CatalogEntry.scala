package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions

/** One catalog operator: a Spark query over the testdata tables plus an
  * optional DuckDB oracle (equivalent ANSI SQL over the same parquet).
  *
  * Determinism contract (the driver hash-compares Spark output against the
  * oracle's):
  *   - every query ends in a total `orderBy` with a unique tie-break;
  *   - temporal outputs are formatted to strings (`date_format` /
  *     `strftime`) — avoids µs-vs-ns and tz-aware-vs-naive mismatches
  *     between Spark parquet output and DuckDB results;
  *   - double aggregates are `round`ed (absorbs summation-order jitter);
  *   - DuckDB integer SUMs are cast to BIGINT (DuckDB's SUM(BIGINT) is
  *     HUGEINT, which would be a schema mismatch);
  *   - column names match exactly between the Spark plan and the SQL.
  */
final case class CatalogEntry(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {

  /** The entry's query over the tables in `sfDir`. Every path into the
    * catalog comes through here, so this is where graft's native SQL
    * functions are registered on `spark` (a few registry lookups once
    * the session holds them); no entry registers them itself. */
  def query(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    build(spark, sfDir)
  }
}

object CatalogEntry {
  /** Entry with a DuckDB oracle. */
  def apply(name: String, sql: String)(
      q: (SparkSession, String) => DataFrame): CatalogEntry =
    CatalogEntry(name, q, Some(sql))

  /** Entry with only the weaker rows>0 check (non-SQL-expressible op). */
  def noOracle(name: String)(
      q: (SparkSession, String) => DataFrame): CatalogEntry =
    CatalogEntry(name, q, None)
}
