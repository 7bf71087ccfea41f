package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions
import graft.plans.OnePartition

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
    * catalog (Bench, Verify, Profile, perfbench) comes through here, so
    * this is where graft's native SQL functions are registered on
    * `spark` (a few registry lookups once the session holds them); no
    * entry registers them itself.
    *
    * It is also where a small query is planned as one partition
    * ([[graft.plans.OnePartition]]). A query whose every plan node,
    * its subqueries' included, estimates at most
    * `spark.sql.files.openCostInBytes` (4 MB), and that holds no
    * shuffle repartition, gains nothing from its
    * exchanges: it scans one split and AQE merges each shuffle into one
    * reducer. Planned with no exchange, each such rate query runs as
    * one job (plus one per broadcast) instead of one per stage. A query
    * that would plan no exchange anyway is left as it is. The gate
    * reads only the analyzed plan, so it costs no job and no optimizer
    * pass; `build` stays the un-rewritten query. */
  def query(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    OnePartition.rewrite(build(spark, sfDir))
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
