package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator catalog (one entry per implemented
  * operator from SURVEY.md §2 plus the 100 TB-pipeline extensions);
  * `oracleSql` carries the DuckDB-equivalent SQL for every entry whose
  * semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  private def families: Seq[CatalogEntry] =
    AggQueries.entries ++ RateQueries.entries ++ JoinQueries.entries ++
      TransformQueries.entries ++ EventQueries.entries ++
      TextQueries.entries ++ SimilarityQueries.entries ++
      MediaQueries.entries ++ OperatorQueries.entries ++
      ReshapeQueries.entries ++ PipelineQueries.entries ++
      SampleQueries.entries ++ SketchQueries.entries

  lazy val catalog: Map[String, CatalogEntry] = {
    val es = families
    require(es.map(_.name).distinct.size == es.size,
      s"duplicate catalog keys: ${es.map(_.name).diff(es.map(_.name).distinct)}")
    es.map(e => e.name -> e).toMap
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AggQueries.q1Agg.query(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (k, e) => k -> (e.query _) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.collect { case (k, e) if e.oracle.isDefined => k -> e.oracle.get }
}
