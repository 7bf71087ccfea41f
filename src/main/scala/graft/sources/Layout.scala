package graft.sources

import org.apache.spark.sql.DataFrame

import graft.Tables

/** Warehouse layout sinks — where 100 TB performance is actually won
  * (SURVEY.md §4): a date/key-partitioned layout gives partition
  * pruning (static + dynamic) on every downstream scan; bucketed +
  * sorted tables make repeated equi-joins and aggregations on the
  * bucket key shuffle-free. Mechanics asserted in ScaleLayoutSpec.
  */
object Layout {

  /** Hive-style partitioned parquet layout (e.g. historical_rates
    * partitioned by observation date). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table (bucket count fixed at write time;
    * choose it for target-cluster parallelism, not current data size). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Dynamic partition overwrite: rewrite ONLY the hive partitions
    * present in `df`, leaving sibling partitions untouched — the
    * reprocess-one-day operation on a date-partitioned table. Static
    * overwrite mode would truncate the whole table; the dynamic mode
    * scopes the delete to touched partition values (asserted in
    * ScaleLayoutSpec). */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Z-ordered layout: range-partition + sort by a Morton key
    * (`functions/ZOrderKey`) so 2-D locality lands in the same files —
    * scans filtered on either clustered dimension skip most files via
    * parquet min/max stats. File-level pruning is asserted
    * quantitatively in `functions/ZOrderKeySpec`. */
  def writeZOrdered(df: DataFrame, path: String, nFiles: Int,
      zCol: String): Unit =
    df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(zCol))
      .sortWithinPartitions(zCol)
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction: rewrite a parquet directory into `nFiles`
    * files through [[AtomicSwap]] — the old layout stays readable until
    * the rewritten one swaps in, and a crash mid-swap is rolled
    * forward/back on the next run. Streaming appends accumulate one
    * small file per batch; at scale the scan's task count — and the
    * NameNode/listing load — degrade until compaction rewrites the
    * layout. coalesce (not repartition): no shuffle, just fewer,
    * larger write tasks. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      nFiles: Int): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, dest)
    val compacted = Tables.read(spark, path).coalesce(nFiles)
    AtomicSwap.swapIn(fs, dest) { stg =>
      compacted.write.mode("overwrite").parquet(stg.toString)
    }
  }
}
