package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.NioLocalFileSystem

/** Warehouse-load semantics of the reference
  * (dags/scritps/load_to_bigquery.py), re-expressed as Spark batch
  * functions. The two sinks are `historical_rates` (append-only,
  * load_to_bigquery.py:77-85) and `current_rates` (keyed latest
  * snapshot maintained by MERGE, load_to_bigquery.py:98-111).
  */
object Load {

  /** `df` coalesced to `ceil(sizeInBytes / spark.sql.files.maxPartitionBytes)`
    * partitions, so a writer makes one file per `maxPartitionBytes` of
    * data instead of one per upstream partition. `sizeInBytes` is the
    * plan-statistics estimate of `df`'s analyzed plan with cached data
    * substituted: no optimizer pass and no job, and for a persisted
    * batch it is the cached size. A count at or above the current
    * partition count changes nothing, so a large input keeps its
    * parallelism, and one partition satisfies every clustering a
    * window asks for, so a small window is planned with no exchange. A
    * streaming frame is returned as it is: its micro-batches are sized
    * where they are written.
    *
    * Why the writers are sized: a micro-batch's cost was set by its file
    * count, not its rows. Every file is a task's output, a commit rename
    * and a `.crc`, and without the native `libhadoop` Hadoop's local file
    * system also forked a `chmod` for every file, `.crc` and directory it
    * created (12-13 ms per create in a new directory on a 4-vCPU host).
    * A 1,700-row batch wrote 9.5 history files and shuffled 40 KB into
    * its MERGE; sized, it writes one history file and one snapshot file
    * with no shuffle, and forked 18.5 `chmod`s instead of 44. The sinks
    * now fork none ([[graft.sources.NioLocalFileSystem]]). */
  private[graft] def sizedByBytes(df: DataFrame): DataFrame = if (df.isStreaming) df else {
    val bytes = df.queryExecution.withCachedData.stats.sizeInBytes
    val target = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    df.coalesce(((bytes + target - 1) / target).max(1).min(Int.MaxValue).toInt)
  }

  /** Append-only fact sink (`WRITE_APPEND`, load_to_bigquery.py:81). */
  def appendHistorical(df: DataFrame, path: String): Unit =
    NioLocalFileSystem.writer(df.write.mode("append")).parquet(path)

  /** Truncate-load staging sink (`WRITE_TRUNCATE`, load_to_bigquery.py:92). */
  def overwriteStaging(df: DataFrame, path: String): Unit =
    NioLocalFileSystem.writer(df.write.mode("overwrite")).parquet(path)

  /** Collapse a batch to its latest row per key — used both to pre-dedup
    * an incoming batch (BigQuery MERGE errors on duplicate source keys;
    * we take the batch's own latest, SURVEY.md §7.5) and to build a
    * snapshot from scratch. `tieCol` must be unique within a key so the
    * result is deterministic. */
  def latestPerKey(df: DataFrame, keys: Seq[String], tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The reference's MERGE upsert (load_to_bigquery.py:98-111):
    *
    *   MERGE current T USING batch S ON T.keys = S.keys
    *   WHEN MATCHED AND S.ts > T.ts THEN UPDATE    -- strictly greater!
    *   WHEN NOT MATCHED THEN INSERT
    *
    * The strict `>` guard (line 102) is the late-data rule: an incoming
    * row that is older than — or exactly as old as — the stored row must
    * NOT clobber it. Formulated as union + one window shuffle on the
    * keys: a precedence column makes ties resolve toward the stored row.
    * Incoming batches may carry duplicate keys; the same window picks
    * the batch's newest first, so dedup-then-merge and merge-directly
    * agree.
    *
    * Scale: the union is [[sizedByBytes]], so inputs under
    * `spark.sql.files.maxPartitionBytes` merge in one task with no
    * exchange (one job, one output file); larger ones take one shuffle,
    * partitioned by the merge keys. No driver round-trip; AQE handles a
    * skewed key. `current` is assumed key-unique (it is, inductively:
    * this function's output is).
    */
  def upsertLatest(current: DataFrame, incoming: DataFrame,
      keys: Seq[String], tsCol: String, tieCol: String): DataFrame = {
    val cols = current.columns
    val tagged = sizedByBytes(
      current.select(cols.toIndexedSeq.map(col): _*).withColumn("__prec", lit(0))
        .unionByName(
          incoming.select(cols.toIndexedSeq.map(col): _*).withColumn("__prec", lit(1))))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col("__prec").asc, col(tieCol).desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(cols.toIndexedSeq.map(col): _*)
  }

  /** Partition-scoped MERGE — the `replaceWhere` shape of the
    * reference's incremental maintenance (load_to_bigquery.py:98-111)
    * at warehouse scale: instead of rewriting the whole snapshot, read
    * ONLY the partitions the batch touches, merge them with
    * [[upsertLatest]] (same strict `S.ts > T.ts` / tie-keeps-stored
    * semantics), and overwrite ONLY those partitions via Spark's
    * dynamic partition-overwrite commit. On a 100 TB snapshot a daily
    * batch touching 3 of 10⁴ partitions rewrites 0.03% of the table;
    * untouched partition files are never read, never rewritten.
    *
    * CONTRACT: `partCol` must be FUNCTIONALLY DETERMINED by the merge
    * keys (a key's rows always land in one partition — e.g. a
    * key-hash bucket, or the key's region column). Otherwise a key
    * living in an untouched partition could also be inserted into a
    * touched one, breaking the snapshot's key-uniqueness invariant.
    *
    * Plan shape: the touched-partition scan is pruned by a broadcast
    * semi-join on the partition column (dynamic partition pruning —
    * no driver-side collect of partition values); the merge is
    * upsertLatest's single key-partitioned window; `localCheckpoint`
    * materializes the merged rows before the overwrite because Spark
    * (correctly) refuses to overwrite a path its own input plan is
    * still reading. The `partitionOverwriteMode=dynamic` WRITE OPTION
    * scopes the commit to partitions present in the output — the
    * session conf is never mutated. Idempotent by construction:
    * re-applying the same batch is a no-op (strict `>` keeps every
    * stored row), proven in UpsertPartitionedSpec. */
  def upsertLatestPartitioned(spark: SparkSession, tablePath: String,
      incoming: DataFrame, keys: Seq[String], tsCol: String,
      tieCol: String, partCol: String): Unit = {
    val current = Tables.read(spark, tablePath)
    val cols = current.columns
    val batch = incoming.select(cols.toIndexedSeq.map(col): _*)
    val touched = batch.select(col(partCol)).distinct()
    val affected =
      current.join(broadcast(touched), Seq(partCol), "left_semi")
    val merged = upsertLatest(affected, batch, keys, tsCol, tieCol)
      .localCheckpoint()
    merged.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(tablePath)
  }
}
