package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.Tables
import graft.etl.Load
import graft.sources.{AtomicSwap, NioLocalFileSystem}

/** Structured-Streaming parity for the reference pipeline (SURVEY.md
  * §2.9): each DAG run is a micro-batch that appends to
  * `historical_rates` and MERGE-upserts `current_rates`
  * (load_to_bigquery.py:77-111, re-triggered per Streamlit refresh,
  * app.py:23-25,120-144). `foreachBatch` reuses the *batch* Load
  * functions verbatim — identical semantics, including the strict
  * late-data guard.
  *
  * Delivery semantics: foreachBatch is at-least-once, so both sinks are
  * idempotent per batch — history lands in a `batch_id=<id>` partition
  * that a replay detects and skips, and the current-snapshot upsert is
  * a semantic no-op when re-applied. With the checkpointed batch ids,
  * the pipeline is effectively exactly-once end-to-end.
  *
  * Both sinks are sized by bytes ([[Load.sizedByBytes]]): a batch under
  * `spark.sql.files.maxPartitionBytes` writes one history file and one
  * snapshot file, and its MERGE runs in one task with no shuffle. File
  * count, not row count, set a small batch's cost here: without the
  * native `libhadoop`, every file, `.crc` and directory Hadoop's local
  * file system creates forked a `chmod` (44 per 1,700-row batch with one
  * file per upstream partition, 18.5 once sized). Both sinks now write
  * through [[NioLocalFileSystem.writer]], which sets those permissions
  * with a system call, so a batch forks no `chmod` at all. History
  * grows by one file per batch (one per `maxPartitionBytes` of a large
  * batch); compact a long-lived table's closed `batch_id` partitions
  * with `graft.sources.Layout.compact`.
  */
object MicroBatch {

  /** Idempotent history append: each micro-batch writes its own
    * `batch_id=<id>` hive partition (readers see a `batch_id` column —
    * also the pruning key for reprocessing windows at scale). A replay
    * of a batch whose partition already committed (`_SUCCESS`) skips,
    * so at-least-once redelivery cannot duplicate history rows. The
    * batch is [[Load.sizedByBytes]] first: one file per
    * `maxPartitionBytes`, not one per upstream partition. */
  def appendHistoricalBatch(batch: DataFrame, path: String,
      batchId: Long): Unit = {
    val dir = new Path(path, s"batch_id=$batchId")
    val fs = dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir, "_SUCCESS")))
      NioLocalFileSystem.writer(Load.sizedByBytes(batch).write.mode("overwrite"))
        .parquet(dir.toString)
  }

  /** Upsert one batch into the parquet snapshot at `currentPath`:
    * read-modify-write through [[AtomicSwap]] — the new snapshot is
    * fully materialized into staging while the old one stays readable,
    * then swapped in; a leftover crash window is rolled forward/back by
    * `AtomicSwap.recover` before the read, so a half-finished previous
    * swap can never make this batch rebuild the table from itself.
    * The first batch's `latestPerKey` runs on the [[Load.sizedByBytes]]
    * batch, as every later batch's `upsertLatest` sizes its union, so a
    * small batch merges in one task with no exchange. */
  def upsertParquet(spark: SparkSession, batch: DataFrame, currentPath: String,
      keys: Seq[String], tsCol: String, tieCol: String): Unit = {
    val dest = new Path(currentPath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, dest)
    val next =
      if (fs.exists(dest))
        Load.upsertLatest(Tables.read(spark, currentPath)
          .select(batch.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*),
          batch, keys, tsCol, tieCol)
      else
        Load.latestPerKey(Load.sizedByBytes(batch), keys, tsCol, tieCol)
    AtomicSwap.swapIn(fs, dest) { stg =>
      NioLocalFileSystem.writer(next.write.mode("overwrite")).parquet(stg.toString)
    }
  }

  /** Wire a stream to the two sinks with reference semantics. The
    * caller starts the returned writer (`.start()`) with a checkpoint
    * location; replayed batches are absorbed idempotently (see class
    * doc). */
  def writer(stream: DataFrame, historicalPath: String, currentPath: String,
      keys: Seq[String], tsCol: String, tieCol: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch.persist() // two sinks read the same micro-batch once
      appendHistoricalBatch(batch, historicalPath, batchId)
      upsertParquet(batch.sparkSession, batch, currentPath, keys, tsCol, tieCol)
      batch.unpersist()
      ()
    }

  def run(stream: DataFrame, historicalPath: String, currentPath: String,
      checkpoint: String, keys: Seq[String], tsCol: String,
      tieCol: String): StreamingQuery =
    writer(stream, historicalPath, currentPath, keys, tsCol, tieCol)
      .option("checkpointLocation", checkpoint)
      .start()
}
