package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.Tables
import graft.sources.AtomicSwap

/** Incremental aggregate-view maintenance: a per-key (count, sum, min,
  * max) summary table kept current by folding each micro-batch's
  * PARTIAL aggregate into the stored snapshot — the streaming
  * materialized view every dashboard sits on, maintained at per-batch
  * cost instead of recomputing the aggregate over all history
  * (load_to_bigquery.py:98-111's MERGE keeps only latest-per-key; this
  * is the same shape for additive summaries).
  *
  * Correctness rests on mergeability: count/sum/min/max are
  * associative-commutative, so `merge(snapshot, partial(batch))` equals
  * the aggregate over all rows ever seen — the same algebra Spark's own
  * partial aggregation uses map-side, applied across batches. (A
  * non-mergeable aggregate — exact median, exact distinct — cannot be
  * maintained this way; that is what sketches are for, e.g. HLL/
  * Misra-Gries in `ext/`.)
  *
  * Delivery semantics: foreachBatch is at-least-once, and a re-merged
  * batch would DOUBLE-COUNT (unlike the idempotent latest-per-key
  * upsert). The guard must travel atomically with the data, so each
  * snapshot directory carries `_applied_<batchId>` marker files —
  * underscore-prefixed, invisible to parquet readers — and the
  * [[AtomicSwap]] publishes data + markers in one rename. A replayed
  * batch sees its marker inside the CURRENT snapshot and skips; a crash
  * before the swap leaves the old snapshot (without the marker), so the
  * replay correctly re-merges. Effectively exactly-once.
  *
  * Scale shape: per batch, one shuffle of the batch's partial aggregate
  * (|batch keys| rows, not |batch rows| — partial agg runs map-side)
  * plus a key-clustered union-merge with the snapshot. At 100 TB the
  * snapshot is a bucketed table on the key, so the merge co-locates and
  * the whole maintenance pass never reshuffles the full summary.
  */
object IncrementalAgg {

  /** Collapse a batch to its per-key mergeable partial. */
  def partial(batch: DataFrame, keyCol: String, valCol: String): DataFrame =
    batch.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"), sum(col(valCol)).as("sum"),
        min(col(valCol)).as("min"), max(col(valCol)).as("max"))

  /** Merge two summaries with the same (key, cnt, sum, min, max)
    * schema: re-aggregate the union with the aggregates' own merge
    * functions (sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes). */
  def merge(a: DataFrame, b: DataFrame, keyCol: String): DataFrame =
    a.unionByName(b)
      .groupBy(col(keyCol))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum")).as("sum"),
        min(col("min")).as("min"), max(col("max")).as("max"))

  private def marker(dir: Path, batchId: Long): Path =
    new Path(dir, s"_applied_$batchId")

  /** Fold one micro-batch into the snapshot at `path`. Idempotent per
    * `batchId`: a batch whose marker is present in the current
    * snapshot — or whose id is at or below the snapshot's persisted
    * high-water mark — is skipped whole.
    *
    * CONTRACT: foreachBatch batch ids are strictly monotonic within a
    * query, so any id ≤ the high-water mark can only be a replay. A
    * RESTARTED query with reset batch ids (new/rolled-back checkpoint
    * pointed at an existing snapshot) is therefore refused by the skip,
    * not double-counted — the snapshot and its checkpoint must be
    * backed up, restored, and reset TOGETHER. Start a fresh snapshot
    * path when starting a fresh checkpoint. */
  def applyBatch(spark: SparkSession, batch: DataFrame, path: String,
      keyCol: String, valCol: String, batchId: Long): Unit = {
    val dest = new Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, dest)
    val entries: Seq[String] =
      if (!fs.exists(dest)) Seq.empty
      else fs.listStatus(dest).toSeq.map(_.getPath.getName)
    val existing: Seq[Long] = entries.filter(_.startsWith("_applied_"))
      .map(_.stripPrefix("_applied_").toLong)
    // high-water mark: survives the marker-tail pruning below, so a
    // replay OLDER than the retained tail (checkpoint restored from a
    // backup, reset batch ids) is refused instead of silently
    // re-merged — the round-9 advice hole
    val priorMax: Long =
      (existing ++ entries.filter(_.startsWith("_max_applied_"))
        .map(_.stripPrefix("_max_applied_").toLong))
        .foldLeft(-1L)(math.max)
    if (batchId <= priorMax) return // replayed (or reset-id) batch
    val part = partial(batch, keyCol, valCol)
    val next =
      if (fs.exists(dest))
        merge(Tables.read(spark, path).select(part.columns.toIndexedSeq.map(col): _*),
          part, keyCol)
      else part
    // markers are pruned to the most recent 64: batch ids are monotonic
    // and foreachBatch only ever replays batches at or after the last
    // checkpoint commit, never the deep past — retaining a bounded tail
    // keeps the guard while the snapshot directory stays O(1) entries;
    // the high-water file covers everything older than the tail
    val applied: Seq[Long] = existing.sorted.takeRight(63) :+ batchId
    AtomicSwap.swapIn(fs, dest) { stg =>
      next.write.mode("overwrite").parquet(stg.toString)
      // markers ride INSIDE the directory the swap publishes: data and
      // applied-set can never disagree, whatever the crash point
      applied.foreach(id => fs.create(marker(stg, id), true).close())
      fs.create(new Path(stg, s"_max_applied_$batchId"), true).close()
    }
  }

  /** Wire a stream to the maintained summary (caller starts with a
    * checkpoint location). */
  def writer(stream: DataFrame, path: String, keyCol: String,
      valCol: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch.sparkSession, batch, path, keyCol, valCol, batchId)
      ()
    }

  def run(stream: DataFrame, path: String, checkpoint: String,
      keyCol: String, valCol: String): StreamingQuery =
    writer(stream, path, keyCol, valCol)
      .option("checkpointLocation", checkpoint)
      .start()
}
