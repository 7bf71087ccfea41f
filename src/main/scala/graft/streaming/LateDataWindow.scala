package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.Tables
import graft.sources.AtomicSwap

/** Watermarked tumbling-window aggregation with an EXPLICIT late-data
  * feed — the streaming twin of the `events_tumbling_window` catalog
  * entry, closing the reference's silent-drop gap (transform.py:20
  * `dropna`s quietly; Spark's own watermarked aggregation likewise
  * DROPS late rows with only a metric): here every input row lands in
  * exactly one of two places — the windowed (window_start, event_type)
  * → (n, sum_cents) summary, or the quarantine feed with reason
  * "late" — so the late stream is replayable after the fact (backfill
  * the windows, audit the source), never lost.
  *
  * Watermark semantics mirror Spark's: the high-water mark is the max
  * event time over all PRIOR batches (persisted with the snapshot);
  * a row is late iff its event time < hwm − `lateness`. The decision
  * uses the prior-batch hwm — rows in the batch that advances the
  * clock are never late by their own batch's maximum, exactly like
  * `withWatermark`.
  *
  * Delivery: at-least-once foreachBatch made effectively exactly-once
  * by the [[IncrementalAgg]] discipline — the summary fold is guarded
  * by `_applied_<id>` markers + a high-water id published atomically
  * with the data ([[AtomicSwap]]), the late feed by
  * [[StreamRouter.appendBatch]]'s per-batch `_SUCCESS` replay check.
  * The late append runs BEFORE the summary swap, so every crash point
  * replays to the same final state.
  *
  * Scale shape: per batch, one map-side partial aggregation to
  * |windows × types| rows, one union-merge with the snapshot (bucket
  * the snapshot on the window key at warehouse scale), and a
  * scan-local `when` split for the late feed — no extra shuffle. Sum
  * is kept in integer cents so cross-batch folding is exact and
  * order-independent. */
object LateDataWindow {

  /** One batch's (window_start, event_type) partial summary. */
  def partial(batch: DataFrame, tsCol: String, typeCol: String,
      valCol: String, windowDur: String): DataFrame =
    batch
      .groupBy(window(col(tsCol), windowDur).as("w"),
        col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col(valCol) * 100).cast("long")).as("sum_cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_cents"))

  /** Merge two summaries (additive algebra — exact in integers). */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("window_start"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"))

  private def latenessMicros(lateness: String): Long = {
    // "N minutes|seconds|hours" — the withWatermark delay grammar
    // subset this artifact needs
    val Array(n, unit) = lateness.trim.split("\\s+")
    val base = unit.toLowerCase match {
      case u if u.startsWith("hour") => 3600000000L
      case u if u.startsWith("minute") => 60000000L
      case u if u.startsWith("second") => 1000000L
      case u => throw new IllegalArgumentException(s"lateness unit: $u")
    }
    n.toLong * base
  }

  /** Fold one micro-batch: split on the PRIOR high-water mark, route
    * late rows, merge on-time rows into the summary, publish the new
    * hwm atomically with the data. Idempotent per `batchId` (same
    * contract as [[IncrementalAgg.applyBatch]]). */
  def applyBatch(spark: SparkSession, batch: DataFrame, aggPath: String,
      latePath: String, batchId: Long, tsCol: String, typeCol: String,
      valCol: String, windowDur: String, lateness: String): Unit = {
    val dest = new Path(aggPath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, dest)
    val entries: Seq[String] =
      if (!fs.exists(dest)) Seq.empty
      else fs.listStatus(dest).toSeq.map(_.getPath.getName)
    val applied: Seq[Long] = entries.filter(_.startsWith("_applied_"))
      .map(_.stripPrefix("_applied_").toLong)
    val priorMax: Long =
      (applied ++ entries.filter(_.startsWith("_max_applied_"))
        .map(_.stripPrefix("_max_applied_").toLong))
        .foldLeft(-1L)(math.max)
    if (batchId <= priorMax) return // replayed (or reset-id) batch
    val hwm: Long = entries.filter(_.startsWith("_hwm_"))
      .map(_.stripPrefix("_hwm_").toLong)
      .foldLeft(Long.MinValue)(math.max)

    val threshold =
      if (hwm == Long.MinValue) Long.MinValue
      else hwm - latenessMicros(lateness)
    val (ontime, late) = StreamRouter.route(batch,
      Seq("late" -> (unix_micros(col(tsCol)) < lit(threshold))))
    // late feed FIRST (idempotent per batch id): any crash between the
    // two writes replays into the appendBatch _SUCCESS skip
    StreamRouter.appendBatch(late, latePath, batchId)

    val part = partial(ontime, tsCol, typeCol, valCol, windowDur)
    val next =
      if (fs.exists(dest))
        merge(Tables.read(spark, aggPath)
          .select(part.columns.toIndexedSeq.map(col): _*), part)
      else part
    val batchMax: Long = Option(
      batch.agg(max(unix_micros(col(tsCol)))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(Long.MinValue)
    val nextHwm = math.max(hwm, batchMax)
    val keep: Seq[Long] = applied.sorted.takeRight(63) :+ batchId
    AtomicSwap.swapIn(fs, dest) { stg =>
      next.write.mode("overwrite").parquet(stg.toString)
      keep.foreach(id =>
        fs.create(new Path(stg, s"_applied_$id"), true).close())
      fs.create(new Path(stg, s"_max_applied_$batchId"), true).close()
      if (nextHwm != Long.MinValue)
        fs.create(new Path(stg, s"_hwm_$nextHwm"), true).close()
    }
  }

  def writer(stream: DataFrame, aggPath: String, latePath: String,
      tsCol: String, typeCol: String, valCol: String, windowDur: String,
      lateness: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch.persist() // split + max + partial read the batch once
      applyBatch(batch.sparkSession, batch, aggPath, latePath, batchId,
        tsCol, typeCol, valCol, windowDur, lateness)
      batch.unpersist()
      ()
    }

  def run(stream: DataFrame, aggPath: String, latePath: String,
      checkpoint: String, tsCol: String, typeCol: String, valCol: String,
      windowDur: String, lateness: String): StreamingQuery =
    writer(stream, aggPath, latePath, tsCol, typeCol, valCol, windowDur,
      lateness)
      .option("checkpointLocation", checkpoint)
      .start()
}
