package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.etl.Transform
import graft.sources.Fetch
import graft.streaming.MicroBatch

/** One timed op. `extras` holds per-op layer figures only the workload
  * knows (file counts, keys changed); it is filled on traced passes. */
final case class Op(id: Int, label: String, seconds: Double, rows: Long, ok: Boolean,
    traced: Boolean, refreshSeconds: Double = 0.0, extras: Map[String, Double] = Map.empty)

/** A workload: untimed set-up (inputs, warm-up, correctness of the
  * warm-up outputs), then passes of timed ops. A pass is the unit whose
  * counts repeat exactly: every entry once, or one warehouse epoch. */
trait Workload {
  /** Runs the untimed set-up, which also warms up the JVM; returns
    * whether its outputs were correct and the seconds spent in
    * correctness checks, which set-up time leaves out. */
  def setup(): (Boolean, Double)
  /** Runs one pass; returns its ops and its timed seconds. */
  def pass(index: Int, firstOp: Int, tracer: Tracer): (Seq[Op], Double)
}

/** `rate_queries`: each op constructs one catalog entry (`SparkEntry.queries(name)(spark, dir)`) and executes it through
  * the `noop` sink; a pass runs every entry once in a seeded order. The
  * warm-up writes each entry's output once for the oracle comparison,
  * which `check` runs outside the timed region. */
final class EntryWorkload(spark: SparkSession, dataDir: String, workDir: Path,
    entries: Seq[String], seed: Long,
    check: Path => (Set[String], Map[String, Long])) extends Workload {

  private val queries = SparkEntry.queries
  private var failed = Set.empty[String]
  private var rows = Map.empty[String, Long]

  def setup(): (Boolean, Double) = {
    val out = workDir.resolve("outputs")
    val broken = entries.filterNot { e =>
      try {
        queries(e)(spark, dataDir).write.mode("overwrite").parquet(out.resolve(e).toString)
        true
      } catch { case NonFatal(err) => Main.info(s"warm-up of $e failed: $err"); false }
    }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(sql.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }))
    val t0 = System.nanoTime()
    val (mismatched, counted) = check(out)
    failed = broken.toSet ++ mismatched ++ entries.filterNot(sql.contains)
    rows = counted
    (failed.isEmpty, (System.nanoTime() - t0) / 1e9)
  }

  def pass(index: Int, firstOp: Int, tracer: Tracer): (Seq[Op], Double) = {
    val order = new scala.util.Random(seed * 7919L + index).shuffle(entries)
    val ops = order.zipWithIndex.map { case (e, i) =>
      val id = firstOp + i
      val t0 = System.nanoTime()
      val ok = try {
        tracer.span("op", id, e) {
          val df = tracer.span("queries.construct", id, e)(queries(e)(spark, dataDir))
          tracer.span("spark.execute", id, e)(df.write.format("noop").mode("overwrite").save())
        }
        true
      } catch { case NonFatal(err) => Main.info(s"op $e failed: $err"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      Op(id, e, dt, rows.getOrElse(e, 0L), ok && !failed(e), tracer.enabled)
    }
    (ops, ops.map(_.seconds).sum)
  }
}

object EntryWorkload {
  /** The read-only `RateQueries` entries plus the pipeline entry. */
  val rateQueries: Seq[String] = Seq(
    "topk_latest_per_pair", "earliest_in_window", "sort_limit_5000", "filter_eq",
    "filter_conj_eq", "filter_range_ts", "window_lag_pct_change", "moving_avg",
    "moving_avg_time_range", "scalar_pct_change", "latest_per_key_maxby",
    "merge_upsert", "count_rows", "preview_head", "window_first_last",
    "cdc_snapshot_diff", "pipeline_e2e")
}

/** `ingest_refresh`: each op is one micro-batch of `/live` payloads
  * through `Fetch.parseLive` → `Transform` → persist →
  * `MicroBatch.appendHistoricalBatch` → `MicroBatch.upsertParquet`,
  * followed by a dashboard refresh through `Tables.table`. A pass is an
  * epoch of `batchesPerEpoch` batches into a fresh warehouse, so history
  * grows by one partition per batch and every epoch has the same shape.
  * Every batch is checked against [[MergeModel]] outside the timed
  * region. */
final class IngestRefresh(spark: SparkSession, workDir: Path, seed: Long,
    batchesPerEpoch: Int, warmupBatches: Int) extends Workload {
  import IngestRefresh._

  private val gen = new PayloadGen(seed)
  private val pick = new scala.util.Random(seed)
  private var stream = 0L

  def setup(): (Boolean, Double) =
    (epoch("warmup", warmupBatches, 0, new Tracer(spark)).forall(_.ok), 0.0)

  def pass(index: Int, firstOp: Int, tracer: Tracer): (Seq[Op], Double) = {
    val ops = epoch(s"epoch$index", batchesPerEpoch, firstOp, tracer)
    (ops, ops.map(o => o.seconds + o.refreshSeconds).sum)
  }

  private def epoch(name: String, batches: Int, firstOp: Int, tracer: Tracer): Seq[Op] = {
    val wh = workDir.resolve(name)
    val hist = wh.resolve("historical_rates.parquet").toString
    val cur = wh.resolve("current_rates.parquet").toString
    val model = new MergeModel
    val inputs = (0 until batches).map { _ => stream += 1; gen.batch(stream - 1) }
    val ops = inputs.zipWithIndex.map { case (b, i) =>
      val id = firstOp + i
      val expected = PayloadGen.rows(b)
      val changed = model(expected)
      val pair = (PayloadGen.Bases(pick.nextInt(PayloadGen.Bases.size)),
        PayloadGen.Targets(pick.nextInt(PayloadGen.Targets.size)))
      val (committed, opS) = timed {
        tracer.span("op", id, "batch")(runBatch(b, hist, cur, id, tracer))
      }
      val ((current, latest), refreshS) = timed {
        tracer.span("tables.refresh", id, "refresh")(refresh(wh.toString, pair))
      }
      val ok = committed == expected.size && current == model.snapshot &&
        latest == model.latest(pair).map(r => (r.rate, r.ts))
      if (!ok) Main.info(s"$name batch ${b.id}: warehouse differs from the MERGE model")
      val extras =
        if (!tracer.enabled) Map.empty[String, Double]
        else Map(
          "append_files" -> dataFiles(s"$hist/batch_id=${b.id}").toDouble,
          "history_files" -> dataFiles(hist).toDouble,
          "changed_keys" -> changed.toDouble)
      Op(id, "batch", opS, committed, ok, tracer.enabled, refreshS, extras)
    }
    val historyOk = spark.read.parquet(hist).count() == model.historyRows
    if (!historyOk) Main.info(s"$name: history row count differs from the MERGE model")
    deleteTree(wh)
    if (historyOk) ops else ops.map(_.copy(ok = false))
  }

  private def runBatch(b: Batch, hist: String, cur: String, id: Int, tracer: Tracer): Long = {
    import spark.implicits._
    val parsed = tracer.span("sources.parse", id) {
      val now = timestamp_seconds(lit(b.retrievedAt))
      b.payloads.groupBy(_.base).toSeq.sortBy(_._1).map { case (base, ps) =>
        Fetch.parseLive(ps.map(_.json).toDF("j"), "j", base, None, now)
      }.reduce(_ unionByName _)
    }
    val batch = tracer.span("etl.transform", id) {
      Transform.alignSchema(Transform.dropNullOn(parsed, "rate"), WarehouseSchema)
    }
    val n = tracer.span("streaming.materialize", id) { batch.persist(); batch.count() }
    tracer.span("streaming.append", id)(MicroBatch.appendHistoricalBatch(batch, hist, b.id))
    tracer.span("streaming.upsert", id)(
      MicroBatch.upsertParquet(spark, batch, cur, Keys, "timestamp", "rate"))
    batch.unpersist()
    n
  }

  /** The dashboard: every current rate, and the latest rate of one pair. */
  private def refresh(wh: String, pair: (String, String))
      : (Map[(String, String), RateRow], Option[(Double, Long)]) = {
    val current = Tables.table(spark, wh, "current_rates").collect().map { r =>
      val row = RateRow(r.getString(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime / 1000, r.getTimestamp(4).getTime / 1000)
      row.key -> row
    }
    val latest = Tables.table(spark, wh, "historical_rates")
      .filter(col("base_currency") === pair._1 && col("target_currency") === pair._2)
      .orderBy(col("timestamp").desc, col("rate").desc)
      .select("rate", "timestamp").limit(1).collect()
      .headOption.map((r: Row) => (r.getDouble(0), r.getTimestamp(1).getTime / 1000))
    // a map built from duplicate keys would hide them: compare sizes too
    (if (current.map(_._1).distinct.length == current.length) current.toMap else Map.empty, latest)
  }

  private def dataFiles(dir: String): Long = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }
}

object IngestRefresh {
  val Keys: Seq[String] = Seq("base_currency", "target_currency")
  val WarehouseSchema: Seq[(String, DataType)] = Seq(
    "base_currency" -> StringType, "target_currency" -> StringType,
    "rate" -> DoubleType, "timestamp" -> TimestampType,
    "retrieved_at" -> TimestampType)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
