package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.{SparkTestBase, Tables}
import graft.etl.{Load, Transform}
import graft.obs.RunMetrics
import graft.sources.NioRawLocalFileSystem

/** End-to-end micro-batch parity: streamed batches must leave the two
  * sinks exactly as the batch pipeline would (append-only history;
  * current = latest per key with the strict late-data guard). */
class MicroBatchSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val Keys = Seq("base", "target")

  /** `rows` rate rows over 200 keys in `parts` partitions, persisted
    * and counted like a micro-batch before its two sinks. */
  private def rateBatch(from: Long, rows: Long, parts: Int): DataFrame = {
    val b = spark.range(from, from + rows, 1, parts)
      .select(concat(lit("B"), ($"id" % 8).cast("string")).as("base"),
        concat(lit("T"), ($"id" % 50).cast("string")).as("target"),
        ($"id" / 7).as("rate"), timestamp_seconds($"id" % 1000).as("ts"),
        $"id".as("uid"))
      .persist()
    b.count()
    b
  }

  private def dataFiles(dir: String): Int = {
    val files = Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally files.close()
  }

  private def withMaxPartitionBytes[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, bytes)
    try body finally spark.conf.unset(key)
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  test("foreachBatch: history appends; current upserts with late-data guard") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream")
    val (hist, cur, ckpt) = (s"$dir/hist", s"$dir/cur", s"$dir/ckpt")

    val source = MemoryStream[(String, String, Double, Timestamp, Long)]
    val stream = source.toDF()
      .toDF("base", "target", "rate", "ts", "uid")
    val q = MicroBatch.run(stream, hist, cur, ckpt,
      Seq("base", "target"), "ts", "uid")

    // batch 1: two pairs
    source.addData(
      ("USD", "EGP", 48.0, ts("2024-01-02 00:00:00"), 1L),
      ("USD", "EUR", 0.92, ts("2024-01-02 00:00:00"), 2L))
    q.processAllAvailable()
    // batch 2: newer EGP (update), older EUR (must NOT clobber), new JPY
    source.addData(
      ("USD", "EGP", 49.0, ts("2024-01-03 00:00:00"), 3L),
      ("USD", "EUR", 0.90, ts("2024-01-01 00:00:00"), 4L),
      ("USD", "JPY", 148.0, ts("2024-01-02 00:00:00"), 5L))
    q.processAllAvailable()
    q.stop()

    assert(spark.read.parquet(hist).count() == 5) // append-only, no dedup
    val current = spark.read.parquet(cur)
      .select($"target", $"rate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(current == Map("EGP" -> 49.0, "EUR" -> 0.92, "JPY" -> 148.0))
  }

  test("history append is idempotent per batch id (at-least-once replay safe)") {
    val hist = tempDir("graft_hist") + "/hist"
    val b1 = Seq(("USD", "EGP", 48.0, ts("2024-01-02 00:00:00"), 1L))
      .toDF("base", "target", "rate", "ts", "uid")
    val b2 = Seq(("USD", "EUR", 0.92, ts("2024-01-02 00:00:00"), 2L))
      .toDF("base", "target", "rate", "ts", "uid")
    MicroBatch.appendHistoricalBatch(b1, hist, 0L)
    MicroBatch.appendHistoricalBatch(b1, hist, 0L) // replayed batch: skipped
    MicroBatch.appendHistoricalBatch(b2, hist, 1L)
    val out = spark.read.parquet(hist)
    assert(out.count() == 2)
    assert(out.columns.contains("batch_id")) // the reprocessing-window key
  }

  test("upsert after a crashed swap recovers all prior keys (never rebuilds " +
      "the snapshot from one batch)") {
    val cur = tempDir("graft_crash") + "/cur"
    val fs = new Path(cur).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch1 = Seq(
      ("USD", "EGP", 48.0, ts("2024-01-02 00:00:00"), 1L),
      ("USD", "EUR", 0.92, ts("2024-01-02 00:00:00"), 2L))
      .toDF("base", "target", "rate", "ts", "uid")
    val batch2 = Seq(("USD", "JPY", 148.0, ts("2024-01-02 00:00:00"), 3L))
      .toDF("base", "target", "rate", "ts", "uid")
    MicroBatch.upsertParquet(spark, batch1, cur, Seq("base", "target"), "ts", "uid")
    // simulate a crash between "rename dest aside" and "rename staging in":
    // batch2's snapshot sits complete in staging, dest is missing
    spark.read.parquet(cur).unionByName(batch2)
      .write.mode("overwrite").parquet(cur + "__staging")
    assert(fs.rename(new Path(cur), new Path(cur + "__old")))
    // the replayed trigger must first finish the swap, then upsert on top —
    // the pre-fix delete-then-rename path would emit ONLY batch2's key here
    MicroBatch.upsertParquet(spark, batch2, cur, Seq("base", "target"), "ts", "uid")
    val out = spark.read.parquet(cur).select($"target", $"rate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("EGP" -> 48.0, "EUR" -> 0.92, "JPY" -> 148.0))
    assert(!fs.exists(new Path(cur + "__staging")))
    assert(!fs.exists(new Path(cur + "__old")))
  }

  test("sized sinks: a small multi-partition batch writes one file per sink") {
    val dir = tempDir("graft_sized")
    val (hist, cur) = (s"$dir/hist", s"$dir/cur")
    for (id <- 0L to 1L) { // first batch: latestPerKey; second: upsertLatest
      val b = rateBatch(id * 400, 400, 4)
      assert(b.rdd.getNumPartitions == 4)
      MicroBatch.appendHistoricalBatch(b, hist, id)
      MicroBatch.upsertParquet(spark, b, cur, Keys, "ts", "uid")
      b.unpersist()
      assert(dataFiles(s"$hist/batch_id=$id") == 1, s"history files of batch $id")
      assert(dataFiles(cur) == 1, s"snapshot files after batch $id")
    }
    assert(Tables.read(spark, hist).count() == 800)
    assert(Tables.read(spark, cur).count() == 200) // lcm(8, 50) keys
  }

  test("sized sinks: a batch above spark.sql.files.maxPartitionBytes keeps " +
      "more than one partition and history file") {
    val hist = tempDir("graft_sized_big") + "/hist"
    val b = rateBatch(0, 20000, 4)
    val bytes = b.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    withMaxPartitionBytes(bytes / 3 + 1) { // ceil(bytes / max) = 3
      assert(Load.sizedByBytes(b).rdd.getNumPartitions == 3)
      MicroBatch.appendHistoricalBatch(b, hist, 0L)
    }
    b.unpersist()
    assert(dataFiles(s"$hist/batch_id=0") == 3)
  }

  test("sized upsert: small inputs merge with no shuffle exchange; above " +
      "maxPartitionBytes the merge shuffles on the keys") {
    val current = rateBatch(0, 200, 3) // key-unique: ids 0-199 hit 200 keys once
    val incoming = rateBatch(100, 300, 3)
    def merged = Load.upsertLatest(current, incoming, Keys, "ts", "uid")
    val small = merged
    val got = small.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(shuffles(small).isEmpty, small.queryExecution.executedPlan.toString)
    // ts = id here, so each key keeps its largest id
    assert(got == (0L until 400L).groupBy(id => (s"B${id % 8}", s"T${id % 50}"))
      .map { case (k, ids) => k -> ids.max })
    withMaxPartitionBytes(64) {
      val big = merged
      big.collect()
      assert(shuffles(big).nonEmpty, big.queryExecution.executedPlan.toString)
    }
    current.unpersist(); incoming.unpersist()
  }

  test("sizing a persisted batch or a parquet union launches no Spark job") {
    val cur = tempDir("graft_sized_jobs") + "/cur"
    val b = rateBatch(0, 400, 4)
    MicroBatch.upsertParquet(spark, b, cur, Keys, "ts", "uid")
    val rec = new RunMetrics.Recorder(false)
    RunMetrics.recording(spark, rec) {
      RunMetrics.inGroup(spark, "sizing") {
        Load.sizedByBytes(b)
        Load.sizedByBytes(Tables.read(spark, cur).unionByName(b))
      }
      RunMetrics.settle(spark, rec)
    }
    b.unpersist()
    assert(rec.take("sizing").jobs == 0)
  }

  test("sized transform: alignSchema hands a small batch over as one partition, " +
      "sized with no job, cached and counted in 2 jobs of one task each") {
    val raw = spark.range(0, 2000, 1, 4)
      .select(concat(lit("B"), ($"id" % 8).cast("string")).as("base"),
        ($"id" / 7).cast("string").as("rate"), $"id".as("uid"))
    val schema = Seq("base" -> StringType, "rate" -> DoubleType, "uid" -> LongType)
    val rec = new RunMetrics.Recorder(false)
    val aligned = RunMetrics.recording(spark, rec) {
      val (df, _) = RunMetrics.inGroup(spark, "sizing")(Transform.alignSchema(raw, schema))
      RunMetrics.inGroup(spark, "materialize") { df.persist(); df.count() }
      RunMetrics.settle(spark, rec)
      df
    }
    val (sizing, materialize) = (rec.take("sizing"), rec.take("materialize"))
    aligned.unpersist()
    assert(raw.rdd.getNumPartitions == 4)
    assert(aligned.rdd.getNumPartitions == 1)
    assert(sizing.jobs == 0)
    assert(materialize.jobs == 2 && materialize.tasks == 2,
      s"${materialize.jobs} jobs, ${materialize.tasks} tasks")
    val bytes = aligned.queryExecution.withCachedData.stats.sizeInBytes.toLong
    withMaxPartitionBytes(bytes / 3 + 1) { // ceil(bytes / max) = 3
      assert(Transform.alignSchema(raw, schema).rdd.getNumPartitions == 3)
    }
    implicit val sqlCtx = spark.sqlContext // a stream aligns unsized
    val stream = MemoryStream[(String, String, Long)].toDF().toDF("base", "rate", "uid")
    assert(Transform.alignSchema(stream, schema).isStreaming)
  }

  test("fork-free sinks: both sinks write through NioLocalFileSystem with the " +
      "permissions a plain parquet write gives, and leave the shared confs alone") {
    val dir = tempDir("graft_nio")
    val (hist, cur, plain) = (s"$dir/hist", s"$dir/cur", s"$dir/plain")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val implBefore = hadoopConf.get("fs.file.impl")
    val fsBefore = FileSystem.get(URI.create("file:///"), hadoopConf).getClass
    val nioStats = FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem])
    def nioBytes(write: => Unit): Long = {
      val w0 = nioStats.getBytesWritten
      write
      nioStats.getBytesWritten - w0
    }
    val b = rateBatch(0, 400, 4)
    val written = Seq(
      nioBytes(MicroBatch.appendHistoricalBatch(b, hist, 0L)),
      nioBytes(MicroBatch.upsertParquet(spark, b, cur, Keys, "ts", "uid")),
      nioBytes(Load.appendHistorical(b, s"$dir/append")),
      nioBytes(Load.overwriteStaging(b, s"$dir/staging")))
    assert(written.forall(_ > 0), written)
    assert(nioBytes(b.write.parquet(plain)) == 0)

    /** Permission bits per kind of entry under `root` (root included). */
    def perms(root: String): Map[String, Set[String]] = {
      val all = Files.walk(java.nio.file.Paths.get(root))
      try all.iterator().asScala.toSeq.groupBy { p =>
        val n = p.getFileName.toString
        if (Files.isDirectory(p)) "dir" else if (n.endsWith(".crc")) "crc"
        else if (n == "_SUCCESS") "success" else "data"
      }.map { case (k, ps) =>
        k -> ps.map(p => PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet
      } finally all.close()
    }
    val expected = perms(plain)
    assert(expected.keySet == Set("dir", "crc", "success", "data"), expected)
    assert(perms(hist) == expected)
    assert(perms(cur) == expected)

    assert(Tables.read(spark, hist).drop("batch_id").orderBy("uid").collect().toSeq ==
      spark.read.parquet(plain).orderBy("uid").collect().toSeq)
    assert(Tables.read(spark, cur).count() == 200)
    b.unpersist()
    assert(hadoopConf.get("fs.file.impl") == implBefore)
    assert(FileSystem.get(URI.create("file:///"), hadoopConf).getClass == fsBefore)
  }

  test("NioRawLocalFileSystem.setPermission sets the requested bits") {
    val dir = java.nio.file.Paths.get(tempDir("graft_nio_perm"))
    val file = Files.writeString(dir.resolve("f"), "x")
    val fs = new NioRawLocalFileSystem
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    def bits(p: java.nio.file.Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    fs.setPermission(new Path(file.toUri), new FsPermission("640"))
    fs.setPermission(new Path(dir.toUri), new FsPermission("700"))
    assert(bits(file) == "rw-r-----" && bits(dir) == "rwx------")
    fs.setPermission(new Path(dir.toUri), new FsPermission("755"))
    assert(bits(dir) == "rwxr-xr-x")
  }

  test("streaming tumbling window + watermark: closed windows emit, late rows drop") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val agg = source.toDF().toDF("ts", "etype")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"), $"etype")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("ws"), $"etype", $"n")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    try {
      source.addData(
        (ts("2024-01-01 00:05:00"), "a"),
        (ts("2024-01-01 00:20:00"), "a"),
        (ts("2024-01-01 00:40:00"), "b"))
      q.processAllAvailable()
      // watermark 00:30 — the 00:00 window is still open: nothing emitted
      assert(spark.table("win_counts").count() == 0)
      source.addData((ts("2024-01-01 02:00:00"), "a")) // watermark → 01:50
      q.processAllAvailable()
      source.addData( // this batch runs with watermark 01:50 → hour 0 closes;
        (ts("2024-01-01 00:45:00"), "a")) // and this late row is dropped
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        (ts("2024-01-01 00:00:00"), "a", 2L), // late "a" NOT counted
        (ts("2024-01-01 00:00:00"), "b", 1L)))
    } finally q.stop()
  }
}
