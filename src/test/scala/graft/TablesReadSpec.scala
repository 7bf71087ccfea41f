package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, TimestampType}

import graft.streaming.MicroBatch

/** `Tables.read` opens a parquet table from a driver-side footer read:
  * the same schema and rows as `spark.read.parquet`, and no Spark job.
  * The source-tree lints keep one table reader, one session factory,
  * one profiling main, one metrics listener and one copy of each shared
  * query kernel. */
class TablesReadSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val dir = tempDir("graft_tables_read")

  /** Jobs started while `body` runs. The listener bus is asynchronous, so
    * earlier jobs' events are let drain before listening and this body's
    * are let arrive before counting (the settle pattern of
    * `SimilaritySpec`). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Thread.sleep(500)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      Thread.sleep(500)
      (a, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** A two-batch `historical_rates` (hive `batch_id=` partitions) and a
    * `current_rates` snapshot upserted from both batches. */
  private lazy val warehouse: Seq[String] = {
    val hist = s"$dir/historical_rates.parquet"
    val cur = s"$dir/current_rates.parquet"
    def ts(s: String) = Timestamp.valueOf(s)
    val batches = Seq(
      Seq(("USD", "EGP", 47.65, ts("2025-11-10 14:00:00"), ts("2025-11-10 14:05:00")),
        ("USD", "EUR", 0.86, ts("2025-11-10 14:00:00"), ts("2025-11-10 14:05:00"))),
      Seq(("USD", "EGP", 47.70, ts("2025-11-10 15:00:00"), ts("2025-11-10 15:05:00")),
        ("EUR", "GBP", 0.88, ts("2025-11-10 15:00:00"), ts("2025-11-10 15:05:00"))))
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF("base_currency", "target_currency", "rate",
        "timestamp", "retrieved_at")
      MicroBatch.appendHistoricalBatch(df, hist, i + 1L)
      MicroBatch.upsertParquet(spark, df, cur,
        Seq("base_currency", "target_currency"), "timestamp", "rate")
    }
    Seq(hist, cur)
  }

  test("Tables.read: every table opens with spark.read.parquet's schema " +
      "and rows, and launches no job") {
    val paths = Tables.names.map(n => s"$sf/$n.parquet") ++ warehouse
    paths.foreach { path =>
      val (got, jobs) = jobsDuring(Tables.read(spark, path))
      assert(jobs == 0, s"opening $path launched $jobs job(s)")
      val want = spark.read.parquet(path)
      assert(got.schema.fields.toSeq == want.schema.fields.toSeq, path)
      assert(rows(got) == rows(want), path)
    }
    val hist = Tables.read(spark, warehouse.head)
    assert(hist.schema.last == StructField("batch_id", IntegerType, nullable = true))
    assert(hist.count() == 4)
    assert(Tables.read(spark, warehouse(1)).count() == 3)
    // the listener is live: the inferring open it replaces does run a job
    assert(jobsDuring(spark.read.parquet(s"$sf/orders.parquet"))._2 >= 1)
  }

  test("Tables.read: a missing or data-less path fails as spark.read.parquet does") {
    val empty = Files.createDirectories(Paths.get(dir, "empty.parquet"))
    Files.createFile(empty.resolve("_SUCCESS"))
    Seq(s"$dir/missing.parquet", empty.toString).foreach { path =>
      val got = intercept[Exception](Tables.read(spark, path))
      val want = intercept[Exception](spark.read.parquet(path))
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage)
    }
  }

  test("Tables.events: an INT64 TIMESTAMP(NANOS) ts opens with no job and " +
      "converts as ts div 1000 micros") {
    val sfNanos = tempDir("graft_events_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = Seq(1700000000123456789L, 1700000001000000999L,
      1700000002999999999L)
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$sfNanos/events.parquet"), conf)).withType(schema)
      .withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()

    val (events, jobs) = jobsDuring(Tables.events(spark, sfNanos))
    assert(jobs == 0, s"opening events launched $jobs job(s)")
    assert(events.schema("ts").dataType == TimestampType)
    val micros = events.orderBy($"event_id")
      .select(unix_micros($"ts")).as[Long].collect().toSeq
    assert(micros == nanos.map(_ / 1000))
  }

  test("Tables.documents, embeddings and eventsDense: the spread readers " +
      "open with no job") {
    val readers = Seq[(String, (SparkSession, String) => DataFrame)](
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings,
      "eventsDense" -> Tables.eventsDense)
    readers.foreach { case (name, open) =>
      val jobs = jobsDuring(open(spark, sf))._2
      assert(jobs == 0, s"opening Tables.$name launched $jobs job(s)")
    }
  }

  /** One source-tree lint: `pattern` may appear only in `owners` (none:
    * nowhere), in the `.scala` files under `roots`. */
  private case class Lint(name: String, roots: Seq[String], pattern: String,
      owners: Set[String], advice: String)

  private val lints = Seq(
    Lint("lint: Tables.scala is the only program file calling .read.parquet(",
      Seq("src/main/scala"), """\.read\s*\.parquet\(""", Set("Tables.scala"),
      "open parquet tables through Tables.read"),
    Lint("lint: Session.scala is the only source file building a session",
      Seq("src/main/scala", "src/test/scala"), """SparkSession\s*\.builder""",
      Set("Session.scala"), "build sessions through graft.Session.builder"),
    Lint("lint: Profile.scala is the only main under graft/tools",
      Seq("src/main/scala/graft/tools"), """def\s+main\s*\(""", Set("Profile.scala"),
      "fold diagnostics into graft.tools.Profile"),
    Lint("lint: RunMetrics.scala is the only program file with a SparkListener",
      Seq("src/main/scala"), """\bSparkListener\b""", Set("RunMetrics.scala"),
      "read run counters through graft.obs.RunMetrics"),
    Lint("lint: DriverMath.scala is the only program file folding a nano-quantized zip_with",
      Seq("src/main/scala"), """(?s)aggregate\(\s*zip_with\(.{0,300}?lit\(1e9\)""",
      Set("DriverMath.scala"), "use DriverMath.l2Nano or DriverMath.dotNano"),
    Lint("lint: SimilarityQueries.scala is the only program file folding centroids into an array",
      Seq("src/main/scala"), """collect_list\(struct\(\s*(?:col\("cid"\)|\$"cid")""",
      Set("SimilarityQueries.scala"), "assign clusters through SimilarityQueries.centroidAssign"),
    Lint("lint: TextOps.scala is the only program file building token n-grams inline",
      Seq("src/main/scala"),
      """(?s)transform\(\s*sequence\(lit\(1\),\s*size\([^)]*\)\s*-[^,]*,\s*\w+\s*=>\s*array_join\(slice\(""",
      Set("TextOps.scala"), "use TextOps.tokenNgrams or TextOps.ngramWindows"),
    Lint("lint: FsUtil.scala is the only program file naming a java.io.tmpdir path",
      Seq("src/main/scala"), """java\.io\.tmpdir""", Set("FsUtil.scala"),
      "write scratch files under FsUtil.scratchDir, which deletes them at JVM exit"),
    Lint("lint: SparkTestBase.scala is the only source file creating a temp directory",
      Seq("src/main/scala", "src/test/scala"), """createTempDirectory\(""",
      Set("SparkTestBase.scala"),
      "make fixture directories with SparkTestBase.tempDir, which deletes them at JVM exit"),
    Lint("lint: CatalogEntry.scala is the only program file registering graft functions",
      Seq("src/main/scala"), """GraftFunctions\.register\(""", Set("CatalogEntry.scala"),
      "every catalog entry is built through CatalogEntry.query, which registers them"),
    Lint("lint: Session.scala is the only program file setting a conf or an optimizer rule",
      Seq("src/main/scala"), """conf\.set\(|experimental\.""", Set("Session.scala"),
      "configure sessions in graft.Session.builder; a query must leave its session as it found it"),
    Lint("lint: NioLocalFileSystem.scala is the only program file naming fs.file.impl",
      Seq("src/main/scala"), """fs\.file\.impl""", Set("NioLocalFileSystem.scala"),
      "select the local file system per write with NioLocalFileSystem.writer; " +
        "never in a session or SparkContext conf"),
    Lint("lint: no program file steers Bench by bench history or a rotation shard",
      Seq("src/main/scala"), """BENCH_r|SPARK_GRAFT_ROUND|SPARK_GRAFT_BENCH_ALL|rotation_""",
      Set.empty, "Bench times the whole catalog; its only input file is BASELINE_BENCH.json"),
    Lint("lint: no program file flips the JVM-wide ImageIO cache",
      Seq("src/main/scala"), """setUseCache""", Set.empty,
      "build MemoryCacheImage*Stream instances directly"),
    Lint("lint: no query, extension, rule or function object holds @volatile state",
      Seq("queries", "ext", "plans", "functions").map(d => s"src/main/scala/graft/$d"),
      """@volatile""", Set.empty,
      "keep state in the session or the query that owns it"))

  lints.foreach { lint =>
    test(lint.name) {
      val call = lint.pattern.r
      val offenders = lint.roots.map(Paths.get(_)).flatMap { root =>
        assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a source tree")
        Files.walk(root).iterator().asScala
          .filter(p => p.toString.endsWith(".scala"))
          .filterNot(p => lint.owners(p.getFileName.toString))
          .filter(p => call.findFirstIn(Files.readString(p)).isDefined)
      }
      assert(offenders.isEmpty, s"${lint.advice}: $offenders")
    }
  }
}
