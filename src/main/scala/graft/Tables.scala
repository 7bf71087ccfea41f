package graft

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Canonical readers for the driver-generated parquet tables (`TESTDATA.md`)
  * and for the warehouse tables the pipeline writes.
  *
  * Every parquet open in the program goes through [[read]], which takes the
  * schema from one file footer on the driver: an open is lazy and launches
  * no Spark job (`spark.read.parquet` alone runs one job to infer the
  * schema). Filters/projections composed on top are pushed down to the
  * parquet scan by Catalyst (verify with `.explain("formatted")`:
  * `PushedFilters` / `ReadSchema`).
  *
  * `events.parquet` has shipped with two `ts` physical types across testdata
  * generations: nanosecond timestamps (pandas default), which Spark's parquet
  * reader rejects (`PARQUET_TYPE_ILLEGAL`), and plain microsecond
  * `TIMESTAMP_NTZ`. Every file shipped today is microsecond. The nanosecond
  * generation opens only on a session built by `graft.Session.builder`, which
  * sets `spark.sql.legacy.parquet.nanosAsLong` so the column reads as longs;
  * on any other session its open fails at schema conversion. [[events]]
  * adapts to whichever shape is on disk:
  *   - long nanos convert with *integer* division (`div 1000`) to a
  *     microsecond timestamp. Floating division would silently lose
  *     precision: epoch nanos (~1.7e18) exceed a double's exact-integer range
  *     (2^53). The floor truncation matches what DuckDB does when casting
  *     TIMESTAMP_NS to TIMESTAMP, keeping the oracle comparison exact.
  *   - `TIMESTAMP_NTZ` casts to session-local `TIMESTAMP` — a no-op on the
  *     instant under the catalog's pinned UTC session timezone, and it keeps
  *     every downstream query seeing one `ts` type regardless of generation.
  * The DuckDB oracles are shape-independent already: they uniformly read the
  * column as `ts::TIMESTAMP`, identical on TIMESTAMP_NS and TIMESTAMP.
  *
  * At 100 TB scale these readers are unchanged: they describe *what* to scan;
  * partition pruning / row-group skipping comes from the layout and the
  * predicates composed on top, not from this code.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case n        => read(spark, s"$sfDir/$n.parquet")
    }

  /** Opens the parquet table at `path` (a file, or a directory of files
    * with optional `key=value` partition directories) without a Spark
    * job. The schema is the one Spark's own inference would produce:
    * like it (without `mergeSchema`), it trusts the footer of the first
    * data file in path order, and takes the Spark schema JSON stored
    * there, else converts the parquet schema under the session's conf
    * (`nanosAsLong`, `inferTimestampNTZ`, ...). Partition columns still
    * come from Spark's partition discovery. The footer is read on every
    * call, so a table rewritten between opens is seen as it is now. A
    * missing path, or one without data files, opens through
    * `spark.read.parquet` so its errors are Spark's. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val first =
      try dataFiles(conf, path).minByOption(_.getPath.toString)
      catch { case _: FileNotFoundException => None }
    first match {
      case Some(st) =>
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer(conf, st)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The data files under a parquet path, as Spark's file index lists
    * them: the path itself if it is a file, else every file below it,
    * skipping `_`/`.`-prefixed names (`_SUCCESS`, checksums, markers)
    * but descending into `key=value` partition directories. */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String): Boolean =
      name.startsWith(".") || name.startsWith("_") && !name.contains("=")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
    walk(fs.getFileStatus(root))
  }

  private def footer(conf: Configuration, st: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try r.getFooter finally r.close()
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** Documents reads are CPU-dense downstream for the same reason as
    * [[embeddings]] — tokenize / regex / n-gram / hashing per row —
    * and the corpus ships as a single-row-group file at test SFs, so
    * every text entry otherwise inherits a 1-task scan (observed under
    * a bandwidth-starved session: doc_quality_filter 18.8 s on one
    * core vs 0.26 s spread). Filters still push below the
    * repartition; at warehouse scale the guard no-ops. */
  def documents(s: SparkSession, d: String): DataFrame =
    spreadScan(table(s, d, "documents"))

  /** Embeddings reads are ALWAYS CPU-dense downstream — every consumer
    * does per-row vector math (dot products, norms, quantization,
    * centroid distances), so the scan's byte-sized parallelism is the
    * wrong parallelism for all of them (observed: an 11.3 s single-task
    * k-means assign stage over a single-row-group file that reads
    * 0.4 s spread across the cores). spreadScan at the reader fixes
    * the whole family at once; scan-level predicates still reach the
    * parquet scan (Catalyst pushes filters through repartition), and
    * at warehouse scale — where the scan already has >= shufN splits —
    * the guard makes this a no-op. */
  def embeddings(s: SparkSession, d: String): DataFrame =
    spreadScan(table(s, d, "embeddings"))

  /** Scan-parallelism guard for CPU-DENSE pipelines (tokenize /
    * n-gram explode / codec work), where per-row compute dwarfs scan
    * cost: if the upstream scan yields fewer partitions than the
    * session's shuffle parallelism, redistribute rows round-robin so
    * the expensive map work uses every core. Rationale: Spark sizes
    * scan tasks by BYTES (`files.maxPartitionBytes`), which is right
    * for I/O-bound scans and catastrophically wrong for a 0.5 MB
    * single-row-group file feeding 13-token n-gram explosion — one
    * task inherits ALL the CPU (observed: a 66 s single-task stage in
    * dedup_graph_triangles at sf0.1). At warehouse scale the scan
    * already has ≥ shufN splits and this is a NO-OP — the condition,
    * not the caller, decides, so the guard never adds an exchange to
    * a plan that is already parallel. Readers only: the partition-count
    * probe reads plan metadata (no job) on a bare scan, but on a frame
    * holding an exchange it runs that exchange's map stage to answer. */
  private def spreadScan(df: DataFrame): DataFrame = {
    val shufN =
      df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= shufN) df
    else df.repartition(shufN)
  }

  /** Table row count from parquet FILE METADATA only — a driver-side
    * footer read, never a Spark job. Exists for operators whose *plan
    * shape* depends on corpus size (e.g. the LSH plane count in
    * `sim_bucketed_pairs`): sizing the plan must not cost a cluster
    * round-trip per invocation. At 100 TB a production caller passes
    * the count from table statistics (metastore / ANALYZE / catalog
    * `rowCount`); this helper serves the same number for the bare
    * parquet test directories, which have no catalog entry. */
  def statsRowCount(spark: SparkSession, sfDir: String,
      name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, s"$sfDir/$name.parquet").map { st =>
      footer(conf, st).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** Events reads are NOT spread by default — unlike [[documents]] /
    * [[embeddings]], whose consumers are almost all CPU-dense, most
    * events consumers are cheap scans + aggregations where the
    * byte-sized scan parallelism is already right. The r14 round
    * applied a blanket spreadScan here and the bench showed the tax:
    * the six most-elevated entries (1.5-1.83x baseline) were all
    * cheap events aggregations paying a round-robin exchange their
    * denominators never had, while only the JSON-parse entries needed
    * it (r14 verdict finding 3). The spread is therefore SCOPED to
    * the dense consumers via [[eventsDense]]; the
    * `CatalogPlanLintSpec` spreadScan-contract test enumerates the
    * dense markers and fails any dense events entry still reading the
    * raw scan. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsRaw(spark, sfDir)

  /** The [[spreadScan]]-guarded events reader for CPU-DENSE consumers
    * (`get_json_object` / `from_json` over the props column in
    * `json_props_extract` / `pivot_map_to_rows` /
    * `anomaly_zscore_topk`): `events.parquet` is a single file at test
    * SFs, so the per-row parse otherwise runs on ONE task (the r13
    * 3.28x flag). Filters still push below the repartition; at
    * warehouse scale (scan splits >= shufN) the guard is a no-op. */
  def eventsDense(spark: SparkSession, sfDir: String): DataFrame =
    spreadScan(eventsRaw(spark, sfDir))

  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = read(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // ns-int64 generation: exact integer ns -> us
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // us generation: instant-preserving under UTC
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
