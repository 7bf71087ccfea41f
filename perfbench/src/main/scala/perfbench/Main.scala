package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Runs one workload for about `--seconds` of
  * whole passes after an untimed set-up and prints, as its last stdout line,
  * `RESULT <json>` with the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics (`--trace 1`). Lines starting `INFO ` are for
  * people. For the entry workloads it asks its caller to compare the
  * warm-up outputs with the DuckDB oracles: it prints `CHECK <dir>` and
  * reads one JSON line `{"failed": [...], "rows": {...}}` from stdin.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <n>
  * --trace <0|1> --data <dir> --work <dir> --cpus <n>` */
object Main {
  val Workloads: Seq[String] = Seq("ingest_refresh", "rate_queries")
  val BatchesPerEpoch = 4
  val WarmupBatches = 2
  /** A pass of either workload takes about this long on a 4-CPU host.
    * A run times `ceil(seconds / ReferencePassS)` passes: the same work
    * in every run, however fast it goes. Timing passes until `seconds`
    * had gone by let a slow run fit one pass fewer, and so also leave
    * out the last pass, the fastest while the JIT is still compiling,
    * which widened the spread between runs. */
  val ReferencePassS = 5.0

  def info(msg: String): Unit = synchronized { println(s"INFO $msg"); Console.flush() }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val cpus = args("cpus").toInt
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // the status store keeps every finished query, job and stage up to
      // these caps; left at their defaults the heap retained at the end
      // grows with the number of passes a run happened to fit
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val w: Workload = workload match {
      case "ingest_refresh" =>
        new IngestRefresh(spark, work, seed, BatchesPerEpoch, WarmupBatches)
      case _ =>
        new EntryWorkload(spark, args("data"), work, EntryWorkload.rateQueries, seed, askCheck)
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    info(f"set-up: session ready at $sinceStart%.2f s")
    val (setupOk, checkS) = w.setup()
    info(f"set-up: inputs ready at $sinceStart%.2f s (checks took $checkS%.2f s)")
    val tracer = new Tracer(spark)
    // one untimed pass more: the first pass after the set-up still runs
    // 15-75% slower than the next ones while the JIT compiles, by an
    // amount that differs from run to run
    val (warmOps, warmS) = w.pass(-1, 0, tracer)
    val setupS = sinceStart - checkS
    info(f"set-up: warm-up pass of ${warmOps.size} ops in $warmS%.3f s, done at $sinceStart%.2f s")

    // a fixed number of whole passes; a traced run
    // alternates untraced and traced passes, starting and ending
    // untraced so that warming up does not bias the tracing overhead
    val ops = Seq.newBuilder[Op]
    val passSeconds = Seq.newBuilder[(Double, Boolean)]
    val passes = math.max(1, math.ceil(seconds / ReferencePassS).toInt)
    var index = 0
    var nextOp = 0
    while (index < passes || (trace && (index < 3 || index % 2 == 0))) {
      tracer.enable(trace && index % 2 == 1)
      val cpu0 = processCpuS()
      val (passOps, passS) = w.pass(index, nextOp, tracer)
      ops ++= passOps
      passSeconds += passS -> tracer.enabled
      info(f"pass $index${if (tracer.enabled) " (traced)" else ""}: ${passOps.size} ops in $passS%.3f s" +
        f" (${processCpuS() - cpu0}%.1f CPU-s)")
      nextOp += passOps.size
      index += 1
    }
    tracer.enable(false)
    val allOps = ops.result()
    val heapMb = retainedHeapMb()
    if (trace) tracer.write(work.resolve(s"trace-$workload.jsonl"))

    val timedOps = allOps.filter(!_.traced)
    val timedPasses = passSeconds.result().filter(!_._2).map(_._1)
    val wall = timedPasses.sum
    val tail = Stats.tail(timedOps.map(_.seconds))
    val failed = allOps.count(!_.ok)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", Stats.median(timedOps.map(_.seconds)), "s"),
      ("op_tail_s", tail.value, "s"),
      ("ops_per_s", timedOps.size / wall, "1/s"),
      ("pass_s", Stats.median(timedPasses), "s"),
      ("rows_per_s", timedOps.map(_.rows).sum / wall, "rows/s"),
      ("retained_heap_mb", heapMb, "MB"))
    val metrics =
      if (trace) Layers.metrics(tracer, allOps)
      else endToEnd
    info(f"workload $workload seed $seed: ${allOps.size} ops in $index passes, " +
      f"local[$cpus], ${Runtime.getRuntime.maxMemory / (1 << 20)} MB max heap")
    info(f"op_tail_s is p${tail.percentile}%.1f with ${tail.beyond} of ${tail.samples} samples beyond it")
    info(s"failed_ratio $failed/${allOps.size}")
    if (workload == "ingest_refresh")
      info(f"refresh_p50_s ${Stats.median(timedOps.map(_.refreshSeconds))}%.4f")
    val result = Json.obj(Seq(
      "correct" -> (failed == 0 && setupOk && warmOps.forall(_.ok)).toString,
      "attempted" -> allOps.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    spark.stop()
    println(s"RESULT $result")
    Console.flush()
  }

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Heap still in use after a forced collection, in MiB. Spark's
    * context cleaner frees the blocks of collected broadcasts and RDDs
    * asynchronously, so collections repeat until the figure settles. */
  private def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var now = last
    var rounds = 0
    do {
      last = now
      Thread.sleep(250)
      now = used()
      rounds += 1
    } while (math.abs(now - last) > 1.0 && rounds < 12)
    now
  }

  /** Asks the caller to compare the outputs in `dir` with their oracles. */
  private def askCheck(dir: Path): (Set[String], Map[String, Long]) = {
    println(s"CHECK $dir")
    Console.flush()
    val line = new BufferedReader(new InputStreamReader(System.in)).readLine()
    require(line != null, "no reply to CHECK")
    val reply = new ObjectMapper().readTree(line)
    (reply.get("failed").elements().asScala.map(_.asText).toSet,
      reply.get("rows").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
  }
}
