package graft.tools

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.{Session, SparkEntry}
import graft.obs.RunMetrics.{Recorder, Step, inGroup, recording, settle}

/** The one profiler for catalog entries, in a quiet session of its own.
  *
  * Timing mode: one untimed warm-up, then [[Reps]] timed runs, each split
  * into construction (`fn(spark, sfDir)`; iterative entries run their
  * rounds here) and execution (a noop-sink write) under job groups
  * `profile-<entry>-construct|execute`. Per run: both wall times, job
  * counts and codegen compiles, driver GC/JIT deltas, and each stage of
  * 0.5 s or more with tasks, CPU, run, GC, deserialize and fetch-wait
  * seconds and operator scopes. Per entry: both medians and, per step,
  * the per-run jobs, stages, tasks, shuffle bytes, spill, CPU, GC and
  * compiles, and whether the entry's final plan ran with no shuffle
  * exchange (a query `CatalogEntry.query` planned as one partition, or
  * one that needs none). A warm rep that compiles ran generated code no
  * earlier rep ran: a per-run value inlined into it (see
  * `graft.functions.BoundConstant`) or a plan that differs between reps.
  *
  * `--plans` mode: the executed (post-AQE) plan of every `localCheckpoint`
  * or `checkpoint` the construction ran, then the final formatted plan.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [--plans] [entry ...]
  *        (no entry: the whole catalog; cores: SPARK_GRAFT_CPUS)
  */
object Profile {
  val Reps = 5

  /** One timed run: wall seconds and counters per step, driver deltas. */
  final case class Run(constructS: Double, executeS: Double,
      construct: Step, execute: Step, driverGcMs: Long, jitMs: Long,
      shuffleExchanges: Int)

  /** Shuffle exchanges in `df`'s physical plan, subqueries and AQE's
    * plan included (AQE can drop an exchange at run time, never add
    * one). Read after the run it describes, so it is not timed. */
  def shuffleExchanges(df: DataFrame): Int = new AdaptiveSparkPlanHelper {}
    .collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }.size

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .stream().mapToLong(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** One untimed warm-up of catalog entry `name`, then [[Reps]] timed
    * runs; `rec` must be [[graft.obs.RunMetrics.recording]]. */
  def timeEntry(spark: SparkSession, rec: Recorder, sfDir: String,
      name: String): Seq[Run] = {
    val fn = SparkEntry.queries(name)
    val (cg, eg) = (s"profile-$name-construct", s"profile-$name-execute")
    def once(): Run = {
      val (gc0, jit0) = (gcMs, jitMs)
      val (df, tc) = rec.inStep(spark, cg)(fn(spark, sfDir))
      val te = rec.inStep(spark, eg)(df.write.format("noop").mode("overwrite").save())._2
      val (gc, jit) = (gcMs - gc0, jitMs - jit0)
      settle(spark, rec)
      Run(tc, te, rec.take(cg), rec.take(eg), gc, jit, shuffleExchanges(df))
    }
    once()
    Seq.fill(Reps)(once())
  }

  private def printTiming(spark: SparkSession, rec: Recorder, sfDir: String,
      name: String): Unit = {
    val runs = timeEntry(spark, rec, sfDir, name)
    runs.zipWithIndex.foreach { case (r, i) =>
      println(f"[profile] $name rep ${i + 1}  construct ${r.constructS}%7.3f s " +
        f"(${r.construct.jobs} jobs, ${r.construct.compiles} compiles)  execute " +
        f"${r.executeS}%7.3f s (${r.execute.jobs} jobs, ${r.execute.compiles} compiles)  " +
        f"driverGC ${r.driverGcMs} ms  jit ${r.jitMs} ms")
      r.construct.slow.foreach(s => println(s"[profile]   construct $s"))
      r.execute.slow.foreach(s => println(s"[profile]   execute   $s"))
    }
    val n = runs.size.toDouble
    def median(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
    def per(xs: Seq[Long], scale: Double = 1.0): Double = xs.sum / n / scale
    println(f"[profile] $name%-28s construct median " +
      f"${median(runs.map(_.constructS))}%7.3f s  execute median " +
      f"${median(runs.map(_.executeS))}%7.3f s  (n=${runs.size}, $sfDir)  driver " +
      f"gc ${per(runs.map(_.driverGcMs))}%.0f ms  jit ${per(runs.map(_.jitMs))}%.0f ms")
    for ((label, ss) <- Seq("construct" -> runs.map(_.construct),
        "execute" -> runs.map(_.execute)))
      println(f"[profile]   $label%-9s per rep: jobs ${per(ss.map(_.jobs))}%5.1f  " +
        f"stages ${per(ss.map(_.stages))}%5.1f  tasks ${per(ss.map(_.tasks))}%6.1f  " +
        f"shufR ${per(ss.map(_.shufR), 1048576)}%8.2f MB  " +
        f"shufW ${per(ss.map(_.shufW), 1048576)}%8.2f MB  " +
        f"spill ${per(ss.map(_.spill), 1048576)}%8.2f MB  " +
        f"cpu ${per(ss.map(_.cpuNs), 1e9)}%7.2f s  gc ${per(ss.map(_.gcMs), 1e3)}%6.2f s  " +
        f"compiles ${per(ss.map(_.compiles))}%5.1f")
    println(s"[profile]   final plan ran with no shuffle exchange: " +
      runs.forall(_.shuffleExchanges == 0))
  }

  private def printPlans(spark: SparkSession, rec: Recorder, sfDir: String,
      name: String): Unit = {
    val group = s"profile-$name-construct"
    val finalPlan = try inGroup(spark, group)(SparkEntry.queries(name)(spark, sfDir))
      ._1.queryExecution.explainString(FormattedMode)
    catch { case NonFatal(e) => s"FAILED: ${e.getMessage}" }
    settle(spark, rec)
    rec.take(group)
    println(s"\n========== $name ==========")
    rec.takePlans().zipWithIndex.foreach { case ((fn, qe), i) =>
      println(s"\n----- $name :: $fn #${i + 1} -----\n${qe.explainString(FormattedMode)}")
    }
    println(s"\n----- $name :: final plan -----\n$finalPlan")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> [--plans] [entry ...]")
    val (sfDir, plans) = (args.head, args.tail.contains("--plans"))
    val named = args.tail.filterNot(_ == "--plans").toSeq
    val names = if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(keepPlans = plans)
    try recording(spark, rec)(names.foreach { name =>
      try if (plans) printPlans(spark, rec, sfDir, name)
      else printTiming(spark, rec, sfDir, name)
      catch { case NonFatal(e) => println(s"[profile] $name FAILED: ${e.getMessage}") }
    }) finally spark.stop()
  }
}
