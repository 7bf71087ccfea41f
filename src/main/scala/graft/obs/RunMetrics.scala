package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one metrics listener: Spark's per-stage counters summed per job
  * group, read by `graft.Bench` (one group per bench run) and
  * `graft.tools.Profile` (one group per construct or execute step).
  */
object RunMetrics {
  private val SettleGroup = "metrics-settle"

  /** Counters of one step: every job run under one job group.
    * `singleTask` counts stages of 3 s or more that ran as one task, the
    * shape that cannot scale out. `compiles` counts the classes Janino
    * compiled while the step ran ([[Recorder.inStep]]; 0 where the step
    * reused generated code). */
  final class Step {
    var jobs, stages, tasks, shufR, shufW, spill, cpuNs, gcMs, singleTask, compiles = 0L
    val slow = ArrayBuffer.empty[String]
  }

  /** The one `SparkListener` and `QueryExecutionListener`: counters per
    * job group, and (with `keepPlans`) every checkpoint's query. Both
    * sit on the listener bus's shared queue, so after [[settle]] every
    * earlier event has been seen. */
  final class Recorder(keepPlans: Boolean) extends SparkListener
      with QueryExecutionListener {
    private val steps = new ConcurrentHashMap[String, Step]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val settleJobs = ConcurrentHashMap.newKeySet[Int]()
    private[obs] val settled = new Semaphore(0)
    private val plans = new ConcurrentLinkedQueue[(String, QueryExecution)]()

    private def group(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    private def step(g: String): Step = steps.computeIfAbsent(g, _ => new Step)

    override def onJobStart(e: SparkListenerJobStart): Unit = group(e.properties)
      .foreach(g => if (g == SettleGroup) settleJobs.add(e.jobId) else step(g).jobs += 1)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (settleJobs.remove(e.jobId)) settled.release()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      group(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.remove(e.stageInfo.stageId)).map(step).foreach { s =>
        val i = e.stageInfo
        val m = i.taskMetrics
        s.stages += 1; s.tasks += i.numTasks; s.spill += m.diskBytesSpilled
        s.shufR += m.shuffleReadMetrics.totalBytesRead
        s.shufW += m.shuffleWriteMetrics.bytesWritten
        s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        val dur = i.completionTime.zip(i.submissionTime).fold(-1L) { case (a, b) => a - b }
        if (dur >= 3000 && i.numTasks == 1) s.singleTask += 1
        if (dur >= 500) {
          val ops = i.rddInfos.flatMap(_.scope).flatMap(_.name.split("\n")) // SQL operators
            .distinct.take(8).mkString("|")
          s.slow += f"stage ${i.stageId}%5d ${dur / 1e3}%6.2f s " +
            f"tasks=${i.numTasks}%-4d cpu=${m.executorCpuTime / 1e9}%6.1f " +
            f"run=${m.executorRunTime / 1e3}%6.1f gc=${m.jvmGCTime / 1e3}%5.1f " +
            f"deser=${m.executorDeserializeTime / 1e3}%5.1f " +
            f"fetchWait=${m.shuffleReadMetrics.fetchWaitTime / 1e3}%5.1f  $ops"
        }
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (keepPlans && (f == "localCheckpoint" || f == "checkpoint")) plans.add(f -> qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    /** [[inGroup]], adding the codegen compiles `body` caused to the
      * group's `compiles`. Spark's compile counter is JVM-wide, so the
      * count is the step's own only while steps run one at a time. */
    def inStep[A](spark: SparkSession, group: String)(body: => A): (A, Double) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try inGroup(spark, group)(body)
      finally step(group).compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }

    /** Removes and returns the counters of `group` (empty if none ran). */
    def take(group: String): Step = Option(steps.remove(group)).getOrElse(new Step)
    /** Removes and returns the checkpoint queries seen so far, in order. */
    def takePlans(): Seq[(String, QueryExecution)] =
      Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
  }

  /** Runs `body` with `rec` on both listener buses, removed again however `body` ends. */
  def recording[A](spark: SparkSession, rec: Recorder)(body: => A): A = {
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try body
    finally { spark.sparkContext.removeSparkListener(rec); spark.listenerManager.unregister(rec) }
  }

  /** Blocks until `rec` has seen every event posted so far: a one-task
    * marker job's end arrives after all of them on the same queue. */
  def settle(spark: SparkSession, rec: Recorder): Unit = {
    inGroup(spark, SettleGroup)(spark.sparkContext.parallelize(Seq(0), 1).count())
    require(rec.settled.tryAcquire(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
  }

  /** `body` under job group `group`, with its wall seconds. */
  def inGroup[A](spark: SparkSession, group: String)(body: => A): (A, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try (body, (System.nanoTime() - t0) / 1e9) finally sc.clearJobGroup()
  }
}
