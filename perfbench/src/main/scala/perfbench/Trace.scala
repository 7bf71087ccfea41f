package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark work attributed to one span. Times in seconds, sizes in bytes. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var singleTaskStages = 0L
  var cpuS = 0.0
  var gcS = 0.0
  var schedulerWaitS = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var planS = 0.0
  /** Worst stage's max/median task run time (1 for balanced stages). */
  var skew = 1.0
}

/** One timed call into a layer. `op` is the id of the op it belongs to,
  * `parent` the enclosing span's id (-1 at top level). */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val label: String, val start: Long) {
  var end: Long = start
  val counters = new Counters
  def seconds: Double = (end - start) / 1e9
}

/** Records spans around the benchmark's calls into each layer, and the
  * Spark counters of the work done inside them. Spark events are
  * attributed by job group: every span runs its Spark calls under the
  * group `perfbench-<span id>`. Spans stay in memory until [[spans]] is
  * read at the end of the run. When off, [[span]] only runs its body. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val stageTaskTimes = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(byGroup.get(g))).foreach { s =>
          e.stageIds.foreach(stageSpan.put(_, s))
          s.counters.synchronized(s.counters.jobs += 1)
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = s.counters
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
          if (m != null) {
            c.cpuS += m.executorCpuTime / 1e9
            c.gcS += m.jvmGCTime / 1e3
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.bytesWritten += m.outputMetrics.bytesWritten
            c.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
        stageTaskTimes.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) +=
          e.taskInfo.duration
        stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) => math.min(a, b))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageSpan.get(info.stageId)).foreach { s =>
        val times = Option(stageTaskTimes.remove(info.stageId)).map(_.toSeq).getOrElse(Nil)
        val first = Option(stageFirstLaunch.remove(info.stageId)).map(_.longValue)
        val c = s.counters
        c.synchronized {
          c.stages += 1
          if (info.numTasks == 1) c.singleTaskStages += 1
          for (f <- first; sub <- info.submissionTime) c.schedulerWaitS += math.max(0L, f - sub) / 1e3
          if (times.size >= 2) {
            // a 1 ms floor keeps near-empty stages from reading as skewed
            val med = math.max(1.0, Stats.median(times.map(_.toDouble)))
            c.skew = math.max(c.skew, math.max(1.0, times.max) / med)
          }
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.flatMap(g => Option(byGroup.get(g))).foreach(execSpan.put(s.executionId, _))
      case e: SparkListenerSQLExecutionEnd =>
        Option(execSpan.remove(e.executionId)).foreach { s =>
          val planS = PerfbenchBridge.planSeconds(e)
          s.counters.synchronized(s.counters.planS += planS)
        }
      case _ =>
    }
  }

  def enabled: Boolean = on

  /** Turns recording on or off; listeners are registered only while on. */
  def enable(value: Boolean): Unit = if (value != on) {
    on = value
    if (on) sc.addSparkListener(listener)
    else {
      drain()
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` as span `name` of op `op`. */
  def span[T](name: String, op: Int, label: String = "")(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(all.size, name, parent.fold(-1)(_.id), op, label, System.nanoTime())
      all += s
      val group = s"perfbench-${s.id}"
      byGroup.put(group, s)
      stack.push(s)
      sc.setJobGroup(group, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits until every Spark event posted so far has been counted. */
  def drain(): Unit = PerfbenchBridge.drainListenerBus(sc)

  def spans: Seq[Span] = all.toSeq

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var reach = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** Writes every span, with its self time and counters, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = all.headOption.fold(0L)(_.start)
    val lines = all.map { s =>
      val c = s.counters
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
        "op" -> Json.num(s.op), "label" -> Json.str(s.label),
        "start_s" -> Json.num((s.start - t0) / 1e9), "end_s" -> Json.num((s.end - t0) / 1e9),
        "self_s" -> Json.num(selfSeconds(s)), "jobs" -> Json.num(c.jobs),
        "stages" -> Json.num(c.stages), "tasks" -> Json.num(c.tasks),
        "shuffle_write_bytes" -> Json.num(c.shuffleWriteBytes),
        "shuffle_read_bytes" -> Json.num(c.shuffleReadBytes),
        "bytes_written" -> Json.num(c.bytesWritten), "plan_s" -> Json.num(c.planS)))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
