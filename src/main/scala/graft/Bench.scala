package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.obs.RunMetrics

/** Benchmark main: times the whole catalog on SPARK_GRAFT_SF_DIR and
  * prints one JSON line, on stdout and in `bench_out.json`.
  *
  * Inputs: the environment (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_BENCH_BUDGET_SEC`, `SPARK_GRAFT_WARMUP_BUDGET_SEC`,
  * `SPARK_GRAFT_QUERY_DEADLINE_SEC`) and one file, `BASELINE_BENCH.json`,
  * whose per-entry times rank the entries by cost and, when the run's
  * sf dir and core count match the record's, predict what a sweep
  * costs and give the `vs_baseline` denominators.
  *
  * Measurement rules:
  *   - each run materializes the FULL plan through the `noop` sink; a
  *     bare `count()` lets Catalyst prune projections and sorts, timing
  *     a plan the correctness gate never checked;
  *   - an untimed concurrent warm pass (8 threads, costliest first)
  *     runs every entry once against the measured sf dir, so JVM, JIT
  *     and codegen start-up is billed to no timed run. Its budget is
  *     what the sweeps do not need, between 100 and 240 s (100 s where
  *     the baseline does not predict). An entry it leaves cold or
  *     cancels is dropped from the timed set, never timed cold
  *     (`warm_dropped`); leftover budget warms the 16 costliest entries
  *     a second time;
  *   - the session restarts once, after the warm pass: with the
  *     ContextCleaner off, the warm pass's dead blocks stay strongly
  *     held until the context stops. Three median-cost entries then run
  *     untimed to absorb the new session's start-up;
  *   - when two predicted sweeps (1.3x the baseline cost, or a third of
  *     the observed warm time where that is worse) do not fit the
  *     remaining budget, entries are dropped costliest first until they
  *     do, down to 20 (`budget_dropped`). The artifact stays complete
  *     over what it times;
  *   - timing waits until the JIT compiler goes quiet;
  *   - TWO interleaved sweeps, cheapest entry first: every timed entry
  *     once, then again, so one noisy window taxes at most one sample of
  *     an entry and the lower median (= min) sheds it. The `_portable`
  *     verification twins run in sweep 1 only. Sweep 2 starts only when
  *     its predicted cost fits the remaining budget;
  *   - a soft budget (`SPARK_GRAFT_BENCH_BUDGET_SEC`, 470 s from this
  *     main's start) is checked between runs: a kill under the driver's
  *     hard timeout leaves no artifact, so past the budget the line is
  *     written from the samples taken, marked `partial`;
  *   - a per-run deadline (`SPARK_GRAFT_QUERY_DEADLINE_SEC`, 120 s,
  *     shrinking toward the remaining budget in the sweeps) cancels one
  *     pathological entry's job group. A deadlined sample is a lower
  *     bound: it stays in `queries` and is listed under `deadlined`,
  *     but is kept out of `vs_baseline`;
  *   - per-entry counters from [[graft.obs.RunMetrics]], by job group
  *     (`bench-<entry>-<seq>`): the last timed run's jobs, stages,
  *     tasks, shuffle, spill, CPU and GC under `metrics`, and under
  *     `single_task` every entry whose run held a >= 3 s stage of one
  *     task;
  *   - `vs_baseline` is the ratio over the production entries timed in
  *     both records, emitted only when sf dir and core count match.
  *
  * Re-recording the baseline needs every entry timed: set
  * SPARK_GRAFT_WARMUP_BUDGET_SEC≈900 and SPARK_GRAFT_BENCH_BUDGET_SEC≈2700,
  * so nothing is left cold or dropped, then run `tools/make_baseline.py`,
  * which refuses a run whose `timed` is not the catalog.
  */
object Bench {

  /** Timed sweeps per run. */
  private val Sweeps = 2

  /** Catalog entries that exist solely to oracle a sketch algorithm
    * with a cross-engine-portable (md5-prefix) hash: the `_portable`
    * suffix, the rule `tools/make_baseline.py` records as the
    * baseline's `verification_only`. Production twins
    * (`dedup_minhash_lsh`, `doc_winnow_fingerprint`, `text_simhash`)
    * keep xxhash64 and are counted as production. */
  def verificationOnly(name: String): Boolean = name.endsWith("_portable")

  /** Per-entry cost from the baseline's per-entry times: an entry the
    * baseline lacks is priced at the median of the recorded times. */
  private[graft] def costRank(base: Map[String, Double]): String => Double = {
    val sorted = base.values.toSeq.sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
    n => base.getOrElse(n, median)
  }

  /** The post-warm budget fit: while `fits` fails, drop entries
    * costliest first, down to a floor of `minKeep` (below it the
    * artifact is not worth emitting and the overrun is the lesser
    * evil). Returns the kept set in the original order. */
  private[graft] def shrinkToBudget(timed: Seq[String], cost: String => Double,
      fits: Seq[String] => Boolean, minKeep: Int = 20): Seq[String] = {
    var kept = timed
    val it = timed.sortBy(n => -cost(n)).iterator
    while (!fits(kept) && kept.size > minKeep && it.hasNext) {
      val d = it.next()
      kept = kept.filterNot(_ == d)
    }
    kept
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus.toString
    def buildSession(): SparkSession = Session.builder(cpus.toInt)
      // BENCH-ONLY: disable the ContextCleaner. ~500 query executions
      // share this session; every young GC releases thousands of dead
      // broadcast/RDD weak refs at once and the cleaner's remove-RPC
      // flood saturates the BlockManagerMaster dispatcher — queries
      // that register broadcast pieces mid-build stall behind it for
      // MINUTES (observed: 4 s entries reading 120-340 s, different
      // victims each run, always broadcast-building ones). With
      // tracking off, blocks accumulate (MEMORY_AND_DISK spills,
      // nothing is lost) and the restart after warm-up drops the bulk
      // of them wholesale. Verify/tests keep the default cleaner.
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()

    val t0Wall = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0Wall) / 1e9
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "470").toDouble
    val names = SparkEntry.queries.keys.toSeq.sorted

    // The baseline record is a flat JSON object; scrape it with regexes
    // (no JSON library on the allowed deps).
    val baselinePath = Paths.get("BASELINE_BENCH.json")
    val baselineText: Option[String] =
      if (Files.exists(baselinePath)) Some(Files.readString(baselinePath))
      else None
    val baseKv: Map[String, Double] = baselineText.flatMap { text =>
      """"queries":\s*\{([^}]*)\}""".r.findFirstMatchIn(text).map { m =>
        """"([a-z0-9_]+)":\s*([0-9.]+)""".r.findAllMatchIn(m.group(1))
          .map(k => k.group(1) -> k.group(2).toDouble).toMap
      }
    }.getOrElse(Map.empty)
    // Shared by the warm pass (costliest first), the settle pass, the
    // fit shrink and the sweep order (cheapest first).
    val cost = costRank(baseKv)
    // Per-entry times from a different sf or core count predict
    // nothing: every budget prediction and vs_baseline require the
    // run's config to match the record's.
    val baselineConfigMatches: Boolean = baselineText.exists { text =>
      val baseSf = """"sf":\s*"([^"]+)"""".r
        .findFirstMatchIn(text).map(_.group(1))
      val baseCpus = """"cpus":\s*"?([0-9]+)"?""".r
        .findFirstMatchIn(text).map(_.group(1))
      baseSf.contains(sfDir) && baseCpus.contains(cpus)
    }
    // The baseline predicts what a set costs only at its own config and
    // when it prices at least 90% of the set.
    def predicts(set: Seq[String]): Boolean = baselineConfigMatches &&
      set.nonEmpty && set.count(baseKv.contains) >= set.size * 0.9
    var timedNames: Seq[String] = names

    // One recorder for the whole run, on each session: counters per
    // `bench-<entry>-<seq>` job group, read after the last sweep.
    val rec = new RunMetrics.Recorder(keepPlans = false)
    def newSession(): SparkSession = {
      val s = buildSession()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(rec)
      s
    }
    var spark = newSession()
    // The watchdog cancels the run's job group REPEATEDLY (period 2 s)
    // once the deadline passes: a single cancel can land between two of
    // an iterative entry's jobs and miss.
    val queryDeadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_DEADLINE_SEC", "120").toDouble
    val deadlined =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val watchdog = new java.util.Timer("bench-deadline", true)
    val groupSeq = new java.util.concurrent.atomic.AtomicLong()
    // Every run as (entry, job group, seconds, timed), read against
    // the recorder once the bus has settled after the last sweep.
    val runs =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double, Boolean)]()
    // `timed`: a run of the serial timed sweeps; the warm and settle
    // passes are untimed. `cancelSink` collects the untimed runs the
    // deadline cancelled: such an entry is not warm.
    def runOnce(name: String, timed: Boolean,
        deadlineSec: Double = queryDeadlineSec,
        cancelSink: java.util.Set[String] = null): Double = {
      val group = s"bench-$name-${groupSeq.incrementAndGet()}"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      @volatile var killed = false
      val killer = new java.util.TimerTask {
        override def run(): Unit = {
          killed = true
          spark.sparkContext.cancelJobGroup(group)
        }
      }
      watchdog.schedule(killer, (deadlineSec * 1000).toLong, 2000L)
      val t0 = System.nanoTime()
      val sec = try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        if (killed) {
          // Only a TIMED run's cancellation is a reportable deadline:
          // the warm pass runs 8 heavy entries at once, so its
          // cancellation measures contention, not the query.
          if (timed) deadlined.add(name)
          else if (cancelSink != null) cancelSink.add(name)
          System.err.println(f"[bench] $name hit the per-query deadline " +
            f"($deadlineSec%.0f s): cancelled" +
            (if (timed) ", recording lower bound" else " (warm-up)"))
          (System.nanoTime() - t0) / 1e9
        } else {
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      } finally {
        killer.cancel()
        spark.sparkContext.clearJobGroup()
      }
      runs.add((name, group, sec, timed))
      sec
    }

    var warmDropped = 0
    var budgetDropped = 0
    // Each entry's observed warm wall time: a host whose task threads
    // stall while it reads healthy shows it only in the work itself.
    val warmObserved =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    // Concurrent warm pass over `entries`, costliest first, so a
    // truncated pass leaves cheap entries cold, not the iterative ones
    // whose first run costs 10-60 s. Warms against the MEASURED dir:
    // under AQE a smaller input plans (and generates) different code.
    // Returns the entries left cold: never started, or cancelled.
    def warmConcurrent(entries: Seq[String], budget: Double): Seq[String] = {
      val w0 = System.nanoTime()
      def left: Double = budget - (System.nanoTime() - w0) / 1e9
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      entries.sortBy(n => -cost(n)).foreach(queue.add)
      val cancelled =
        java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val warmThreads = (1 to 8).map { _ =>
        new Thread(() => {
          // NO unpersist in here: a getPersistentRDDs unpersist from one
          // thread destroys another thread's in-flight localCheckpoint
          // blocks (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Budget check
          // BEFORE poll, so no thread exits holding an entry that is
          // neither run nor left in the queue.
          var n: String = if (left > 0) queue.poll() else null
          while (n != null) {
            // Deadline = the remaining warm budget + 30 s, floor 40 s:
            // a short flat deadline cancels the heavy entries under
            // 8-way contention, and they would be dropped.
            val e0 = System.nanoTime()
            runOnce(n, timed = false,
              deadlineSec = math.min(queryDeadlineSec, math.max(40.0, left + 30.0)),
              cancelSink = cancelled)
            val warmSec = (System.nanoTime() - e0) / 1e9
            if (!cancelled.contains(n)) warmObserved.put(n, warmSec)
            System.err.println(f"[bench] warm $n $warmSec%.1f s (pass " +
              f"${budget - left}%.1f/$budget%.0f s)")
            n = if (left > 0) queue.poll() else null
          }
        })
      }
      warmThreads.foreach(_.start())
      warmThreads.foreach(_.join())
      (queue.iterator().asScala.toList ++ cancelled.asScala.toList).distinct
    }
    locally {
      val w0 = System.nanoTime()
      // The warm budget is every second the rest of the run does not
      // need: restart + settle + quiesce (75 s), two predicted sweeps,
      // the inter-sweep gap (30 s) and 25 s slack; floor 100 s, cap
      // 240 s (beyond that a warm pass soaks up a degraded host). A
      // truncated warm pass saves nothing: what it leaves cold is
      // dropped from the timed set.
      val warmBudget = sys.env.get("SPARK_GRAFT_WARMUP_BUDGET_SEC")
        .map(_.toDouble).getOrElse {
          if (!predicts(timedNames)) 100.0
          else {
            val reserved = 75.0 + 2 * 1.3 * timedNames.map(cost).sum + 30.0 + 25.0
            math.max(100.0, math.min(240.0, budgetSec - elapsedSec - reserved))
          }
        }
      val skipped = warmConcurrent(timedNames, warmBudget)
      if (skipped.nonEmpty) {
        timedNames = timedNames.filterNot(skipped.toSet)
        warmDropped = skipped.size
        System.err.println(s"[bench] ${skipped.size} un-warmed entries DROPPED " +
          s"from the timed set (never time cold): " +
          skipped.sorted.take(12).mkString(",") +
          (if (skipped.size > 12) ",..." else ""))
      }
      // One warm run is not enough for the codec/kernel-heavy entries
      // (a GIF decode reads 0.76 s on its second run, 0.58 s from its
      // fourth): leftover budget buys the costliest a second one.
      val warmRemain = warmBudget - (System.nanoTime() - w0) / 1e9
      val pass2Cut =
        if (skipped.isEmpty && warmRemain > 25.0)
          warmConcurrent(timedNames.sortBy(n => -cost(n)).take(16), warmRemain).size
        else 0
      System.err.println(f"[bench] warm-up sweep ($sfDir, 8 threads, " +
        f"budget $warmBudget%.0f s) " +
        f"${(System.nanoTime() - w0) / 1e9}%.1f s; elapsed $elapsedSec%.1f s" +
        (if (pass2Cut > 0) s"; second warm pass cut $pass2Cut entries " +
          "short (deadline)" else ""))
    }

    // SESSION RESTART, once: `getPersistentRDDs.unpersist` drops only
    // blocks whose RDDs are still registered; the checkpoint and
    // broadcast blocks of the finished warm runs stay strongly held
    // with the cleaner off, and sweep 1 would start on a nearly full
    // old gen (observed: a stage with 112 s run time, 100.7 s of it
    // GC). Stopping the context releases the store; JIT-compiled code
    // and the JVM-static generated-class cache survive it.
    spark.stop()
    spark = newSession()
    System.gc()
    // Settle pass: the fresh session's first queries absorb its init
    // and compile storm (sub-second entries read 7-14 s right after a
    // restart), so three median-cost entries run untimed first.
    timedNames.sortBy(cost).drop(timedNames.size / 2).take(3)
      .foreach(runOnce(_, timed = false, deadlineSec = 15.0))
    // Post-warm budget fit: a fully warmed set can still overrun on a
    // degraded host, where warmed entries run 1.2-2x their baseline.
    // Each entry is priced at the worse of its baseline and its warm
    // time / 3 (8-way contention inflates a healthy warm 2-4x).
    if (predicts(timedNames)) {
      def effCost(n: String): Double = math.max(cost(n),
        Option(warmObserved.get(n)).map(_.doubleValue / 3.0).getOrElse(0.0))
      // 30 s: the pre-sweep quiesce and the inter-sweep gap
      def fits(set: Seq[String]): Boolean =
        elapsedSec + 30.0 + 2 * 1.3 * set.map(effCost).sum <= budgetSec
      if (!fits(timedNames)) {
        val kept = shrinkToBudget(timedNames, effCost, fits)
        budgetDropped = timedNames.size - kept.size
        System.err.println(f"[bench] predicted 2-sweep cost exceeds " +
          f"remaining budget (elapsed $elapsedSec%.0f/$budgetSec%.0f s): " +
          f"dropping $budgetDropped entries (costliest first) -> ${kept.size} timed")
        timedNames = kept
      }
    }
    // JIT quiesce: the warm pass queues hundreds of generated classes
    // for C2, and a sweep started while the compiler threads chew on
    // them runs partly interpreted (one sweep 1 read 286 s against
    // another's 114 s on the same code). Wait until the JVM's total
    // compilation time advances < 400 ms per 2 s window, 3 windows in
    // a row, capped.
    def jitQuiesce(capSec: Double): Unit = {
      Thread.sleep(4000) // GC/unpersist settling
      val mx = java.lang.management.ManagementFactory.getCompilationMXBean
      if (mx == null || !mx.isCompilationTimeMonitoringSupported)
        Thread.sleep(8000)
      else {
        val q0 = System.nanoTime()
        var prev = mx.getTotalCompilationTime
        var quiet = 0
        while (quiet < 3 && (System.nanoTime() - q0) / 1e9 < capSec) {
          Thread.sleep(2000)
          val cur = mx.getTotalCompilationTime
          if (cur - prev < 400) quiet += 1 else quiet = 0
          prev = cur
        }
        System.err.println(f"[bench] JIT quiesce wait " +
          f"${(System.nanoTime() - q0) / 1e9}%.1f s")
      }
    }

    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    var sweepsCompleted = 0
    var partial = false
    var lastSweepSec = 0.0
    // A warm sweep's predictor is the baseline cost of the timed set
    // with 1.3x headroom; 1.2x the last sweep only where the baseline
    // does not predict.
    def predictNextSweepSec(): Double =
      if (predicts(timedNames)) 1.3 * timedNames.map(cost).sum
      else lastSweepSec * 1.2
    val sweepLoop = new scala.util.control.Breaks
    sweepLoop.breakable {
      for (s <- 1 to Sweeps) {
        // Feasibility BEFORE the inter-sweep gap: a sweep that cannot
        // finish only yields a partial biased toward cheap entries, so
        // stop cleanly with the sweeps already collected.
        if (s > 1) {
          val estNext = predictNextSweepSec()
          // 20 s: the inter-sweep gc + quiesce
          if (elapsedSec + 20.0 + estNext > budgetSec) {
            System.err.println(f"[bench] remaining budget " +
              f"${budgetSec - elapsedSec}%.0f s < overhead + predicted " +
              f"sweep ($estNext%.0f s): stopping after " +
              f"$sweepsCompleted sweeps")
            sweepLoop.break()
          }
        }
        if (s == 1) jitQuiesce(60.0)
        else {
          // Between sweeps (serial, so safe): drop sweep 1's checkpoint
          // blocks, collect, and a short quiesce for the stragglers.
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          System.gc()
          jitQuiesce(15.0)
        }
        val sw0 = System.nanoTime()
        val sweepNames = timedNames.filter(n => s == 1 || !verificationOnly(n))
          .sortBy(cost)
        val inner = new scala.util.control.Breaks
        inner.breakable {
          for (n <- sweepNames) {
            if (elapsedSec > budgetSec) {
              partial = true
              System.err.println(f"[bench] budget $budgetSec%.0f s exceeded " +
                f"at $elapsedSec%.1f s (sweep $s, query $n): emitting partial result")
              inner.break()
            }
            // The deadline shrinks toward the remaining budget (floor
            // 20 s), so one heavy entry near the edge cannot overrun
            // the run; a clamped cancellation is `deadlined`.
            val clamp = math.min(queryDeadlineSec,
              math.max(20.0, budgetSec - elapsedSec - 10.0))
            samples(n) = runOnce(n, timed = true, deadlineSec = clamp) ::
              samples.getOrElse(n, Nil)
          }
        }
        if (partial) sweepLoop.break()
        sweepsCompleted += 1
        lastSweepSec = (System.nanoTime() - sw0) / 1e9
        System.err.println(f"[bench] sweep $s " +
          f"$lastSweepSec%.1f s; elapsed $elapsedSec%.1f s")
      }
    }
    // Lower median over the samples taken (= min for two sweeps). A
    // hard failure (-1.0) in ANY sweep publishes -1.0: a
    // load-sensitive crash must surface, never be shed with the noise.
    val results = names.flatMap { n =>
      samples.get(n).map { t =>
        n -> (if (t.contains(-1.0)) -1.0 else t.sorted.apply((t.length - 1) / 2))
      }
    }

    // Counters: once the bus has settled, take every run's job group.
    // An entry keeps its last timed run's counters; untimed runs (warm,
    // settle) are taken and dropped. A bus that does not drain costs
    // the counters, never the artifact.
    try RunMetrics.settle(spark, rec)
    catch { case e: Exception =>
      System.err.println(s"[bench] metrics incomplete: ${e.getMessage}") }
    val metrics = scala.collection.mutable.Map.empty[String, RunMetrics.Step]
    runs.asScala.foreach { case (n, group, sec, timed) =>
      val step = rec.take(group)
      if (timed) {
        metrics(n) = step
        if (sec >= 3.0)
          System.err.println(s"[bench] slow $n ${math.rint(sec * 10) / 10} s: " +
            step.slow.mkString("; "))
      }
    }
    val singleTask = metrics.collect { case (n, m) if m.singleTask > 0 => n }
    val ratioExcluded: Set[String] = deadlined.asScala.toSet
    if (ratioExcluded.nonEmpty)
      System.err.println(s"[bench] ${ratioExcluded.size} deadlined " +
        s"entries EXCLUDED from vs_baseline: " +
        ratioExcluded.toSeq.sorted.mkString(","))

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val prod = results.collect {
      case (k, v) if v >= 0 && !verificationOnly(k) => v }.sum
    // Over the production entries present in BOTH records, so adding a
    // catalog entry cannot read as a regression and the md5-portable
    // twins cannot dilute an engine-throughput ratio.
    val vsBaseline: Option[Double] =
      if (!baselineConfigMatches) None
      else {
        val shared = results.collect {
          case (k, v) if v >= 0 && baseKv.contains(k) &&
            !verificationOnly(k) && !ratioExcluded(k) => (v, baseKv(k)) }
        val baseSum = shared.map(_._2).sum
        if (baseSum > 0) Some(shared.map(_._1).sum / baseSum) else None
      }
    def num(x: Double): Double = math.rint(x * 1000) / 1000
    // Entries reading >= 3x their baseline AND >= 1 s.
    val regressions = results.collect {
      case (k, v) if baselineConfigMatches && v >= 1.0 &&
          baseKv.get(k).exists(b => b > 0 && v / b >= 3.0) =>
        s"""{"q":"$k","sec":${num(v)},""" +
          s""""base":${baseKv(k)}}"""
    }
    def strArr(xs: Iterable[String]): String =
      xs.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "metrics" sits right after "queries": the driver keeps only a
    // suffix of a long line, and the summary fields must stay in it.
    val metricsJson = metrics.toSeq.sortBy(_._1).map { case (n, m) =>
      s""""$n":{"jobs":${m.jobs},"stages":${m.stages},"tasks":${m.tasks},""" +
        s""""shuffle_read_bytes":${m.shufR},"shuffle_write_bytes":${m.shufW},""" +
        s""""spill_bytes":${m.spill},"cpu_s":${num(m.cpuNs / 1e9)},""" +
        s""""gc_s":${num(m.gcMs / 1e3)},"single_task":${m.singleTask}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""metrics":$metricsJson,""" +
        s""""production_sec":$prod,"verification_sec":${total - prod},""" +
        s""""partial":$partial,"sweeps_completed":$sweepsCompleted,""" +
        s""""warm_dropped":$warmDropped,""" +
        s""""budget_dropped":$budgetDropped,""" +
        s""""timed":${timedNames.size},"catalog":${names.size},""" +
        s""""single_task":${strArr(singleTask)},""" +
        s""""regressions":${regressions.mkString("[", ",", "]")},""" +
        s""""deadlined":${strArr(deadlined.asScala)}""" +
        vsBaseline.map(r => s""","vs_baseline":${num(r)}""").getOrElse("") +
        s""","sf":"$sfDir"}"""
    println(line)
    Files.writeString(Paths.get("bench_out.json"), line)
    spark.stop()
  }
}
