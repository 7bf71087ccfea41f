package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{SparkEntry, SparkTestBase}
import graft.ext.Graph
import graft.obs.RunMetrics

/** The one listener pair (`RunMetrics.Recorder`) as `Profile` uses it: it
  * sees every round checkpoint of an iterative operator, leaves the
  * session when the profiled work throws, and attributes jobs and
  * single-task stages to the step that ran them. */
class ProfileSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("--plans capture: every connectedComponents round on a 9-edge chain " +
      "records its localCheckpoint plan") {
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val rec = new RunMetrics.Recorder(keepPlans = true)
    val labels = RunMetrics.recording(spark, rec) {
      val out = Graph.connectedComponents(chain, "src", "dst").collect()
      RunMetrics.settle(spark, rec)
      out
    }
    assert(labels.map(_.getLong(1)).toSet == Set(0L))
    val plans = rec.takePlans()
    assert(plans.forall(_._1 == "localCheckpoint"))
    // round 1 plus 9 propagation rounds (label 0 walks one hop per round,
    // and the 9th finds nothing to move); each round's checkpoint carries
    // the `changed` flag, the adjacency store's does not
    val rounds = plans.map(_._2.executedPlan)
      .filter(_.output.exists(_.name == "changed"))
    assert(rounds.size >= 10, s"${rounds.size} round plans of ${plans.size}")
    assert(rounds.forall(_.isInstanceOf[AdaptiveSparkPlanExec]))
  }

  test("the listeners are removed when the profiled entry throws") {
    val rec = new RunMetrics.Recorder(keepPlans = true)
    intercept[NoSuchElementException](RunMetrics.recording(spark, rec) {
      Profile.timeEntry(spark, rec, sf, "no_such_entry")
    })
    val live = new RunMetrics.Recorder(keepPlans = true)
    RunMetrics.recording(spark, live) {
      RunMetrics.inGroup(spark, "profile-after-construct")(spark.range(4).localCheckpoint())
      RunMetrics.settle(spark, live)
    }
    assert(live.takePlans().size == 1 && live.take("profile-after-construct").jobs >= 1)
    assert(rec.takePlans().isEmpty && rec.take("profile-after-construct").jobs == 0)
  }

  test("a Tables.read-only entry constructs with no job and executes with some") {
    val rec = new RunMetrics.Recorder(keepPlans = false)
    val runs = RunMetrics.recording(spark, rec)(
      Profile.timeEntry(spark, rec, sf, "count_rows"))
    assert(runs.size == Profile.Reps)
    assert(runs.forall(_.construct.jobs == 0), runs.map(_.construct.jobs))
    assert(runs.forall(r => r.execute.jobs >= 1 && r.execute.stages >= 1),
      runs.map(_.execute.jobs))
  }

  test("text entries over the spread documents reader construct with no job") {
    // a partition-count probe on a frame that holds the documents
    // reader's round-robin exchange runs that exchange to answer
    val rec = new RunMetrics.Recorder(keepPlans = false)
    val jobs = RunMetrics.recording(spark, rec)(Seq("decontam_bloom_prefilter",
        "decontam_ngram_overlap", "decontam_substring_exact",
        "dedup_substring_suffix").map { name =>
      val group = s"profile-$name-construct"
      RunMetrics.inGroup(spark, group)(SparkEntry.queries(name)(spark, sf))
      RunMetrics.settle(spark, rec)
      name -> rec.take(group).jobs
    })
    assert(jobs.forall(_._2 == 0), jobs)
  }

  test("Profile.shuffleExchanges: none in a small rate query planned as " +
      "one partition, some in one the gate keeps out") {
    val exchanges = Seq("count_rows", "cdc_snapshot_diff").map { name =>
      name -> Profile.shuffleExchanges(SparkEntry.queries(name)(spark, sf))
    }.toMap
    assert(exchanges("count_rows") == 0 && exchanges("cdc_snapshot_diff") > 0, exchanges)
  }

  test("RunMetrics: inStep counts a new generated class in its own step, " +
      "and none when the same plan runs again") {
    // an int literal is inlined into the generated source, so a value no
    // earlier test used makes a class the codegen cache has not seen
    val q = spark.range(10).select(($"id" * (System.nanoTime() % 1000000 + 1000000)).as("x"))
    val rec = new RunMetrics.Recorder(keepPlans = false)
    RunMetrics.recording(spark, rec) {
      rec.inStep(spark, "compile-first")(q.collect())
      rec.inStep(spark, "compile-again")(q.collect())
      RunMetrics.settle(spark, rec)
    }
    val (first, again) = (rec.take("compile-first"), rec.take("compile-again"))
    assert(first.compiles >= 1 && first.jobs >= 1, first.compiles)
    assert(again.compiles == 0, again.compiles)
  }

  test("RunMetrics: a 3 s one-task stage counts as single-task in its own " +
      "group, a 3 s two-task stage does not") {
    val sc = spark.sparkContext
    def sleepy(parts: Int): Long =
      sc.parallelize(1 to parts, parts).map { x => Thread.sleep(3100); x }.count()
    val rec = new RunMetrics.Recorder(keepPlans = false)
    RunMetrics.recording(spark, rec) {
      RunMetrics.inGroup(spark, "metrics-a")(sleepy(1))
      RunMetrics.inGroup(spark, "metrics-b")(sleepy(2))
      RunMetrics.settle(spark, rec)
    }
    val (a, b) = (rec.take("metrics-a"), rec.take("metrics-b"))
    assert(a.stages == 1 && a.tasks == 1 && a.singleTask == 1)
    assert(b.stages == 1 && b.tasks == 2 && b.singleTask == 0)
  }
}
