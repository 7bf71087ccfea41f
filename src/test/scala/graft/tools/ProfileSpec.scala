package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.SparkTestBase
import graft.ext.Graph

/** `Profile`'s one listener pair: it sees every round checkpoint of an
  * iterative operator, leaves the session when the profiled work throws,
  * and attributes jobs to the step that ran them. */
class ProfileSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("--plans capture: every connectedComponents round on a 9-edge chain " +
      "records its localCheckpoint plan") {
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val rec = new Profile.Recorder(keepPlans = true)
    val labels = Profile.recording(spark, rec) {
      val out = Graph.connectedComponents(chain, "src", "dst").collect()
      Profile.settle(spark, rec)
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
    val rec = new Profile.Recorder(keepPlans = true)
    intercept[NoSuchElementException](Profile.recording(spark, rec) {
      Profile.timeEntry(spark, rec, sf, "no_such_entry")
    })
    val live = new Profile.Recorder(keepPlans = true)
    Profile.recording(spark, live) {
      Profile.inGroup(spark, "profile-after-construct")(spark.range(4).localCheckpoint())
      Profile.settle(spark, live)
    }
    assert(live.takePlans().size == 1 && live.take("profile-after-construct").jobs >= 1)
    assert(rec.takePlans().isEmpty && rec.take("profile-after-construct").jobs == 0)
  }

  test("a Tables.read-only entry constructs with no job and executes with some") {
    val rec = new Profile.Recorder(keepPlans = false)
    val runs = Profile.recording(spark, rec)(
      Profile.timeEntry(spark, rec, sf, "count_rows"))
    assert(runs.size == Profile.Reps)
    assert(runs.forall(_.construct.jobs == 0), runs.map(_.construct.jobs))
    assert(runs.forall(r => r.execute.jobs >= 1 && r.execute.stages >= 1),
      runs.map(_.execute.jobs))
  }
}
