package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Building and running catalog entries leaves the session as it was:
  * no conf is set and no optimizer rule is installed, and a fresh
  * session gets graft's functions from the catalog boundary alone. */
class SessionStateSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("summary_rewrite_agg, an events entry and a vec_dot_q9 entry leave " +
      "the session's conf and optimizer rules unchanged") {
    val conf = spark.conf.getAll
    val rules = spark.experimental.extraOptimizations
    Seq("summary_rewrite_agg", "earliest_in_window", "decontam_semantic_embed")
      .foreach { name =>
        val rows = SparkEntry.queries(name)(spark, sf).collect()
        assert(rows.nonEmpty, s"$name returned no rows")
      }
    val now = spark.conf.getAll
    assert(now == conf,
      s"conf changed: ${(now.toSet diff conf.toSet) ++ (conf.toSet diff now.toSet)}")
    assert(spark.experimental.extraOptimizations == rules)
  }

  test("an entry run on a new session registers the functions it calls " +
      "there, and installs no optimizer rule") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    assert(!registry.functionExists(FunctionIdentifier("vec_dot_q9")))
    val rows = SparkEntry.queries("decontam_semantic_embed")(fresh, sf).collect()
    assert(rows.nonEmpty)
    assert(registry.functionExists(FunctionIdentifier("vec_dot_q9")))
    assert(fresh.experimental.extraOptimizations.isEmpty)
  }
}
