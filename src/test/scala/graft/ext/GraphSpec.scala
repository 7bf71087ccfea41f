package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.obs.RunMetrics

/** Connected components: closure correctness, multi-round convergence,
  * and the refuse-dont-truncate guard on the round budget. */
class GraphSpec extends SparkTestBase {

  private def cc(edges: Seq[(Long, Long)], maxRounds: Int = 25): Map[Long, Long] = {
    import spark.implicits._
    Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst", maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangle, pair, and chain resolve to min-member components") {
    val got = cc(Seq(
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle
      (10L, 11L),                         // isolated pair
      (1L, 2L), (2L, 3L)))                // chain
    assert(got == Map(
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      10L -> 10L, 11L -> 10L,
      1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("long chain needs diameter rounds and still converges") {
    // path 0-1-2-...-9: min label must walk the whole chain
    val got = cc((0L until 9L).map(i => (i, i + 1)))
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("edge direction does not matter") {
    assert(cc(Seq((5L, 1L), (1L, 9L))) == Map(1L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("hitting the round budget mid-propagation throws, never truncates") {
    val chain = (0L until 9L).map(i => (i, i + 1))
    assertThrows[IllegalStateException](cc(chain, maxRounds = 2))
  }

  private def ccStar(edges: Seq[(Long, Long)],
      maxRounds: Int = 50): Map[Long, Long] = {
    import spark.implicits._
    Graph.connectedComponentsStar(edges.toDF("src", "dst"), "src", "dst",
      maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path-halving variant matches min-propagation on a mixed graph") {
    val edges = Seq(
      (20L, 21L), (21L, 22L), (20L, 22L),
      (10L, 11L),
      (1L, 2L), (2L, 3L), (3L, 7L), (7L, 4L))
    assert(ccStar(edges) == cc(edges))
  }

  test("path-halving converges on a 200-node chain within O(log n) " +
      "rounds where plain propagation would need the full diameter") {
    val chain = (0L until 199L).map(i => (i, i + 1))
    // diameter 199: propagation refuses at a 25-round budget...
    assertThrows[IllegalStateException](cc(chain, maxRounds = 25))
    // ...the halving variant finishes inside the same budget
    val got = ccStar(chain, maxRounds = 25)
    assert(got == (0L to 199L).map(_ -> 0L).toMap)
  }

  test("path-halving variant also refuses at an impossible budget") {
    val chain = (0L until 199L).map(i => (i, i + 1))
    assertThrows[IllegalStateException](ccStar(chain, maxRounds = 2))
  }

  /** Plain-Scala union-find — the independent reference both Spark
    * formulations must match on arbitrary graphs. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("forAll: both component formulations equal union-find on random " +
      "edge lists (self-loops, duplicates, and parallel edges included)") {
    // small node domain on purpose: collisions make dense multi-edge
    // components, the interesting inputs for the propagation algebra
    val genEdges: Gen[List[(Long, Long)]] =
      Gen.choose(1, 14).flatMap { n =>
        Gen.listOfN(n, for {
          a <- Gen.choose(0L, 11L)
          b <- Gen.choose(0L, 11L)
        } yield (a, b))
      }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(8) // each case runs two iterative Spark jobs
      .withInitialSeed(Seed(246813579L))
    val res = SCTest.check(params, Prop.forAll(genEdges) { edges =>
      val expect = unionFind(edges)
      cc(edges) == expect && ccStar(edges) == expect
    })
    assert(res.passed, s"cc law: ${res.status}")
  }

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Long) = {
    import spark.implicits._
    val r = Graph.triangleStats(edges.toDF("src", "dst"), "src", "dst")
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("triangleStats: clique, star, and mixed graphs count exactly") {
    // K4: 4 nodes, 6 edges, 4 triangles, 12 wedges, transitivity 1.0
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))) == (4L, 6L, 4L, 12L, 1000000L))
    // star K1,4: hub wedges only, zero triangles — the skew shape the
    // degree orientation exists for
    assert(tri(Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L))) ==
      (5L, 4L, 0L, 6L, 0L))
    // triangle + pendant; duplicate/reversed input edges collapse
    assert(tri(Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L),
      (1L, 2L))) == (4L, 4L, 1L, 5L, 600000L))
  }

  test("pageRankInt: star hub dominates, mass is conserved up to " +
    "truncation, and reruns are bit-identical") {
    import spark.implicits._
    // undirected star 0-{1,2,3,4}, symmetrized to a directed list
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRankInt(edges, "src", "dst", iters = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sortBy(_._1)
    val hub = r.head
    assert(hub._1 == 0L && hub._2 == 4L)
    val leaves = r.tail
    assert(leaves.forall(_._3 == leaves.head._3), "leaves symmetric")
    assert(hub._3 > 2 * leaves.head._3, s"hub must dominate: $r")
    // mass: sum ranks = scale minus bounded truncation (≤ 1 per div,
    // ~n divs per iteration)
    val total = r.map(_._3).sum
    assert(total <= 1000000000000L && total > 1000000000000L - 1000L,
      s"mass off: $total")
    val rerun = Graph.pageRankInt(edges, "src", "dst", iters = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sortBy(_._1)
    assert(r.toSeq == rerun.toSeq, "integer PR must be bit-deterministic")
  }

  test("triangleStats law: matches brute-force count on random graphs") {
    val gen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)))
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(12).withInitialSeed(Seed(77L)),
      Prop.forAll(gen) { raw =>
        val edges = raw.filter(e => e._1 != e._2)
        if (edges.isEmpty) true
        else {
          val und = edges.map(e => (math.min(e._1, e._2),
            math.max(e._1, e._2))).distinct
          val adj = und.flatMap(e => Seq(e, e.swap))
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
          val nodes = adj.keys.toSeq.sorted
          val brute = (for {
            a <- nodes; b <- nodes if b > a && adj(a)(b)
            c <- nodes if c > b && adj(a)(c) && adj(b)(c)
          } yield 1).size.toLong
          val wedges = nodes.map { n =>
            val d = adj(n).size.toLong; d * (d - 1) / 2
          }.sum
          tri(edges) == ((nodes.size.toLong, und.size.toLong, brute,
            wedges, if (wedges == 0) 0L else brute * 3000000L / wedges))
        }
      })
    assert(res.passed, s"triangle law: ${res.status}")
  }

  test("label propagation separates bridged triangles that connected " +
      "components cannot") {
    import spark.implicits._
    // two triangles joined by ONE bridge edge: a single component (CC
    // labels everything 1), but two communities — each node has 2
    // in-triangle neighbors vs at most 1 across the bridge, so the
    // frequency argmax keeps the triangles apart
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // triangle A
      (7L, 8L), (8L, 9L), (7L, 9L), // triangle B
      (3L, 7L))                     // bridge
    assert(cc(edges).values.toSet == Set(1L))
    val lpa = Graph.labelPropagate(
        edges.toDF("src", "dst"), "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val comA = Set(1L, 2L, 3L).map(lpa)
    val comB = Set(7L, 8L, 9L).map(lpa)
    assert(comA.size == 1 && comB.size == 1 && comA != comB,
      s"expected two communities, got $lpa")
  }

  test("label propagation ignores self-loops: adding them changes " +
      "nothing (a node must not vote for its own label)") {
    import spark.implicits._
    // regression for the symmetrizing-union bug: the forward branch
    // filtered (a,a) but the reversed branch re-added it, giving every
    // self-looped node one extra vote — its own — per round
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (7L, 8L), (8L, 9L), (7L, 9L),
      (3L, 7L))
    val loops = Seq((1L, 1L), (3L, 3L), (7L, 7L), (9L, 9L))
    def run(es: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.labelPropagate(es.toDF("src", "dst"), "src", "dst", rounds = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(edges ++ loops) == run(edges),
      "self-loops must not influence any node's label")
    // the 2-node oscillator makes the extra-self-vote visible in one
    // round: with the bug, node 9's tie-break (own label vs neighbor's)
    // collapses the synchronous swap and both nodes end at label 1
    val osc = Graph.labelPropagate(
        Seq((1L, 9L), (9L, 9L)).toDF("src", "dst"), "src", "dst", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(osc == Map(1L -> 1L, 9L -> 9L), s"got $osc")
  }

  test("k-core peel ignores self-loops: a node whose only edge is (a,a) " +
      "is isolated, not a 1-core member") {
    import spark.implicits._
    val got = Graph.kcorePeel(
        Seq((1L, 2L), (3L, 3L)).toDF("src", "dst"), "src", "dst",
        k = 1, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L),
      s"self-looped isolated node must be peeled, got $got")
  }

  test("label propagation with rounds = 1 runs no concentration probe") {
    import spark.implicits._
    // the probe steers only rounds 2+, so a 1-round run must not pay its
    // approx_count_distinct job; round 1 labels each node with its
    // smallest neighbor
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L), (8L, 9L),
      (7L, 9L), (3L, 7L)).toDF("src", "dst")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val rec = new RunMetrics.Recorder(keepPlans = false)
    spark.listenerManager.register(listener)
    val got = try RunMetrics.recording(spark, rec) {
      val out = Graph.labelPropagate(edges, "src", "dst", rounds = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      RunMetrics.settle(spark, rec)
      out
    } finally spark.listenerManager.unregister(listener)
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 7L -> 3L, 8L -> 7L, 9L -> 7L))
    assert(!plans.asScala.exists(_.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[HyperLogLogPlusPlus])))),
      "a rounds = 1 run executed an approx_count_distinct probe")
  }
}
