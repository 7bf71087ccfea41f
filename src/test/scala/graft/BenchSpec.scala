package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure rules: which entries are verification overhead, how
  * an entry is priced from the baseline, and which entries the
  * post-warm budget fit drops. */
class BenchSpec extends AnyFunSuite {

  test("verification-only entries are exactly the _portable catalog " +
      "entries, the set make_baseline.py records") {
    val names = SparkEntry.queries.keySet
    assert(names.filter(Bench.verificationOnly) ===
      names.filter(_.endsWith("_portable")))
  }

  test("post-warm budget shrink: costliest dropped first, the minKeep " +
      "floor holds, the original order is kept") {
    val timed = Seq("a", "b", "x", "y", "z")
    val cost = Map("a" -> 1.0, "b" -> 5.0, "x" -> 4.0, "y" -> 2.0, "z" -> 3.0)
    def fitsAt(cap: Double)(set: Seq[String]): Boolean =
      set.map(cost).sum <= cap
    assert(Bench.shrinkToBudget(timed, cost, fitsAt(11.0), minKeep = 1) ===
      Seq("a", "x", "y", "z"))
    assert(Bench.shrinkToBudget(timed, cost, fitsAt(6.0), minKeep = 1) ===
      Seq("a", "y", "z"))
    assert(Bench.shrinkToBudget(timed, cost, fitsAt(1.0), minKeep = 1) ===
      Seq("a"))
    // already fits: untouched
    assert(Bench.shrinkToBudget(timed, cost, fitsAt(100.0), minKeep = 1) === timed)
    // the floor stops the shrink even when nothing fits
    assert(Bench.shrinkToBudget(timed, cost, fitsAt(0.0), minKeep = 3) ===
      Seq("a", "y", "z"))
  }

  test("baseline cost rank: a recorded entry costs its baseline time, an " +
      "entry the baseline lacks costs the median") {
    val cost = Bench.costRank(Map("a" -> 0.2, "b" -> 3.0, "c" -> 1.0))
    assert(cost("b") === 3.0)
    assert(cost("a") === 0.2)
    assert(cost("new_entry") === 1.0)
    assert(Bench.costRank(Map.empty)("new_entry") === 0.0)
  }
}
