package graft

import org.scalatest.funsuite.AnyFunSuite

/** Rotation-group recovery against the ARTIFACT FORMATS actually
  * committed to the repo (r14 verdict item 1): the driver's
  * `BENCH_r{N}.json` wrapper stores the bench line quote-ESCAPED
  * inside a `"tail"` string — `\"rotation_group\":0` — which the r14
  * regex could not match, so the recovery silently fell back to
  * floorMod and skipped group 1. These cases pin both committed
  * shapes (escaped wrapper, bare line), the timed/untimed inference
  * for pre-r15 artifacts, the explicit `rotation_timed` field, and
  * the don't-advance-past-an-untimed-slice rule.
  */
class BenchRotationSpec extends AnyFunSuite {

  // the r13 wrapper shape, verbatim escaping: slice TIMED
  // (degraded_shard false, partial false), group 0
  private val r13Wrapper =
    """{"n":13,"rc":0,"cpus":32,"sf":0.1,"tail":"...,\"calib0\":[0.29,0.3,0.03],\"degraded_shard\":false,\"partial\":false,\"sweeps_completed\":2,\"unwarmed\":0,\"timed\":145,\"catalog\":234,\"rotation_group\":0,\"rotation_k\":3,\"single_task\":[],\"sf\":\"/root/testdata/sf0.1\"}","parsed":null}"""

  // the r14 wrapper shape: group 2 PUBLISHED but the slice was dropped
  // (degraded_shard true) — the case the advance must skip
  private val r14Wrapper =
    """{"n":14,"rc":0,"cpus":32,"sf":0.1,"tail":"...,\"degraded_shard\":true,\"partial\":false,\"sweeps_completed\":2,\"healthy_sweeps\":2,\"degraded_sweeps\":[],\"timed\":103,\"catalog\":234,\"rotation_group\":2,\"rotation_k\":3,\"regressions\":[],\"sf\":\"/root/testdata/sf0.1\"}","parsed":null}"""

  test("escaped wrapper: rotation_group parses from the \\\"-quoted tail") {
    assert(Bench.rotationRecord(r13Wrapper) === Some((0, true)))
    assert(Bench.rotationRecord(r14Wrapper) === Some((2, false)))
  }

  test("bare bench line parses, explicit rotation_timed wins over the " +
      "degraded_shard inference") {
    val bare =
      """{"metric":"total","degraded_shard":false,"partial":false,""" +
        """"rotation_group":1,"rotation_k":3,"rotation_timed":false}"""
    assert(Bench.rotationRecord(bare) === Some((1, false)),
      "rotation_timed:false must override the healthy-shard inference")
    val timed =
      """{"degraded_shard":true,"rotation_group":1,"rotation_timed":true}"""
    assert(Bench.rotationRecord(timed) === Some((1, true)),
      "explicit rotation_timed:true wins even when degraded_shard is true")
  }

  test("pre-r15 inference: partial or degraded_shard means NOT timed") {
    val partial =
      """{"degraded_shard":false,"partial":true,"rotation_group":2}"""
    assert(Bench.rotationRecord(partial) === Some((2, false)))
    val clean = """{"degraded_shard":false,"partial":false,"rotation_group":2}"""
    assert(Bench.rotationRecord(clean) === Some((2, true)))
  }

  test("no rotation_group in the text -> None (triggers floorMod fallback)") {
    assert(Bench.rotationRecord("""{"n":9,"tail":"...truncated..."}""") === None)
    assert(Bench.rotationRecord("") === None)
  }

  test("the r15 scenario: newest artifact untimed (r14, group 2) is " +
      "skipped; advance from r13's timed group 0 -> group 1") {
    assert(Bench.nextRotationGroup(Seq(r14Wrapper, r13Wrapper), 3) ===
      Some(1))
  }

  test("advance wraps around modulo rotation_k") {
    val g2timed = """{"degraded_shard":false,"partial":false,"rotation_group":2}"""
    assert(Bench.nextRotationGroup(Seq(g2timed), 3) === Some(0))
  }

  test("no timed artifact anywhere -> None (fallback to floorMod)") {
    assert(Bench.nextRotationGroup(Seq(r14Wrapper), 3) === None)
    assert(Bench.nextRotationGroup(Seq.empty, 3) === None)
  }

  test("verification-only entries are exactly the _portable catalog " +
      "entries, the set make_baseline.py records") {
    val names = SparkEntry.queries.keySet
    assert(names.filter(Bench.verificationOnly) ===
      names.filter(_.endsWith("_portable")))
  }

  test("post-warm budget shrink: rotation entries drop first, " +
      "costliest first, core survives") {
    val timed = Seq("core_a", "core_b", "rot_x", "rot_y", "new_z")
    val core = Set("core_a", "core_b", "new_z")
    val cost = Map("core_a" -> 1.0, "core_b" -> 5.0, "rot_x" -> 4.0,
      "rot_y" -> 2.0, "new_z" -> 3.0)
    // capacity admits everything but the two rotation entries' cost:
    // rot_x (costlier) must go first, then rot_y; core untouched
    def fitsAt(cap: Double)(set: Seq[String]): Boolean =
      set.map(cost).sum <= cap
    assert(Bench.shrinkToBudget(timed, core, cost, fitsAt(11.0),
      minKeep = 1) === Seq("core_a", "core_b", "rot_y", "new_z"))
    assert(Bench.shrinkToBudget(timed, core, cost, fitsAt(9.0),
      minKeep = 1) === Seq("core_a", "core_b", "new_z"))
    // still not fitting after all rotation dropped: costliest core goes
    assert(Bench.shrinkToBudget(timed, core, cost, fitsAt(4.0),
      minKeep = 1) === Seq("core_a", "new_z"))
    // already fits: untouched, original order preserved
    assert(Bench.shrinkToBudget(timed, core, cost, fitsAt(100.0),
      minKeep = 1) === timed)
    // the floor stops the shrink even when nothing fits
    assert(Bench.shrinkToBudget(timed, core, cost, fitsAt(0.0),
      minKeep = 3).size === 3)
  }

  test("rotation_age counts consecutive untimed artifacts newest-first " +
      "(r20 verdict item 5: the staleness the artifact must publish)") {
    val untimed =
      """{"degraded_shard":true,"rotation_group":1,"rotation_timed":false}"""
    val timed =
      """{"degraded_shard":false,"partial":false,"rotation_group":0,""" +
        """"rotation_timed":true}"""
    assert(Bench.rotationAge(Seq(timed, untimed)) === 0,
      "newest artifact timed -> age 0")
    assert(Bench.rotationAge(Seq(untimed, timed)) === 1)
    assert(Bench.rotationAge(Seq(untimed, untimed, untimed, timed)) === 3,
      "the r18-r20 shape: three stuck driver rounds read as age 3")
    // artifacts with no rotation record (truncated tails) are skipped,
    // not counted as untimed
    assert(Bench.rotationAge(Seq("""{"n":9,"tail":"..."}""", timed)) === 0)
    assert(Bench.rotationAge(Seq.empty) === 0)
    assert(Bench.rotationAge(Seq(untimed)) === 1)
  }

  test("a full-catalog BENCH_ALL artifact advances the rotation group " +
      "(its empty slice is vacuously timed — r20 verdict item 5)") {
    // the shape Bench emits under BENCH_ALL: rotationSlice is empty so
    // rotation_timed prints true even on a degraded host
    val benchAll =
      """{"timed":276,"catalog":276,"round":21,"rotation_group":1,""" +
        """"rotation_k":4,"rotation_timed":true}"""
    assert(Bench.rotationRecord(benchAll) === Some((1, true)))
    val stuckDriver =
      """{"degraded_shard":true,"rotation_group":1,"rotation_timed":false}"""
    // builder BENCH_ALL newer than the stuck driver artifact: advances
    assert(Bench.nextRotationGroup(Seq(benchAll, stuckDriver), 4) ===
      Some(2))
  }
}
