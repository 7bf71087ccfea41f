package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-safe equi-join: deterministically salt the large (skewed) probe side
  * into `salt` sub-keys and replicate every build row once per salt value,
  * then equi-join on (key, salt) — one hot key's rows spread over `salt`
  * shuffle partitions instead of melting a single task.
  *
  * This is the static counterpart of AQE's runtime skew split: AQE needs
  * accurate runtime stats and only splits sort-merge partitions; the salted
  * formulation is deterministic, works when stats are missing or the skew is
  * in a single key (AQE cannot split one key's sorted run across tasks for a
  * hash join build), and composes with any join that follows. Cost: the
  * build side shuffles `salt`× — use it when |build| ≪ |probe| and the probe
  * key histogram is spiked (the exact situation where the plain join
  * stalls). Measured 2026-08-12 with AQE and broadcast off (local[32], 16M
  * probe rows, 80% on one key, salt 16, median of 3): plain 5.73 s vs salted
  * 3.34 s, 1.72x; the shuffle write is the same, the win is the hot reduce
  * partition.
  *
  * Semantics are IDENTICAL to the plain equi-join (inner or left-outer):
  * every probe row carries exactly one salt value, and the build replica set
  * contains every build row under every salt value, so each matching (probe,
  * build) pair meets exactly once. Null probe keys behave as in the plain
  * join (never match; preserved under left). Proven by the SaltedJoinSpec
  * equivalence tests and the oracled `join_salted_skew` catalog entry.
  *
  * The build side is pinned to a SHUFFLE strategy (`shuffle_hash` hint):
  * salting only makes sense when the build cannot broadcast, yet at test
  * scale AQE broadcasts the `salt`-times-replicated build — a serial
  * driver-built hash table `salt`x the problem while the hot key never
  * spreads. Measured at sf0.1 (local[32], median of 5): unpinned, the entry
  * took 1.96 s (plain join 0.77 s), and its r4-r6 bench drift (1.63 →
  * 2.27 s) was that driver-side build; the salted join ran 2.00 s broadcast,
  * 0.93 s shuffle_hash, 1.01 s sort-merge; pinned, the entry takes 1.16 s.
  * The hint only constrains strategy choice, never semantics.
  */
object SaltedJoin {

  /** @param probeSaltCol probe column whose hash assigns the salt —
    *                     any well-distributed column (a unique id is
    *                     ideal; identical values co-salt, which only
    *                     narrows the spread, never breaks semantics)
    * @param joinType     "inner" or "left" */
  def saltedEquiJoin(probe: DataFrame, build: DataFrame, key: String,
      probeSaltCol: String, salt: Int,
      joinType: String = "inner"): DataFrame = {
    require(salt >= 2, s"salt must be >= 2, got $salt")
    require(Seq("inner", "left").contains(joinType),
      s"joinType must be inner or left, got $joinType")
    val overlap = probe.columns.toSet.intersect(build.columns.toSet) - key
    require(overlap.isEmpty, s"ambiguous columns: ${overlap.mkString(",")}")

    val p = probe.withColumn("__salt",
      pmod(xxhash64(col(probeSaltCol)), lit(salt)))
    val b = build
      .withColumn("__bsalt", explode(sequence(lit(0L), lit(salt - 1L))))
      .withColumnRenamed(key, "__bkey")
      .hint("shuffle_hash") // never broadcast a salt-replicated build
    p.join(b,
        p(key) === b("__bkey") && p("__salt") === b("__bsalt"), joinType)
      .drop("__salt", "__bsalt", "__bkey")
  }
}
