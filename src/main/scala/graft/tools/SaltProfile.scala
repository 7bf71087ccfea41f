package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.SaltedJoin

/** Profiling main for the join_salted_skew bench drift question
  * (r4 1.63s → r5 2.27s at sf0.1 against a 1.44s recorded baseline,
  * with no source change in between). Times isolated variants in a
  * quiet session to attribute the drift — the AsOfProfile pattern.
  *
  * Findings (sf0.1, local[32], median of 5 after warm-up, quiet
  * session, round 6, BEFORE the fix below):
  *   entry_full 1.96s | plain_full 0.77s | salted_join_only 1.74s |
  *   plain_join_only 0.52s — and BOTH joins planned BroadcastHashJoin.
  * Root cause, not noise: at sf0.1 Catalyst/AQE broadcast the
  * 8x-replicated orders build (~1.2M rows), so the entry paid a serial
  * driver-built hash table 8x the problem size — and under broadcast
  * the salting never spreads anything, it is pure overhead. The
  * 1.44→1.63→2.27s drift across rounds was that driver-side broadcast
  * build breathing with session memory pressure.
  * Fix (same round): SaltedJoin pins its build to `shuffle_hash` —
  * salting is only meaningful when the build cannot broadcast, so the
  * operator now always plans the shuffled join it exists to produce.
  * Hint probe (same session, salted join + agg, median of 5):
  *   broadcast 2.00s | shuffle_hash 0.93s | sort-merge 1.01s.
  * AFTER the fix: entry_full 1.16s / salted_join_only 0.89s quiet-
  * session medians, strategy ShuffledHashJoin — under the 1.44s
  * baseline entry; BASELINE_BENCH.json re-recorded in the same commit
  * per the BASELINE.md regeneration policy.
  *
  * Round-7 follow-up: the r6 FULL bench recorded 2.48s against the
  * freshly-pinned 0.86s baseline (2.9x) with zero source change to the
  * operator. Quiet-session profiler median the same day: 1.04s
  * (min 0.94). Attribution: bench-session heap pressure — r6's bench
  * ran the then-37s multimodal_gif_frames entry 4x (warm-up + 3 timed),
  * allocating ~5000 quantized GIF frames per pass; with the media
  * pipelines parallelized and the codec chain no longer re-executed
  * (round-7 commit), the whole-bench session is calm again. Plan
  * unchanged: ShuffledHashJoin on (key, salt), lint-pinned.
  *
  * Usage: runMain graft.tools.SaltProfile [sfDir]
  */
object SaltProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey", $"l_extendedprice")
    def ord = Tables.orders(spark, sfDir)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")

    def entryFull(): DataFrame =
      graft.SparkEntry.queries("join_salted_skew")(spark, sfDir)
    def plainFull(): DataFrame =
      li.join(ord, Seq("l_orderkey"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_extendedprice"), 2).as("sum_price_r"))
        .orderBy($"o_orderpriority")
    def saltedJoinOnly(): DataFrame =
      SaltedJoin.saltedEquiJoin(li, ord, "l_orderkey",
        probeSaltCol = "l_partkey", salt = 8)
    def plainJoinOnly(): DataFrame = li.join(ord, Seq("l_orderkey"))

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "entry_full" -> (() => entryFull()),
      "plain_full" -> (() => plainFull()),
      "salted_join_only" -> (() => saltedJoinOnly()),
      "plain_join_only" -> (() => plainJoinOnly()))

    def run(f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    variants.foreach { case (_, f) => run(f) } // warm-up untimed
    val timed = variants.map { case (name, f) =>
      val t = Seq.fill(5)(run(f)).sorted.apply(2) // median of 5
      name -> t
    }
    timed.foreach { case (n, t) => println(f"$n%-18s $t%.3f s") }

    // plan attribution: which join strategy did each variant get, and
    // how many shuffle exchanges — a broadcast appearing/vanishing
    // between rounds would explain a drift; assert what we expect
    for ((name, f) <- Seq("salted" -> saltedJoinOnly _,
        "plain" -> plainJoinOnly _)) {
      val plan = f().queryExecution.executedPlan.toString
      val strategy = Seq("BroadcastHashJoin", "SortMergeJoin",
        "ShuffledHashJoin").filter(plan.contains).mkString(",")
      println(s"$name join strategy: $strategy")
    }
    spark.stop()
  }
}
