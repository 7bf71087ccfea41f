package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.functions.GraftFunctions

/** Expression-level micro-benchmark: native codegen'd `vec_dot` vs the
  * `zip_with`+`aggregate` higher-order-function fold, over synthetic
  * deterministic float vectors. Justifies functions/VecDotProduct —
  * run per round to keep the claim honest.
  *
  * Usage: runMain graft.MicroBench [nRows] [dim]
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val dim = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    GraftFunctions.register(spark)

    // deterministic pseudo-random vectors derived from the row id
    def vec(salt: Int) = transform(sequence(lit(1), lit(dim)),
      i => ((pmod(xxhash64($"id" * dim + i + salt), lit(2000)) - 1000) / 1000.0)
        .cast("float"))
    val df = spark.range(n)
      .select($"id", vec(0).as("a"), vec(7).as("b"))
      .persist()
    df.count() // materialize input once, outside the timed region

    def time(label: String, c: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      df.select(sum(c).as("s")).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$label%-28s $sec%8.3f s")
      sec
    }
    // warm-up both paths (codegen + JIT), then measure
    time("warmup native", Similarity.dotNative($"a", $"b"))
    time("warmup hof", Similarity.dot($"a", $"b"))
    val nat = time("native vec_dot", Similarity.dotNative($"a", $"b"))
    val hof = time("zip_with+aggregate fold", Similarity.dot($"a", $"b"))
    println(f"speedup: ${hof / nat}%.1fx  (n=$n, dim=$dim)")
    spark.stop()
  }
}
