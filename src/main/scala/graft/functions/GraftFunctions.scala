package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Runtime registration of graft's native SQL functions. Idempotent —
  * safe to call from every catalog entry that needs them (the driver's
  * session is built without `spark.sql.extensions`). */
object GraftFunctions {
  /** Sketch parameters (k, bands, window...) are plan-time constants —
    * the SQL surface takes them as foldable int literals. */
  private def intArg(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal int")
    e.eval().asInstanceOf[Number].intValue()
  }

  /** Sessions already holding the full function suite. Weak keys so a
    * stopped session doesn't pin its registry; identity semantics are
    * what we want (`newSession()` clones get their own registration).
    * Registration is cheap but NOT free in aggregate: every catalog
    * entry calls `register` defensively, and each
    * `createOrReplaceTempFunction` on an existing name logs a WARN —
    * ~20 call sites x ~15 functions x 4 bench sweeps was measurable
    * log/registry churn in the round-9 bench tail. */
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  def register(spark: SparkSession): Unit = {
    if (!registered.add(spark)) return
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => VecDotProduct(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot_q9", exprs => VecDotQ9(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "z_order2", exprs => ZOrderKey(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_quant_score", exprs => VecQuantScore(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinHashSig(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "shingleLen")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_bands", exprs => MinHashBands(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "bands"),
        intArg(exprs(3), "shingleLen")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fps", exprs => WinnowFps(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "w")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash63", exprs => SimHash63(exprs(0)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rep_stats", exprs => RepStats(exprs(0)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "strip_repeated_spans", exprs => StripRepeatedSpans(exprs(0),
        intArg(exprs(1), "k")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaccard_shingles", exprs => JaccardShingles(exprs(0), exprs(1),
        intArg(exprs(2), "n")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_bands_md5", exprs => MinHashBandsPortable(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "shingleLen")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_words_md5", exprs => MinHashWordsPortable(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "n")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "win_hash_x64", exprs => WinHashX64(exprs(0),
        intArg(exprs(1), "L")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_oph_md5", exprs => MinHashOphPortable(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "n")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fps_md5", exprs => WinnowFpsPortable(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "w")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hll_regs_md5", exprs => HllRegsPortable(exprs(0),
        intArg(exprs(1), "m"), intArg(exprs(2), "n")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "kmin_hash_md5", exprs => KminHashPortable(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "n")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash63_md5", exprs => SimHash63Portable(exprs(0)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bow_score_md5", exprs => BowScoreMd5(exprs(0)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "boot_pois_md5", exprs => BootPoisMd5(exprs(0),
        intArg(exprs(1), "b")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1)), "scala_udf")
    // Spark's own runtime-filter bloom expressions, surfaced as callable
    // functions (they are not in the public registry): `bloom_agg(hash,
    // n_items)` aggregates xxhash64 values into a serialized
    // org.apache.spark.util.sketch.BloomFilter; `bloom_might_contain
    // (bloom, hash)` probes it. Used for broadcastable membership
    // prefilters (decontamination against an eval set) — a bloom of the
    // small side is KBs where the exact distinct set is MBs, and the
    // probe is a scan-local predicate, not a join.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_agg", exprs =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0),
            intArg(exprs(1), "estimatedItems").toLong),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain", exprs =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_stats", exprs => TokenStats(exprs(0), {
        require(exprs(1).foldable, "stopCsv must be a string literal")
        val csv = exprs(1).eval()
        if (csv == null) Nil
        else csv.toString.split(',').toSeq.filter(_.nonEmpty)
      }), "scala_udf")
  }

  /** For sessions configured with
    * `spark.sql.extensions=graft.functions.GraftExtensions`. */
  val vecDotInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDotProduct].getName, "vec_dot"),
    (exprs: Seq[Expression]) => VecDotProduct(exprs(0), exprs(1)))
}

/** Session-extension installer: `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions`. Injects the
  * native functions and the interval-join rewrite (enabled per session
  * by `spark.graft.rangeJoin.binWidth`). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.vecDotInfo)
    ext.injectOptimizerRule { session =>
      graft.plans.AutoRangeJoin(() =>
        session.conf.get("spark.graft.rangeJoin.binWidth", "0").toLong)
    }
    ext.injectOptimizerRule(graft.plans.SummaryRewrite)
  }
}
