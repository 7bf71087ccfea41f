package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.Expression

/** Runtime registration of graft's native SQL functions into a
  * session's own function registry. `graft.queries.CatalogEntry`
  * registers them before it builds any entry, so no query registers
  * them itself; code that calls a helper using them (the `streaming`
  * near-dup and ANN probes) outside the catalog registers them on its
  * session first. */
object GraftFunctions {
  /** Sketch parameters (k, bands, window...) are plan-time constants —
    * the SQL surface takes them as foldable int literals. */
  private def intArg(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal int")
    e.eval().asInstanceOf[Number].intValue()
  }

  /** Every native function, by SQL name. */
  private val builders: Seq[(String, FunctionBuilder)] = Seq(
    ("vec_dot", exprs => VecDotProduct(exprs(0), exprs(1))),
    ("vec_dot_q9", exprs => VecDotQ9(exprs(0), exprs(1))),
    ("z_order2", exprs => ZOrderKey(exprs(0), exprs(1))),
    ("vec_quant_score", exprs => VecQuantScore(exprs(0), exprs(1))),
    ("minhash_sig", exprs => MinHashSig(exprs(0),
      intArg(exprs(1), "k"), intArg(exprs(2), "shingleLen"))),
    ("minhash_bands", exprs => MinHashBands(exprs(0),
      intArg(exprs(1), "k"), intArg(exprs(2), "bands"),
      intArg(exprs(3), "shingleLen"))),
    ("winnow_fps", exprs => WinnowFps(exprs(0),
      intArg(exprs(1), "k"), intArg(exprs(2), "w"))),
    ("simhash63", exprs => SimHash63(exprs(0))),
    ("rep_stats", exprs => RepStats(exprs(0))),
    ("strip_repeated_spans", exprs => StripRepeatedSpans(exprs(0),
      intArg(exprs(1), "k"))),
    ("jaccard_shingles", exprs => JaccardShingles(exprs(0), exprs(1),
      intArg(exprs(2), "n"))),
    ("minhash_bands_md5", exprs => MinHashBandsPortable(exprs(0),
      intArg(exprs(1), "k"), intArg(exprs(2), "shingleLen"))),
    ("minhash_words_md5", exprs => MinHashWordsPortable(exprs(0),
      intArg(exprs(1), "k"), intArg(exprs(2), "n"))),
    ("win_hash_x64", exprs => WinHashX64(exprs(0),
      intArg(exprs(1), "L"))),
    ("minhash_oph_md5", exprs => MinHashOphPortable(exprs(0),
      intArg(exprs(1), "k"), intArg(exprs(2), "n"))),
    ("winnow_fps_md5", exprs => WinnowFpsPortable(exprs(0),
      intArg(exprs(1), "k"), intArg(exprs(2), "w"))),
    ("hll_regs_md5", exprs => HllRegsPortable(exprs(0),
      intArg(exprs(1), "m"), intArg(exprs(2), "n"))),
    ("kmin_hash_md5", exprs => KminHashPortable(exprs(0),
      intArg(exprs(1), "k"), intArg(exprs(2), "n"))),
    ("simhash63_md5", exprs => SimHash63Portable(exprs(0))),
    ("bow_score_md5", exprs => BowScoreMd5(exprs(0))),
    ("boot_pois_md5", exprs => BootPoisMd5(exprs(0),
      intArg(exprs(1), "b"))),
    ("jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1))),
    // Spark's own runtime-filter bloom expressions, surfaced as callable
    // functions (they are not in the public registry): `bloom_agg(hash,
    // n_items)` aggregates xxhash64 values into a serialized
    // org.apache.spark.util.sketch.BloomFilter; `bloom_might_contain
    // (bloom, hash)` probes it. Used for broadcastable membership
    // prefilters (decontamination against an eval set) — a bloom of the
    // small side is KBs where the exact distinct set is MBs, and the
    // probe is a scan-local predicate, not a join.
    ("bloom_agg", exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0),
          intArg(exprs(1), "estimatedItems").toLong)),
    ("bloom_might_contain", exprs =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))),
    ("token_stats", exprs => TokenStats(exprs(0), {
      require(exprs(1).foldable, "stopCsv must be a string literal")
      val csv = exprs(1).eval()
      if (csv == null) Nil
      else csv.toString.split(',').toSeq.filter(_.nonEmpty)
    })))

  /** Registers each function `spark`'s registry does not hold yet.
    * Idempotent per session, and it never replaces a name: replacing
    * one logs a WARN, and a catalog sweep calls this once per entry. A
    * `newSession()` starts from the built-in registry, so it gets its
    * own registration on first use. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
