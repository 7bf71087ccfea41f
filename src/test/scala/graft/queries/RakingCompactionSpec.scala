package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase}

/** Semantic properties of the round-13 pipeline entries that the
  * DuckDB hash oracle cannot express: IPF margin convergence, bin-pack
  * size bounds, tercile ordering, and the Zipf fit recovering a known
  * exponent from a constructed corpus. */
class RakingCompactionSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("sample_ipf_raking: both margins within 2% of their targets " +
      "after two full IPF iterations") {
    val out = SparkEntry.catalog("sample_ipf_raking").query(spark, sf)
      .select($"source", $"lang", $"n", $"weight_u").collect()
    val mass = out.map(_.getLong(2)).sum * 1000000L
    val nSources = out.map(_.getString(0)).distinct.length
    val tgtSrc = mass / nSources
    // source margins: the final scaling was on lang, so source sums
    // drift from target by at most the convergence tolerance
    val bySrc = out.groupBy(_.getString(0))
      .map { case (_, rs) => rs.map(_.getLong(3)).sum }
    for (srcSum <- bySrc)
      assert(math.abs(srcSum - tgtSrc).toDouble / tgtSrc < 0.02,
        s"source margin $srcSum vs target $tgtSrc drifted > 2%")
    // lang margins: last scaling forced them, so they must sit within
    // integer-truncation distance (cells per lang) of the sqrt target
    val langN = out.groupBy(_.getString(1))
      .map { case (l, rs) => l -> rs.map(_.getLong(2)).sum }
    val q = langN.map { case (l, n) => l -> math.round(math.sqrt(n.toDouble) * 1e9) }
    val qs = q.values.sum
    val byLang = out.groupBy(_.getString(1))
      .map { case (l, rs) => l -> rs.map(_.getLong(3)).sum }
    for ((l, got) <- byLang) {
      val tgt = (BigInt(q(l)) * BigInt(mass) / BigInt(qs)).toLong
      assert(math.abs(got - tgt) <= out.length,
        s"lang $l margin $got vs forced target $tgt")
    }
  }

  test("shard_compaction_plan: groups conserve bytes, stay contiguous, " +
      "and only the sequential-fill overflow exceeds the 64 KiB target") {
    val files = graft.Tables.documents(spark, sf)
      .groupBy($"source", expr("doc_id div 50").as("file_id"))
      .agg((sum($"n_chars") + lit(64L) * count(lit(1))).as("bytes"))
    val totalBytes = files.agg(sum($"bytes")).collect().head.getLong(0)
    val maxFile = files.agg(max($"bytes")).collect().head.getLong(0)
    val out = SparkEntry.catalog("shard_compaction_plan").query(spark, sf)
      .collect()
    assert(out.map(_.getAs[Long]("bytes")).sum == totalBytes,
      "plan lost or duplicated bytes")
    // sequential fill: a group holds < target before its last file is
    // added, so it can overshoot by at most one file
    for (r <- out)
      assert(r.getAs[Long]("bytes") <= 65536L + maxFile,
        s"group ${r} exceeds target + one file")
    // contiguity: within a source, group ids are non-decreasing in
    // file order and ranges do not interleave
    for ((_, rs) <- out.groupBy(_.getAs[String]("source"))) {
      val sorted = rs.sortBy(_.getAs[Long]("grp"))
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray))
        assert(a.getAs[Long]("last_file") < b.getAs[Long]("first_file"),
          s"groups interleave: $a / $b")
    }
  }

  test("quality_ppl_buckets: per lang the buckets partition the scored " +
      "docs into ordered, non-overlapping NLL ranges") {
    val out = SparkEntry.catalog("quality_ppl_buckets").query(spark, sf)
      .collect()
    val scoredDocs = SparkEntry.catalog("doc_lm_score").query(spark, sf)
      .count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == scoredDocs,
      "buckets must partition exactly the docs the LM scored")
    for ((lang, rs) <- out.groupBy(_.getAs[String]("lang"))) {
      val by = rs.map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("min_nll_u"), r.getAs[Long]("max_nll_u"))).toMap
      for (Seq(lo, hi) <- Seq("head", "middle", "tail").sliding(2)
           if by.contains(lo) && by.contains(hi))
        assert(by(lo)._2 < by(hi)._1,
          s"$lang: $lo range ${by(lo)} overlaps $hi range ${by(hi)}")
      // terciles from a histogram can be uneven only by bin granularity;
      // on this fixture every bucket must land within 60% of n/3
      val n = rs.map(_.getAs[Long]("n_docs")).sum
      for (r <- rs)
        assert(math.abs(r.getAs[Long]("n_docs") - n / 3.0) < n * 0.2 + 2,
          s"$lang/${r.getAs[String]("bucket")}: " +
            s"${r.getAs[Long]("n_docs")} docs vs ~${n / 3}")
    }
  }

  test("corpus_zipf_fit recovers the exponent of a constructed " +
      "power-law corpus") {
    // one document whose token i appears floor(2000 / i^1) times:
    // an exact Zipf(1) head — the OLS slope over log-log points must
    // come out near -1
    val text = (1 to 200)
      .flatMap(i => Seq.fill(2000 / i)(s"w$i")).mkString(" ")
    val dir = tempDir("graft_zipf_fixture")
    Seq((0L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.catalog("corpus_zipf_fit").query(spark, dir)
      .collect().head
    val slope = row.getAs[Long]("slope_ppm") / 1e6
    assert(slope < -0.9 && slope > -1.1,
      s"expected slope ~ -1 on a Zipf(1) corpus, got $slope")
    assert(row.getAs[Long]("n_tokens_fit") == 200L)
  }
}
