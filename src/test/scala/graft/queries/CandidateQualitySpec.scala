package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** dedup_candidate_quality on documents past the 32-bit gram budget:
  * `1000000 * ni` over IntegerType size() outputs silently wrapped
  * negative once a pair shared >= 2148 distinct 13-grams (~2160
  * tokens) — invisible at the test SFs, whose docs cap at 100 tokens,
  * and live at corpus scale. The fixture pins the BIGINT promotion
  * with an exactly hand-computable pair. */
class CandidateQualitySpec extends SparkTestBase {

  test("jaccard ppm is exact for pairs sharing more 13-grams than " +
      "a 32-bit ppm numerator can hold") {
    val d = tempDir("candq-overflow")
    val s = spark
    import s.implicits._
    // 3000 distinct tokens -> 2988 distinct 13-grams per doc; B differs
    // only in the LAST token, so exactly ONE gram differs (only the
    // final gram, i = 2988, reaches position 3000):
    //   na = nb = 2988, ni = 2987, union = 2989
    //   jac_ppm = (1e6 * 2987) div 2989 = 999330  -> bucket 9
    // The numerator 2_987_000_000 exceeds Int.MaxValue: the pre-fix
    // 32-bit multiply wrapped negative (bucket -1).
    val toks = (0 until 3000).map(i => s"w$i")
    val a = toks.mkString(" ")
    val b = (toks.dropRight(1) :+ "zzz").mkString(" ")
    Seq((1L, a, "en", "src0", a.length.toLong),
        (2L, b, "en", "src0", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("dedup_candidate_quality")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((9L, 1L, 999330L, 999330L)),
      s"expected one bucket-9 pair at exactly 999330 ppm, got " +
        rows.toSeq.toString)
  }
}
