package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Fixtures + invariants for `corpus_ngram_diversity`,
  * `embed_outlier_centroid`, and `vocab_bpe_apply`. */
class DiversityOutlierSpec extends SparkTestBase {

  test("diversity census: a boilerplate source collapses toward 0, a " +
      "unique-trigram source reads 1.0") {
    val d = tempDir("divcensus")
    val s = spark
    import s.implicits._
    // srcA: "x x x x x x" -> 4 trigram occurrences, 1 distinct
    // srcB: "a b c d e f" -> 4 occurrences, 4 distinct
    Seq((1L, "x x x x x x", "en", "srcA", 11L),
        (2L, "a b c d e f", "en", "srcB", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("corpus_ngram_diversity")(spark, d)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(rows == Seq(
      ("srcA", 4L, 1L, 250000L, 4L),
      ("srcB", 4L, 4L, 1000000L, 1L)), s"got $rows")
  }

  test("outlier selection: exactly min(5, |cluster|) rows per cluster, " +
      "ratio nonincreasing in rank (sf0.001)") {
    val rows = SparkEntry
      .queries("embed_outlier_centroid")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      val expected = math.min(5L, members.head._4)
      assert(members.length == expected,
        s"cluster $cluster: ${members.length} rows for size " +
          s"${members.head._4}")
      val byRank = members.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to byRank.length).toSeq,
        s"cluster $cluster: ranks not 1..k: ${byRank.map(_._3).toSeq}")
      // same denominator per cluster, d2q desc ordering -> ratio desc
      assert(byRank.map(_._5).toSeq == byRank.map(_._5).sortBy(-_).toSeq,
        s"cluster $cluster: ratio not nonincreasing: " +
          byRank.map(_._5).toSeq)
    }
  }

  test("outlier ratio survives a degenerate all-on-centroid cluster " +
      "(sum of distances zero) instead of dividing by zero") {
    val d = tempDir("outlier-degen")
    val s = spark
    import s.implicits._
    // corpus = exactly the 8 seed centroids: every cluster's only
    // member IS its centroid, so every d2q and every sum_d2q is 0
    (0 until 8).map { i =>
      (i.toLong, Array.tabulate(64)(j => if (j == i) 1.0f else 0.0f), i)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = SparkEntry.queries("embed_outlier_centroid")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(rows.length == 8 && rows.forall(_._3 == 0L),
      s"8 single-member clusters, all ratios 0, got ${rows.toSeq}")
  }

  test("bpe apply: per-doc word/char masses match an independent " +
      "recompute and token counts sit between them (sf0.001)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val out = SparkEntry
      .queries("vocab_bpe_apply")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.nonEmpty)
    // independent word/char recompute straight off the table
    val expect = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .where($"text".isNotNull)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .where($"w" =!= "")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nw"), sum(length($"w")).as("nc"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out.keySet == expect.keySet)
    out.foreach { case (id, (nWords, nTokens, nChars)) =>
      val (ew, ec) = expect(id)
      assert(nWords == ew && nChars == ec,
        s"doc $id: words/chars ($nWords, $nChars) != recompute ($ew, $ec)")
      // every word encodes to >= 1 symbol and <= its character count
      assert(nTokens >= nWords && nTokens <= nChars,
        s"doc $id: n_tokens $nTokens outside [$nWords, $nChars]")
    }
  }
}
