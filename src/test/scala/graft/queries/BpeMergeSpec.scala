package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** vocab_bpe_merges on a hand-computable corpus: the merge sequence,
  * its frequency weighting, and the greedy left-to-right application
  * must match the BPE definition — and the loop must degrade
  * gracefully when the corpus runs out of mergeable pairs before the
  * round budget does. */
class BpeMergeSpec extends SparkTestBase {

  private lazy val dir: String = {
    val d = tempDir("bpe-fixture")
    val s = spark
    import s.implicits._
    // word frequencies: ab x3, abc x2 ->
    //   round 1 pairs: "a b" = 3+2 = 5, "b c" = 2  -> merge "a b"
    //   round 2 pairs: "ab c" = 2                  -> merge "ab c"
    //   round 3+: no adjacent pairs left           -> no more rows
    Seq((0L, "ab ab ab abc abc", "en", "src0", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("learns the hand-computed merge sequence with exact counts") {
    val rows = SparkEntry.queries("vocab_bpe_merges")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "a b", 5L), (2L, "ab c", 2L)))
  }

  test("a corpus that runs out of pairs encodes with the merges it learned") {
    // "a b" then "ab c": every word is one token after round 2
    val perDoc = SparkEntry.queries("vocab_bpe_apply")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(perDoc.toSeq == Seq((0L, 5L, 5L, 12L, 416666L)))
    val perLang = SparkEntry.queries("vocab_fertility_by_lang")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(perLang.toSeq == Seq(("en", 5L, 5L, 12L)))
  }

  test("merge application is greedy left-to-right (aaa -> [aa][a])") {
    // "aaa" alone: round-1 pair census sees "a a" twice (both adjacent
    // positions), but replace() merges non-overlapping left-to-right,
    // so round 2 sees exactly one "aa a" pair — the BPE definition.
    val d = tempDir("bpe-greedy")
    val s = spark
    import s.implicits._
    Seq((0L, "aaa", "en", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("vocab_bpe_merges")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "a a", 2L), (2L, "aa a", 1L)))
  }

  test("merge matches WHOLE symbols only — 'xa b' must not fire 'a b'") {
    // After round 1 merges "x a" -> "xa", the word "xab" is "xa b".
    // Round 2's winner is "a b" (count 3, from the "ab" words) — a
    // naive substring replace would also rewrite "xa b" -> "xab"
    // (the 'a b' it contains starts mid-symbol), destroying the
    // "xa b" pair round 3 must still see. The boundary-safe apply
    // leaves it intact.
    val d = tempDir("bpe-boundary")
    val s = spark
    import s.implicits._
    Seq((0L, "xa xa xa xa xa xab ab ab ab", "en", "src0", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("vocab_bpe_merges")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq ==
      Seq((1L, "x a", 6L), (2L, "a b", 3L), (3L, "xa b", 1L)))
  }
}
