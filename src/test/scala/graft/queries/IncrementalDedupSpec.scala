package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Crafted-corpus fixtures for `dedup_incremental_ref` and
  * `dedup_containment` — the verdict precedence, the new-vs-ref-only
  * pairing rule, and the quote/subset case that motivates containment
  * are all hand-computable here where the synthetic corpus can't
  * exercise them separately. */
class IncrementalDedupSpec extends SparkTestBase {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val d = tempDir("incdedup")
    val s = spark
    import s.implicits._
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("incremental verdicts: exact beats near, near needs jac >= 0.3, " +
      "new-new duplicates are never flagged") {
    // doc_id % 3 == 0 -> new batch; else reference corpus.
    val t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val t2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val t2near = t2.split(' ').dropRight(1).mkString(" ") + " uniform"
    // doc9/doc7 share EXACTLY the one 5-gram "v1..v5":
    //   10 grams each, ni=1, union=19 -> jac = 52631 ppm < 300000
    val t9 = "v1 v2 v3 v4 v5 " + (1 to 9).map("x" + _).mkString(" ")
    val t7 = "v1 v2 v3 v4 v5 " + (1 to 9).map("y" + _).mkString(" ")
    // doc12/doc15 are BOTH new and share a rare gram — the new x ref
    // pairing must not link them
    val t12 = "n1 n2 n3 n4 n5 " + (1 to 4).map("m" + _).mkString(" ")
    val t15 = "n1 n2 n3 n4 n5 " + (1 to 4).map("p" + _).mkString(" ")
    val t6 = (1 to 10).map("u" + _).mkString(" ")
    val d = writeDocs(Seq(
      0L -> t1, 1L -> t1,        // new 0 = exact copy of ref 1
      3L -> t2near, 4L -> t2,    // new 3 = near copy of ref 4
      6L -> t6,                  // new 6: unique -> kept
      7L -> t7, 9L -> t9,        // one shared gram, jac below threshold
      12L -> t12, 15L -> t15))   // new-new near pair -> both kept
    val rows = SparkEntry.queries("dedup_incremental_ref")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // t2/t2near: 6 grams each, only the last window differs:
    //   ni=5, union=7 -> jac = 714285 ppm
    assert(rows == Seq(
      (0L, "exact_dup", 1000000L, 1L),
      (3L, "near_dup", 714285L, 1L),
      (6L, "kept", 0L, 0L),
      (9L, "kept", 52631L, 1L),
      (12L, "kept", 0L, 0L),
      (15L, "kept", 0L, 0L)), s"got $rows")
  }

  test("containment scores a fully-embedded document at 1.0 where " +
      "Jaccard dilutes it below the near-dup threshold") {
    // A = 8 tokens (4 distinct 5-grams); B = A ++ 12 fresh tokens
    // (16 grams). A's grams all appear in B: cont = 4/4 = 1e6 ppm,
    // jac = 4/16 = 250000 ppm — the quote case a symmetric threshold
    // at 0.5 would miss entirely.
    val a = (1 to 8).map("c" + _).mkString(" ")
    val b = a + " " + (1 to 12).map("z" + _).mkString(" ")
    val d = writeDocs(Seq(1L -> a, 2L -> b))
    val rows = SparkEntry.queries("dedup_containment")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(rows == Seq((1L, 2L, 4L, 16L, 4L, 1000000L, 250000L)),
      s"got $rows")
  }

  test("containment >= jaccard on every emitted pair (sf0.001)") {
    val rows = SparkEntry
      .queries("dedup_containment")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cont, jac) = (r.getLong(5), r.getLong(6))
      assert(cont >= jac && cont >= 500000L,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}): cont=$cont jac=$jac")
    }
  }
}
