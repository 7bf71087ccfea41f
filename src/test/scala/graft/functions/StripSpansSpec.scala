package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The strip_repeated_spans kernel on crafted repetitive documents —
  * the exact first-occurrence-wins semantics the
  * `doc_strip_repeated_spans` oracle replays with windows, pinned on
  * inputs where the right answer is checkable by eye, plus a
  * reference-implementation sweep over generated docs so the sorted-
  * run duplicate detection and the rolling coverage sweep agree with
  * the obvious O(n²) formulation on every branch.
  */
class StripSpansSpec extends SparkTestBase {

  private def run(text: String, k: Int = 3): (Long, Long, String) = {
    import spark.implicits._
    val row = Seq(text).toDF("text")
      .select(size(split($"text", " ")).cast("long").as("n"),
        call_function("strip_repeated_spans", $"text", lit(k)).as("kept"))
      .select($"n", ($"n" - size($"kept")).cast("long").as("rm"),
        array_join($"kept", " ").as("clean"))
      .head()
    (row.getLong(0), row.getLong(1), row.getString(2))
  }

  /** Obvious reference: mark duplicate k-gram starts by scanning all
    * earlier positions, then coverage by direct window test. */
  private def reference(text: String, k: Int = 3): (Long, Long, String) = {
    val toks = text.split(" ", -1)
    val n = toks.length
    val grams = (0 to n - k).map(p => toks.slice(p, p + k).mkString(" "))
    val dup = (0 until math.max(n - k + 1, 0)).map(p =>
      grams.indexOf(grams(p)) < p)
    val kept = (0 until n).filterNot(i =>
      (math.max(0, i - k + 1) to math.min(i, n - k)).exists(p => dup(p)))
    (n.toLong, (n - kept.size).toLong, kept.map(toks).mkString(" "))
  }

  test("repeated span: second occurrence removed whole, first kept") {
    assert(run("a b c d a b c d e f") === ((10L, 4L, "a b c d e f")))
  }

  test("triple repetition collapses to one copy (overlapping windows merge)") {
    assert(run("a b c a b c a b c") === ((9L, 6L, "a b c")))
  }

  test("run of one token: everything after the first window is covered") {
    assert(run("x x x x x") === ((5L, 4L, "x")))
  }

  test("doc shorter than k is untouched") {
    assert(run("a b") === ((2L, 0L, "a b")))
    assert(run("a") === ((1L, 0L, "a")))
  }

  test("no repetition -> identity") {
    assert(run("the quick brown fox jumps") ===
      ((5L, 0L, "the quick brown fox jumps")))
  }

  test("repeat separated by unique text is still caught") {
    // 'a b c' repeats at positions 0 and 5: drop 5..7 only
    assert(run("a b c x y a b c z") === ((9L, 3L, "a b c x y z")))
  }

  test("k parameter respected: k=2 catches what k=3 does not") {
    assert(run("p q r p q s", 3) === ((6L, 0L, "p q r p q s")))
    assert(run("p q r p q s", 2) === ((6L, 2L, "p q r s")))
  }

  test("reference-implementation sweep over generated repetitive docs") {
    val vocab = Array("aa", "b", "ccc", "dd", "e")
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 60) {
      val len = 3 + rnd.nextInt(30)
      val toks = Array.fill(len)(vocab(rnd.nextInt(vocab.length)))
      val text = toks.mkString(" ")
      val k = 2 + trial % 3 // k in 2..4
      assert(run(text, k) === reference(text, k),
        s"mismatch on trial $trial k=$k text='$text'")
    }
  }
}
