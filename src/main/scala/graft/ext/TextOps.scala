package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale training-data pipelines:
  * tokenization, character shingles, token statistics, SimHash
  * fingerprints, and a stopword-overlap language-ID heuristic.
  *
  * Everything is a pure column expression over built-in functions — no
  * UDFs, so the whole surface stays inside whole-stage codegen and
  * scales as row-local work fused into the scan.
  */
object TextOps {

  /** Whitespace tokenization (the simplest reference-style split). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish token count: word runs plus isolated punctuation, the
    * standard pre-tokenizer regex shape. `regexp_count` walks the
    * matches with one reused Matcher — no per-row ArrayData of match
    * strings like `size(regexp_extract_all(...))` built. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("\\w+|[^\\w\\s]"))

  /** Distinct character n-gram shingles — the unit for Jaccard
    * similarity and MinHash. `text.substr` accepts column offsets, so
    * the shingle set is a single `transform` over an index sequence. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** |A ∩ B| / |A ∪ B| over two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** 63-bit SimHash over a token array: per bit, count tokens whose
    * xxhash64 has the bit set minus those that don't; the sign vector is
    * the fingerprint. Near-duplicate texts land within a small Hamming
    * distance. Bit 63 is left out to stay in positive Long territory.
    *
    * Built as 63 static conditional sums over the exploded token hash —
    * the per-token work is one xxhash64 plus codegen'd bit tests. */
  val SimhashBits = 63

  /** Per-bit ±1 contributions for one token hash. Used with
    * explode(tokens) → groupBy(doc) → sum each bit → [[assembleSimhash]]. */
  def simhashBitVotes(tokenHash: Column): Seq[Column] =
    (0 until SimhashBits).map { i =>
      when(tokenHash.bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)
    }

  /** Recombine the 63 summed votes into the fingerprint long. */
  def assembleSimhash(bitSums: Seq[Column]): Column =
    bitSums.zipWithIndex.map { case (s, i) =>
      when(s >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Hamming distance between two SimHash fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Stopword-overlap language scores: for each (lang, stopwords) entry,
    * the number of distinct stopwords present in the token array. The
    * argmax (ties broken toward the lexicographically larger code, via
    * struct max) is the predicted language. */
  def langIdPredict(toks: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val scored = profiles.map { case (lang, words) =>
      struct(
        size(array_intersect(array_distinct(toks),
          array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Quality-score heuristics: mean token length and punctuation ratio. */
  def avgTokenLen(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("double") / size(toks)

  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^\\w\\s]", "")))
      .cast("double") / length(text)

  /** Array of space-joined token n-grams, one per window position.
    * Guarded for short docs: `sequence(1, 0)` counts DOWN in Spark, so
    * a doc with fewer than n tokens must short-circuit to the empty
    * array instead. */
  def tokenNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n, ngramWindows(toks, n))
      .otherwise(array().cast("array<string>"))

  /** [[tokenNgrams]] without the short-doc guard, for rows already
    * known to hold at least n tokens (or wrapped in a guard of the
    * caller's own). The one definition of the n-gram window expression. */
  def ngramWindows(toks: Column, n: Int): Column =
    transform(sequence(lit(1), size(toks) - lit(n - 1)),
      i => array_join(slice(toks, i, lit(n)), " "))

  /** Characters covered by the MOST FREQUENT n-gram of a doc —
    * `chars(g) * count(g)`, the numerator of the Gopher (Rae et al.
    * 2021, arXiv:2112.11446 §A1.1) top-n-gram repetition signal. Count
    * ties break to the lexicographically smallest gram so a SQL engine
    * can replay the choice exactly.
    *
    * One `array_sort` + one linear fold over the sorted grams (equal
    * grams are adjacent, so the max count is the longest run) — all
    * row-local, so the signal costs ZERO shuffles; the alternative
    * explode + groupBy(doc, gram) shape would shuffle every token of
    * a 100 TB corpus. Folding in sorted order means the FIRST longest
    * run wins on strict `>`, which IS the lexicographically-smallest
    * tie-break. */
  def topGramChars(grams: Column): Column = {
    val zero = struct(lit("").as("prev"), lit(0).as("run"),
      lit(0).as("best_run"), lit(0).as("best_chars"))
    aggregate(array_sort(grams), zero,
      (acc, g) => {
        val run = when(g === acc("prev"), acc("run") + 1).otherwise(lit(1))
        struct(g.as("prev"), run.as("run"),
          when(run > acc("best_run"), run)
            .otherwise(acc("best_run")).as("best_run"),
          when(run > acc("best_run"), length(g) * run)
            .otherwise(acc("best_chars")).as("best_chars"))
      },
      acc => acc("best_chars"))
  }

  /** Extra characters contributed by DUPLICATE n-grams:
    * `sum over grams with count c > 1 of chars(g) * (c - 1)` — the
    * duplicate-n-gram mass of the Gopher repetition filter, in its
    * non-overlap-adjusted form (each repeated occurrence is charged in
    * full; the original de-overlaps, which needs positional interval
    * merging — this variant is exactly replayable in ANSI SQL, and is
    * the stricter of the two). Sorted adjacency again: every occurrence
    * beyond a gram's first equals its left neighbor, so one zip_with
    * over the sorted array counts the duplicate mass row-locally. */
  def dupGramExtraChars(grams: Column): Column = {
    val s = array_sort(grams)
    val extras = zip_with(
      slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
      (a, b) => when(a === b, length(a)).otherwise(lit(0)))
    when(size(s) >= 2, aggregate(extras, lit(0), (acc, x) => acc + x))
      .otherwise(lit(0))
  }

  /** PII patterns for corpus scrubbing (the C4-style regex pass).
    * Deliberately restricted to the regex subset Java and RE2 agree on
    * (character classes, bounded repeats, ASCII \b — no lookaround, no
    * backreferences) so a SQL engine can replay the scrub verbatim. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Occurrence count of `re` in `text` (codegen'd, no UDF; counts
    * without materializing the matches). */
  def countMatches(text: Column, re: String): Column =
    regexp_count(text, lit(re))

  /** Redact emails, then IPv4s, then phone numbers — email first so an
    * address' dotted domain can never be half-eaten as an IP. Each class
    * gets a typed sentinel, preserving downstream tokenization. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
}
