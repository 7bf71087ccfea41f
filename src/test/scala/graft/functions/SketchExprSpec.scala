package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.ext.{Dedup, TextOps}

/** The native single-pass sketch expressions must be BIT-EXACT with the
  * explode/agg/Window column formulations they replace — the column
  * formulations (kept for the portable oracle twins) are the reference
  * implementation here. Covers crafted edge cases (empty text, shorter
  * than the shingle/k-gram, multi-byte and supplementary code points)
  * plus ScalaCheck-generated corpora.
  */
class SketchExprSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  /** `functions.size` under a name Matchers' `size` word can't shadow. */
  private def fsize(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c)

  private val edgeTexts = Seq(
    "the quick brown fox jumps over the lazy dog tonight",
    "", "a", "ab", "abc", "abcd", "   ", "a  b",
    "héllo wörld ünïcode", "漢字のテキストです", "mix漢ed",
    "emoji 🙂 pair 😀 text", // supplementary planes
    "aaaaaaaaaaaaaaaa", "ababababab")

  private def corpus(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  /** Gen of texts biased toward hash-collision-friendly small alphabets
    * plus multi-byte code points. */
  private val genText: Gen[String] = Gen.oneOf(
    Gen.listOf(Gen.oneOf('a', 'b', ' ')).map(_.mkString),
    Gen.listOf(Gen.oneOf('a', 'z', 'é', '漢', ' ', '#')).map(_.mkString),
    Gen.asciiPrintableStr)

  // ---- reference formulations (the column pipelines) ----

  private def refMinhash(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] =
    Dedup.minhashSignature(df, "doc_id", "text", k, n)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap

  private def refBands(df: DataFrame, k: Int, bands: Int, n: Int): Map[(Long, Int), Long] =
    Dedup.bandHashes(Dedup.minhashSignature(df, "doc_id", "text", k, n),
      "doc_id", bands, k / bands)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  private def refWinnow(df: DataFrame, k: Int, w: Int): Map[Long, Set[Long]] =
    Dedup.winnowFingerprints(df, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, fps) => id -> fps.map(_._2).toSet }

  private def refSimhash(df: DataFrame): Map[Long, Long] = {
    val voted = df
      .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      .select($"doc_id" +: TextOps.simhashBitVotes(xxhash64($"tok"))
        .zipWithIndex.map { case (c, i) => c.as(s"v$i") }: _*)
    val sums = (0 until TextOps.SimhashBits).map(i => sum(col(s"v$i")).as(s"s$i"))
    voted.groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .select($"doc_id", TextOps.assembleSimhash(
        (0 until TextOps.SimhashBits).map(i => col(s"s$i"))).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // ---- native readers ----

  private def natMinhash(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id",
      call_function("minhash_sig", $"text", lit(k), lit(n)).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def natBands(df: DataFrame, k: Int, bands: Int, n: Int): Map[(Long, Int), Long] =
    df.select($"doc_id", posexplode(
      call_function("minhash_bands", $"text", lit(k), lit(bands), lit(n)))
      .as(Seq("band", "band_hash")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  private def natWinnow(df: DataFrame, k: Int, w: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id",
      call_function("winnow_fps", $"text", lit(k), lit(w)).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def natSimhash(df: DataFrame): Map[Long, Long] =
    df.select($"doc_id",
      call_function("simhash63", TextOps.tokens($"text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("minhash_sig is bit-exact with the explode+agg formulation on edges") {
    val df = corpus(edgeTexts)
    natMinhash(df, 16, 3) shouldBe refMinhash(df, 16, 3)
    natMinhash(df, 8, 5) shouldBe refMinhash(df, 8, 5)
  }

  /** Word-gram portable minhash column formulation — the exact
    * md5/conv pipeline `dedup_layer_agreement`'s MinHash layer shipped
    * before the kernel (and its DuckDB oracle still replays): explode
    * word n-grams, min over `conv(substring(md5(gram || '#i'), 1, 15),
    * 16, 10)` per salt. Docs with < n tokens have no gram row. */
  private def refMinhashWords(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] = {
    val grams = df.select($"doc_id",
      explode(Dedup.tokenNgrams($"text", n)).as("sh"))
    val minCols = (0 until k).map(i =>
      min(conv(substring(md5(concat($"sh", lit(s"#$i"))), 1, 15),
        16, 10).cast("long")).as(s"mh$i"))
    grams.groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap
  }

  private def natMinhashWords(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id",
      call_function("minhash_words_md5", $"text", lit(k), lit(n)).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("minhash_words_md5 is bit-exact with the md5/conv explode+agg " +
      "formulation; empty array iff fewer than n tokens") {
    val df = corpus(edgeTexts)
    for ((k, n) <- Seq((8, 3), (4, 2))) {
      val nat = natMinhashWords(df, k, n)
      val ref = refMinhashWords(df, k, n)
      nat.filter(_._2.nonEmpty) shouldBe ref
      // the kernel's empty-array docs are exactly those the explode
      // formulation drops (fewer than n tokens -> no full gram)
      nat.filter(_._2.isEmpty).keySet shouldBe
        (nat.keySet -- ref.keySet)
    }
  }

  /** OPH column formulation — the exact gram-explode pipeline
    * `dedup_minhash_oph` shipped before the kernel (and its DuckDB
    * oracle still replays): ONE unsalted md5-prefix hash per gram,
    * k conditional mins on `h mod k`, coalesce-chain rotation
    * densification. Docs with < n tokens have no gram row. */
  private def refMinhashOph(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] = {
    val mns = df
      .select($"doc_id", explode(Dedup.tokenNgrams($"text", n)).as("g"))
      .select($"doc_id",
        conv(substring(md5($"g"), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy($"doc_id")
      .agg(min(when($"h" % k === 0L, $"h")).as("m0"),
        (1 until k).map(j =>
          min(when($"h" % k === j.toLong, $"h")).as(s"m$j")): _*)
    mns.select($"doc_id" +: (0 until k).map { j =>
      coalesce(col(s"m$j") +:
        (1 until k).map(t => col(s"m${(j + t) % k}") + t.toLong): _*)
        .as(s"d$j")
    }: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap
  }

  private def natMinhashOph(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id",
      call_function("minhash_oph_md5", $"text", lit(k), lit(n)).as("ds"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("minhash_oph_md5 is bit-exact with the explode + conditional-min " +
      "+ coalesce-densification formulation; empty array iff fewer " +
      "than n tokens") {
    val df = corpus(edgeTexts)
    for ((k, n) <- Seq((16, 3), (8, 2))) {
      val nat = natMinhashOph(df, k, n)
      val ref = refMinhashOph(df, k, n)
      nat.filter(_._2.nonEmpty) shouldBe ref
      nat.filter(_._2.isEmpty).keySet shouldBe (nat.keySet -- ref.keySet)
    }
  }

  /** HLL column formulation — the literal pipeline the
    * `distinct_hll_portable` DuckDB oracle replays: one md5-prefix
    * hash per gram, bucket `h % m`, rho from the bit length of the
    * remaining `h div m` bits, max per bucket; buckets no gram hit
    * are 0. Docs with < n tokens have no gram row. m = 64 only (the
    * entry's register count). */
  private def refHllRegs(df: DataFrame, n: Int): Map[Long, Seq[Long]] = {
    val sparse = df
      .select($"doc_id", explode(Dedup.tokenNgrams($"text", n)).as("g"))
      .select($"doc_id",
        conv(substring(md5($"g"), 1, 15), 16, 10).cast("long").as("h"))
      .select($"doc_id", ($"h" % 64).as("bucket"),
        expr("h div 64").as("w"))
      .select($"doc_id", $"bucket",
        expr("CASE WHEN w = 0 THEN 55L ELSE 55L - length(bin(w)) END")
          .as("rho"))
      .groupBy($"doc_id", $"bucket").agg(max($"rho").as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    sparse.keySet.map(_._1).map { id =>
      id -> (0 until 64).map(b => sparse.getOrElse((id, b), 0L))
    }.toMap
  }

  private def natHllRegs(df: DataFrame, n: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id",
      call_function("hll_regs_md5", $"text", lit(64), lit(n)).as("rs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("hll_regs_md5 is bit-exact with the md5 bucket/rho/max column " +
      "formulation; empty array iff fewer than n tokens") {
    val df = corpus(edgeTexts)
    for (n <- Seq(3, 2)) {
      val nat = natHllRegs(df, n)
      val ref = refHllRegs(df, n)
      nat.filter(_._2.nonEmpty) shouldBe ref
      nat.filter(_._2.isEmpty).keySet shouldBe (nat.keySet -- ref.keySet)
    }
  }

  /** KMV column formulation — distinct gram hashes, k smallest
    * ascending (the `distinct_kmv_setops` oracle's row_number ≤ k). */
  private def refKminHash(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id", explode(Dedup.tokenNgrams($"text", n)).as("g"))
      .select($"doc_id",
        conv(substring(md5($"g"), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1)
      .map { case (id, hs) => id -> hs.map(_._2).sorted.take(k).toSeq }

  private def natKminHash(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id",
      call_function("kmin_hash_md5", $"text", lit(k), lit(n)).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("kmin_hash_md5 is bit-exact with the distinct + sort + take-k " +
      "column formulation (ascending, deduplicated); empty array iff " +
      "fewer than n tokens") {
    val df = corpus(edgeTexts)
    for ((k, n) <- Seq((4, 3), (64, 2))) {
      val nat = natKminHash(df, k, n)
      val ref = refKminHash(df, k, n)
      nat.filter(_._2.nonEmpty) shouldBe ref
      nat.filter(_._2.isEmpty).keySet shouldBe (nat.keySet -- ref.keySet)
    }
  }

  /** Column formulation; the short-text guard matters — a bare
    * sequence(1, len-l+1) goes DESCENDING [1, 0] when len < l (the
    * Holt-backtest trap) and would hash clamped sub-windows. */
  private def refWinHash(df: DataFrame, l: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id", expr(
      s"CASE WHEN length(text) >= $l THEN " +
        s"transform(sequence(1, length(text) - ${l - 1}), " +
        s"i -> xxhash64(substring(text, i, $l))) " +
        "ELSE cast(array() as array<bigint>) END").as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def natWinHash(df: DataFrame, l: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id",
      call_function("win_hash_x64", $"text", lit(l)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("win_hash_x64 is bit-exact with the xxhash64(substring) column " +
      "formulation, multi-byte chars included; empty iff < L chars") {
    val df = corpus(edgeTexts)
    for (l <- Seq(3, 10)) {
      val nat = natWinHash(df, l)
      val ref = refWinHash(df, l)
      nat shouldBe ref
    }
  }

  test("minhash_bands matches bandHashes over the signature frame") {
    val df = corpus(edgeTexts)
    natBands(df, 16, 4, 3) shouldBe refBands(df, 16, 4, 3)
    natBands(df, 8, 8, 2) shouldBe refBands(df, 8, 8, 2)
  }

  test("winnow_fps: same distinct fingerprint set per doc, sorted, " +
      "empty iff no full window") {
    val df = corpus(edgeTexts)
    val nat = natWinnow(df, 5, 4)
    val ref = refWinnow(df, 5, 4)
    for ((id, fps) <- nat) {
      fps shouldBe fps.sorted
      fps.toSet shouldBe ref.getOrElse(id, Set.empty[Long])
    }
    // short texts: n k-gram positions = max(len-k+1, 1) < w -> no window
    assert(nat.exists(_._2.isEmpty))
  }

  private def refJaccard(df: DataFrame, n: Int): Map[Long, Double] =
    df.select($"doc_id", TextOps.jaccard(
        TextOps.shingles($"text", n), TextOps.shingles($"qtext", n)).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def natJaccard(df: DataFrame, n: Int): Map[Long, Double] =
    df.select($"doc_id",
      call_function("jaccard_shingles", $"text", $"qtext", lit(n)).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def pairedCorpus(texts: Seq[String]): DataFrame = {
    val q = texts.headOption.getOrElse("")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, q) }
      .toDF("doc_id", "text", "qtext")
  }

  test("jaccard_shingles is value-exact with the array_intersect " +
      "formulation (counts are integers, division correctly rounded)") {
    val df = pairedCorpus(edgeTexts)
    natJaccard(df, 3) shouldBe refJaccard(df, 3)
    natJaccard(df, 2) shouldBe refJaccard(df, 2)
  }

  private val stop = Seq("the", "a", "of", "and", "to")

  private def refTokenStats(df: DataFrame): Map[Long, (Long, Long, Long, Long, Long)] =
    df.select($"doc_id", explode(TextOps.tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_tokens"),
        sum(org.apache.spark.sql.functions.length($"term") * $"c")
          .as("sum_len"),
        count(lit(1)).as("n_uniq"),
        max($"c").as("max_c"),
        coalesce(sum(when($"term".isInCollection(stop), $"c")), lit(0L))
          .as("n_stop"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap

  private def natTokenStats(df: DataFrame): Map[Long, (Long, Long, Long, Long, Long)] =
    df.select($"doc_id",
      call_function("token_stats", $"text", lit(stop.mkString(","))).as("ts"))
      .select($"doc_id", $"ts.n_tokens", $"ts.sum_len", $"ts.n_uniq",
        $"ts.max_c", $"ts.n_stop")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap

  test("token_stats matches the explode + double-groupBy moments, " +
      "including empty tokens and stopword counts") {
    val df = corpus(edgeTexts :+ "the cat and the dog and the bird to fly")
    natTokenStats(df) shouldBe refTokenStats(df)
  }

  test("simhash63 is bit-exact with the 63-conditional-sum formulation") {
    val df = corpus(edgeTexts.filter(_.nonEmpty)) // explode drops no rows here
    natSimhash(df) shouldBe refSimhash(df)
  }

  test("simhash63 / simhash63_md5 are non-null on every edge text, so " +
      "simhashBandIndex's coalesce(kernel, 0) never fires") {
    val df = corpus(edgeTexts) // includes "", "   " and the emoji row
    for (kernel <- Seq("simhash63", "simhash63_md5")) {
      val raw = df.select($"doc_id",
          call_function(kernel, TextOps.tokens($"text")).as("fp"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      raw.size shouldBe edgeTexts.size
      withClue(s"$kernel null on: ") {
        raw.collect { case (id, null) => edgeTexts(id.toInt) } shouldBe empty
      }
      // a null kernel value would surface here as fp = 0 (a false band
      // collision) instead of the raw value
      val banded = Dedup.simhashBandIndex(df, "doc_id", "text", kernel)
        .select($"doc_id", $"fp").distinct()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      banded shouldBe raw.map { case (id, v) => id -> v.asInstanceOf[Long] }
    }
  }

  // rep_stats reference: the per-n gram-array column algebra it replaces
  private def refRepStats(df: DataFrame): Map[Long, Seq[Long]] = {
    val toks = TextOps.tokens($"text")
    val cols = RepStatsAlgo.Ns.toSeq.flatMap(n => Seq(
      TextOps.topGramChars(TextOps.tokenNgrams(toks, n)).cast("long"),
      TextOps.dupGramExtraChars(TextOps.tokenNgrams(toks, n)).cast("long")))
    df.select($"doc_id", array(cols: _*).as("rs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  }

  private def natRepStats(df: DataFrame): Map[Long, Seq[Long]] =
    df.select($"doc_id", call_function("rep_stats", $"text").as("rs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("rep_stats is value-exact with the per-n gram array algebra, " +
      "including tie-breaks, empty tokens, and multi-byte chars") {
    val df = corpus(edgeTexts ++ Seq(
      "spam spam spam spam egg", // dominant 1-run across every n
      "a b a b a b a b",         // alternating: every 2-gram duplicated
      "x y x z x y x z x y",     // competing runs exercise the tie-break
      "é漢 é漢 é漢 mix",          // multi-byte gram chars
      "one two three four five six seven eight nine ten eleven twelve"))
    natRepStats(df) shouldBe refRepStats(df)
  }

  test("tokenStarts, sortedGrams and gramEq agree with split(text, ' ') " +
      "and the joined grams; a short doc gets no token starts") {
    val utf8 = (g: String) => org.apache.spark.unsafe.types.UTF8String.fromString(g)
    (edgeTexts ++ Seq("b a b a c", "é漢 é漢 x é漢")).foreach { t =>
      val bytes = t.getBytes("UTF-8")
      val toks = t.split(" ", -1).toSeq
      val st = SketchAlgos.tokenStarts(bytes, toks.size)
      toks.indices.map(i => new String(bytes, st(i), st(i + 1) - 1 - st(i), "UTF-8")) shouldBe toks
      SketchAlgos.tokenStarts(bytes, toks.size + 1) shouldBe null
      for (n <- 1 to toks.size) {
        val grams = toks.sliding(n).map(_.mkString(" ")).toIndexedSeq
        val idx = SketchAlgos.sortedGrams(bytes, st, n, grams.size).map(_.intValue).toSeq
        idx.sorted shouldBe grams.indices
        idx.map(grams).sliding(2).foreach {
          case Seq(a, b) => assert(utf8(a).compareTo(utf8(b)) <= 0, s"$a > $b in $t")
          case _ => ()
        }
        for (a <- grams.indices; b <- grams.indices)
          SketchAlgos.gramEq(bytes, st, n, a, b) shouldBe (grams(a) == grams(b))
      }
    }
  }

  test("property: rep_stats agrees with the column algebra on random " +
      "small-alphabet corpora") {
    val prop = Prop.forAll(Gen.listOfN(25, genText)) { texts =>
      val df = corpus(texts)
      natRepStats(df) == refRepStats(df)
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(5)
      .withInitialSeed(Seed(434343L))
    val res = SCTest.check(params, prop)
    assert(res.passed, s"rep_stats equivalence: ${res.status}")
  }

  test("property: all four sketches agree with the column formulations " +
      "on random corpora") {
    // raw ScalaCheck (no scalatest bridge on the offline classpath);
    // fixed seed so a failure reproduces
    val prop = Prop.forAll(Gen.listOfN(25, genText)) { texts =>
      val df = corpus(texts)
      val sigOk = natMinhash(df, 8, 3) == refMinhash(df, 8, 3)
      val bandsOk = natBands(df, 8, 4, 3) == refBands(df, 8, 4, 3)
      val (natW, refW) = (natWinnow(df, 4, 3), refWinnow(df, 4, 3))
      val winnowOk = natW.forall { case (id, fps) =>
        fps.toSet == refW.getOrElse(id, Set.empty[Long]) }
      val nonEmpty = corpus(texts.filter(_.nonEmpty))
      val simOk = natSimhash(nonEmpty) == refSimhash(nonEmpty)
      val paired = pairedCorpus(texts)
      val jacOk = natJaccard(paired, 3) == refJaccard(paired, 3)
      val tsOk = natTokenStats(df) == refTokenStats(df)
      val natMW = natMinhashWords(df, 4, 2)
      val mwOk = natMW.filter(_._2.nonEmpty) == refMinhashWords(df, 4, 2)
      val natOph = natMinhashOph(df, 4, 2)
      val ophOk = natOph.filter(_._2.nonEmpty) == refMinhashOph(df, 4, 2)
      sigOk && bandsOk && winnowOk && simOk && jacOk && tsOk && mwOk && ophOk
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(5)
      .withInitialSeed(Seed(424242L))
    val res = SCTest.check(params, prop)
    assert(res.passed, s"sketch equivalence: ${res.status}")
  }

  test("winnow profile semantics: null text and shorter-than-window docs " +
      "report 0 fingerprints with null min/max (doc_winnow_portable shape)") {
    // The sf corpus has no null-text or sub-window documents, so the
    // catalog entry's coalesce/when projection never exercises these
    // paths there — pin them on an inline fixture instead. k=5, w=4:
    // a doc needs >= k+w-1 = 8 chars for one full window.
    val df = Seq(
      (1L, null: String),       // null in  -> null fps array
      (2L, "abc"),              // < k      -> zero k-grams
      (3L, "abcdef"),           // 2 k-grams < one full window
      (4L, "abcdefgh"),         // exactly one full window
      (5L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val got = df.select($"doc_id",
        call_function("winnow_fps_md5", $"text", lit(5), lit(4)).as("fps"))
      .select($"doc_id",
        coalesce(fsize($"fps").cast("long"), lit(0L)).as("n_fingerprints"),
        when(fsize($"fps") > 0, element_at($"fps", 1)).as("min_fp"),
        when(fsize($"fps") > 0, element_at($"fps", -1)).as("max_fp"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toMap
    for (id <- Seq(1L, 2L, 3L))
      got(id) shouldBe ((0L, None, None))
    got(4L)._1 shouldBe 1L
    got(4L)._2 shouldBe got(4L)._3 // single window: min == max
    got(5L)._1 should be > 1L
    assert(got(5L)._2.get.asInstanceOf[Long] <=
      got(5L)._3.get.asInstanceOf[Long])
    // the production-hash kernel agrees on the empty/null contract
    val prod = df.select($"doc_id",
        call_function("winnow_fps", $"text", lit(5), lit(4)).as("fps"))
      .select($"doc_id",
        coalesce(fsize($"fps").cast("long"), lit(0L)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- Seq(1L, 2L, 3L)) prod(id) shouldBe 0L
    prod(4L) shouldBe 1L
  }

  /** The quality_classifier_score HOF-aggregate column formulation the
    * bow_score_md5 kernel replaced (kept here as the reference). */
  private def refBowScore(df: DataFrame): Map[Long, (Long, Long)] = {
    val toks = filter(split($"text", " "), w => w =!= "")
    val bucket = (w: org.apache.spark.sql.Column) =>
      conv(substring(md5(w), 1, 15), 16, 10).cast("long") % 1024L
    val weight = (w: org.apache.spark.sql.Column) =>
      (bucket(w) * lit(2654435761L)) % 1048576L - 524288L
    df.select($"doc_id", fsize(toks).cast("long").as("n"),
        aggregate(toks, lit(0L), (acc, w) => acc + weight(w)).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  private def natBowScore(df: DataFrame): Map[Long, (Long, Long)] =
    df.select($"doc_id", call_function("bow_score_md5", $"text").as("bs"))
      .select($"doc_id", $"bs.n_tokens", $"bs.score_raw")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

  test("bow_score_md5 is bit-exact with the HOF-aggregate md5 column " +
      "formulation (empty tokens filtered; empty text scores (0, 0))") {
    val df = corpus(edgeTexts)
    natBowScore(df) shouldBe refBowScore(df)
    val prop = Prop.forAll(Gen.listOfN(25, genText)) { texts =>
      val c = corpus(texts)
      natBowScore(c) == refBowScore(c)
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(5)
      .withInitialSeed(Seed(454545L))
    val res = SCTest.check(params, prop)
    assert(res.passed, s"bow_score equivalence: ${res.status}")
  }

  /** The exploded-md5 column formulation of the Poisson(1) draws (what
    * the events_bootstrap_ci oracle replays). */
  private def refBootPois(df: DataFrame, b: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id", expr(
      s"""transform(sequence(0, ${b - 1}), i -> CASE
        |  WHEN cast(conv(substring(md5(concat(text, ':', i)), 1, 15),
        |            16, 10) as bigint) % 1000000000 < 367879441 THEN 0L
        |  WHEN cast(conv(substring(md5(concat(text, ':', i)), 1, 15),
        |            16, 10) as bigint) % 1000000000 < 735758882 THEN 1L
        |  WHEN cast(conv(substring(md5(concat(text, ':', i)), 1, 15),
        |            16, 10) as bigint) % 1000000000 < 919698602 THEN 2L
        |  WHEN cast(conv(substring(md5(concat(text, ':', i)), 1, 15),
        |            16, 10) as bigint) % 1000000000 < 981011843 THEN 3L
        |  WHEN cast(conv(substring(md5(concat(text, ':', i)), 1, 15),
        |            16, 10) as bigint) % 1000000000 < 996340153 THEN 4L
        |  WHEN cast(conv(substring(md5(concat(text, ':', i)), 1, 15),
        |            16, 10) as bigint) % 1000000000 < 999405815 THEN 5L
        |  ELSE 6L END)""".stripMargin).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def natBootPois(df: DataFrame, b: Int): Map[Long, Seq[Long]] =
    df.select($"doc_id",
      call_function("boot_pois_md5", $"text", lit(b)).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("boot_pois_md5 is bit-exact with the exploded inverse-CDF md5 " +
      "column formulation; weights stay in [0, 6] and average near 1") {
    val keys = (0 until 200).map(_.toString)
    val df = corpus(keys)
    val nat = natBootPois(df, 32)
    nat shouldBe refBootPois(df, 32)
    val all = nat.values.flatten.toSeq
    all.min should be >= 0L
    all.max should be <= 6L
    // Poisson(1): mean 1 — 6400 draws put the sample mean well inside
    // (0.9, 1.1) unless the inverse CDF is wired wrong
    val mean = all.sum.toDouble / all.size
    mean should be > 0.9
    mean should be < 1.1
  }

  test("kernels run inside whole-stage codegen (no fallback to eval)") {
    // defineCodeGen emits the static call; a codegen exception would
    // surface as a CodegenFallback warning + interpreted path. Force
    // codegen-only to prove the generated code compiles and runs.
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val df = corpus(edgeTexts)
      natMinhash(df, 8, 3)
      natBands(df, 8, 4, 3)
      natWinnow(df, 5, 4)
      natSimhash(df)
      natJaccard(pairedCorpus(edgeTexts), 3)
      // portable (md5/sha-prefix) kernels — cross-engine values are
      // DuckDB-oracled in the *_portable catalog entries; here just
      // prove the generated code compiles and runs codegen-only
      df.select(
        call_function("minhash_bands_md5", $"text", lit(8), lit(3)),
        call_function("winnow_fps_md5", $"text", lit(5), lit(4)),
        call_function("simhash63_md5", TextOps.tokens($"text")),
        call_function("bow_score_md5", $"text"),
        call_function("boot_pois_md5", $"text", lit(8))).collect()
    }
  }

  private def withSQLConf(kv: (String, String))(f: => Unit): Unit = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try f finally prev match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None => spark.conf.unset(kv._1)
    }
  }
}
