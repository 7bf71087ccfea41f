package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Exact + near-dup dedup behavior on crafted corpora (the catalog's
  * testdata has no near-duplicates; here we make some). */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the deep green forest before sunset tonight"

  test("exact dedup: one survivor per content, min id, correct counts") {
    val df = Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb"), (5L, "aaa"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .select($"doc_id", $"n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 3L), (2L, 1L)))
  }

  test("sharedGramPairs: links docs sharing a rare gram, refuses pairs " +
      "whose ONLY link is a gram above the df cap, equals the uncapped " +
      "self-join under the cap") {
    // 13 tokens => each text is exactly one 13-gram
    val hot = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13"
    val rare = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12 r13"
    val df = Seq(
      1L -> s"$rare tail1", 2L -> s"$rare tail2", // rare gram: df=2
      3L -> hot, 4L -> hot, 5L -> hot, 6L -> hot) // hot gram: df=4
      .toDF("doc_id", "text")
    def pairs(cap: Int): Set[(Long, Long)] =
      Dedup.sharedGramPairs(df, "doc_id", "text", n = 13, maxDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap below the hot gram's df: only the rare-gram pair survives
    assert(pairs(3) == Set((1L, 2L)))
    // cap at the hot df: identical to the raw self-join's pair set
    val uncapped = pairs(4)
    assert(uncapped == Set((1L, 2L), (3L, 4L), (3L, 5L), (3L, 6L),
      (4L, 5L), (4L, 6L), (5L, 6L)))
    // src < dst invariant
    assert(uncapped.forall { case (a, b) => a < b })
  }

  test("minhash signature is deterministic and identical for identical text") {
    val df = Seq((1L, base), (2L, base), (3L, "completely different words here"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(df, "doc_id", "text", k = 16, shingleLen = 3)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("nearDupPairs finds a near-duplicate and skips unrelated docs") {
    val nearDup = base.replace("quick", "quikc") // one typo
    val other = "entirely unrelated content about database query engines " +
      "optimizers shuffles partitions and columnar storage formats"
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.6)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("near-dup jaccard is high for the typo pair, low across docs") {
    val nearDup = base.replace("quick", "quikc")
    val df = Seq((1L, base), (2L, nearDup)).toDF("doc_id", "text")
    val j = Dedup.nearDupPairs(df, "doc_id", "text", k = 16, bands = 8,
      threshold = 0.0).select($"jaccard").collect().head.getDouble(0)
    assert(j > 0.8 && j < 1.0)
  }

  test("winnowing: identical texts share all fingerprints; near-dups share most; shared substrings guarantee overlap") {
    val nearDup = base.replace("quick", "quikc")
    val other = "entirely unrelated content about database query engines " +
      "optimizers shuffles partitions and columnar storage formats today"
    val df = Seq((1L, base), (2L, base), (3L, nearDup), (4L, other))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "doc_id", "text", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    assert(fps(1L) == fps(2L))
    val overlap = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).size
    assert(overlap > 0.6, s"near-dup overlap $overlap")
    // winnowing guarantee: a shared >= k+w-1 substring shares a fingerprint
    assert(fps(1L).intersect(fps(3L)).nonEmpty)
    val crossOverlap = fps(1L).intersect(fps(4L)).size.toDouble / fps(1L).size
    assert(crossOverlap < overlap)
  }

  test("simhash: identical texts collide, near-dups land within small hamming distance") {
    val nearDup = base.replace("forest", "woods")
    val other = "entirely unrelated content about database query engines"
    val df = Seq((1L, base), (2L, base), (3L, nearDup), (4L, other))
      .toDF("doc_id", "text")
    val voted = df
      .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      .select($"doc_id" +: TextOps.simhashBitVotes(xxhash64($"tok"))
        .zipWithIndex.map { case (c, i) => c.as(s"v$i") }: _*)
    val sums = (0 until TextOps.SimhashBits).map(i => sum(col(s"v$i")).as(s"s$i"))
    val sim = voted.groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .select($"doc_id", TextOps.assembleSimhash(
        (0 until TextOps.SimhashBits).map(i => col(s"s$i"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sim(1L) == sim(2L))
    assert(ham(sim(1L), sim(3L)) <= 12, s"near-dup hamming ${ham(sim(1L), sim(3L))}")
    assert(ham(sim(1L), sim(4L)) > ham(sim(1L), sim(3L)))
  }

  test("simhashNearDupPairs == brute-force all-pairs Hamming <= 3 " +
      "(banded pigeonhole: full recall AND bit_count precision)") {
    // corpus with exact dups (hamming 0), graded near texts, and
    // unrelated docs; the operator's band-join candidates + bit_count
    // confirm must reproduce the brute-force pair set exactly
    val texts = Seq(
      1L -> base, 2L -> base,
      3L -> base.replace("quick", "quikc"),
      4L -> base.replace("fox", "cat"),
      5L -> (base + " extra trailing words appended here"),
      6L -> ("entirely unrelated content about database query engines " +
        "optimizers shuffles partitions and columnar storage formats"),
      7L -> "short one",
      8L -> "short one") // second exact-dup cluster
    val df = texts.toDF("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 3)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fps = df.select($"doc_id",
        call_function("simhash63", TextOps.tokens($"text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- fps.keys; b <- fps.keys if a < b
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3
    } yield (a, b)).toSet
    assert(got == want, s"operator $got vs brute force $want")
    assert(want.contains((1L, 2L)) && want.contains((7L, 8L)),
      "exact-dup clusters must be present for the test to have teeth")
    assert(!want.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("ngramOverlapCounts: planted 13-gram contamination is flagged, " +
      "12-token overlap and short docs are not") {
    // eval doc: 20 tokens t1..t20
    val evalText = (1 to 20).map(i => s"t$i").mkString(" ")
    val plagiarized = // a verbatim 13-token span inside fresh context
      "intro words " + (3 to 15).map(i => s"t$i").mkString(" ") + " outro"
    val nearMiss = // only 12 consecutive shared tokens: below the rule
      "intro words " + (3 to 14).map(i => s"t$i").mkString(" ") + " outro"
    val clean = (1 to 30).map(i => s"u$i").mkString(" ")
    val short = "t1 t2 t3" // < 13 tokens: zero grams, empty-array branch
    val docs = Seq(
      100L -> evalText, // the eval doc itself, present in the corpus
      1L -> plagiarized, 2L -> nearMiss, 3L -> clean, 4L -> short,
      (5L, null: String))
      .toDF("doc_id", "text")
    val evalDocs = docs.where($"doc_id" === 100L)
    val got = Dedup.ngramOverlapCounts(docs, evalDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // eval doc self-hits all its 8 distinct 13-grams; the plagiarized
    // doc shares exactly one (t3..t15)
    assert(got == Map(100L -> 8L, 1L -> 1L),
      s"expected exactly the planted contamination, got $got")
  }

  test("forAll: ngramOverlapCounts equals brute-force distinct-gram " +
      "intersection on random small-alphabet corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val genDoc: Gen[String] =
      Gen.choose(0, 10).flatMap(k =>
        Gen.listOfN(k, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val genCorpus: Gen[List[String]] =
      Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, genDoc))
    val n = 3
    def grams(text: String): Set[String] = {
      val toks = text.split(" ", -1).toSeq
      if (toks.size < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val prop = Prop.forAll(genCorpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val evalIds = texts.indices.filter(_ % 3 == 0).map(_.toLong).toSet
      val evalDocs = docs.where($"doc_id" % 3 === 0)
      val got = Dedup.ngramOverlapCounts(docs, evalDocs, "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val evalGrams = evalIds.flatMap(i => grams(texts(i.toInt)))
      val want = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> (grams(t) & evalGrams).size.toLong }
        .filter(_._2 > 0).toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(24680L)), prop)
    assert(res.passed, s"ngramOverlapCounts law: ${res.status}")
  }
}
