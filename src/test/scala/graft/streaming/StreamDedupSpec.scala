package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase

/** Streaming exact dedup: duplicate content suppressed within the
  * watermark horizon, state keyed by digest (not document). */
class StreamDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("re-occurrences of identical content within the watermark are suppressed") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val q = StreamDedup.dedupByContent(
      source.toDF().toDF("ts", "text"), "ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      source.addData(
        (ts("2024-01-01 10:00:00"), "doc A"),
        (ts("2024-01-01 10:00:30"), "doc A"), // in-batch dup
        (ts("2024-01-01 10:01:00"), "doc B"))
      q.processAllAvailable()
      source.addData(
        (ts("2024-01-01 10:02:00"), "doc A"), // cross-batch dup
        (ts("2024-01-01 10:03:00"), "doc C"))
      q.processAllAvailable()
      val texts = spark.table("stream_dedup")
        .select($"text").as[String].collect().sorted
      assert(texts.toSeq == Seq("doc A", "doc B", "doc C"),
        s"each content exactly once, got ${texts.toSeq}")
    } finally q.stop()
  }

  private val base = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the deep green forest before sunset tonight"

  test("streaming near-dup: banded simhash state reproduces brute-force " +
      "all-pairs Hamming <= 3 across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val docs = Seq(
      1L -> base,
      2L -> base, // exact dup, same batch as 1 (in-batch pairing)
      3L -> base.replace("quick", "quikc"),
      6L -> ("entirely unrelated content about database query engines " +
        "optimizers shuffles partitions and columnar storage formats"))
    val q = StreamDedup.nearDupBySimhash(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("stream_neardup")
      .outputMode("append").start()
    try {
      source.addData(docs(0), docs(1))
      q.processAllAvailable()
      source.addData(docs(2), docs(3)) // cross-batch vs state
      q.processAllAvailable()
      val got = spark.table("stream_neardup")
        .select($"id_a", $"id_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val fps = docs.toDF("doc_id", "text")
        .select($"doc_id", org.apache.spark.sql.functions.call_function(
          "simhash63", graft.ext.TextOps.tokens($"text")).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (for {
        a <- fps.keys; b <- fps.keys if a < b
        if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3
      } yield (a, b)).toSet
      assert(got == want, s"stream $got vs brute force $want")
      assert(want.contains((1L, 2L)), "exact dup must be present")
      assert(!want.exists(p => p._1 == 6L || p._2 == 6L))
      // every emitted hamming is confirmed, not just band-matched
      val hams = spark.table("stream_neardup")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3)))
      for (((a, b), h) <- hams)
        assert(h == java.lang.Long.bitCount(fps(a) ^ fps(b)) && h <= 3)
    } finally q.stop()
  }

  test("near-dup state is a bounded FIFO: an evicted doc no longer pairs") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val q = StreamDedup.nearDupBySimhash(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      stateDocsPerBand = 1)
      .writeStream.format("memory").queryName("stream_neardup_fifo")
      .outputMode("append").start()
    try {
      source.addData(1L -> base); q.processAllAvailable()
      source.addData(2L -> base); q.processAllAvailable() // pairs with 1, evicts 1
      source.addData(3L -> base); q.processAllAvailable() // pairs with 2 only
      val got = spark.table("stream_neardup_fifo")
        .select($"id_a", $"id_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (2L, 3L)),
        s"cap=1 must drop the (1,3) pair, got $got")
    } finally q.stop()
  }

  test("a re-delivered doc_id replaces its state entry: no self-pairs, " +
      "no re-emission, and FIFO capacity is not consumed") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val q = StreamDedup.nearDupBySimhash(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      stateDocsPerBand = 2)
      .writeStream.format("memory").queryName("stream_neardup_redeliver")
      .outputMode("append").start()
    try {
      source.addData(1L -> base); q.processAllAvailable()
      // re-deliver doc 1 twice: must not pair with itself, must not
      // occupy a second state slot
      source.addData(1L -> base); q.processAllAvailable()
      source.addData(1L -> base); q.processAllAvailable()
      source.addData(2L -> base); q.processAllAvailable() // pairs with 1
      source.addData(3L -> base); q.processAllAvailable() // pairs with 1 AND 2
      val got = spark.table("stream_neardup_redeliver")
        .select($"id_a", $"id_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // cap=2 with dedup'd state holds {1,2} when 3 arrives; if
      // re-deliveries stacked, doc 1 would fill both slots and (1,3)
      // would emit twice while (2,3) never could after eviction
      assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)),
        s"re-delivery must not shrink capacity or self-pair, got $got")
      val pairCounts = spark.table("stream_neardup_redeliver")
        .groupBy($"id_a", $"id_b", $"band").count()
        .filter($"count" > 1).count()
      assert(pairCounts == 0, "no (pair, band) emitted more than once")
    } finally q.stop()
  }

  test("a doc re-delivered AFTER a peer is in state re-emits its pairs " +
      "exactly once per arrival (downstream-deduped), state unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val q = StreamDedup.nearDupBySimhash(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      stateDocsPerBand = 2)
      .writeStream.format("memory").queryName("stream_neardup_repeer")
      .outputMode("append").start()
    try {
      source.addData(1L -> base); q.processAllAvailable()
      source.addData(2L -> base); q.processAllAvailable() // (1,2) emitted
      // re-deliver doc 1 with peer 2 already in state: the arrival
      // re-compares against its bucket, so (1,2) is emitted ONE more
      // time per shared band — the documented behavior the downstream
      // (id_a, id_b) dedup absorbs — never 2+ per arrival (stacked
      // state) and never a self-pair
      source.addData(1L -> base); q.processAllAvailable()
      val rows = spark.table("stream_neardup_repeer")
        .select($"id_a", $"id_b", $"band").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
      assert(rows.map(_._1).toSet == Set((1L, 2L)), "only the (1,2) pair")
      val perBand = rows.groupBy(identity).map(_._2.size)
      assert(perBand.forall(_ == 2),
        s"each shared band: initial + exactly one re-emission, got ${
          rows.groupBy(identity).view.mapValues(_.size).toMap}")
      // ...and the re-delivery left state one-entry-per-doc: a third doc
      // still pairs with BOTH 1 and 2 at cap=2
      source.addData(3L -> base); q.processAllAvailable()
      val afterThird = spark.table("stream_neardup_repeer")
        .select($"id_a", $"id_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterThird == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"$afterThird")
    } finally q.stop()
  }

  test("streaming contamination: docs sharing a 13-gram with the static " +
      "eval set flag exactly once across micro-batches; clean docs pass") {
    implicit val sqlCtx = spark.sqlContext
    val evalText = (1 to 20).map(i => s"t$i").mkString(" ")
    val plagiarized =
      "intro words " + (3 to 15).map(i => s"t$i").mkString(" ") + " outro"
    val nearMiss =
      "intro words " + (3 to 14).map(i => s"t$i").mkString(" ") + " outro"
    val clean = (1 to 30).map(i => s"u$i").mkString(" ")
    val evalDocs = Seq(100L -> evalText).toDF("doc_id", "text")
    val source = MemoryStream[(Timestamp, Long, String)]
    val q = StreamDedup.contaminatedByNgrams(
      source.toDF().toDF("ts", "doc_id", "text"), evalDocs,
      "ts", "doc_id", "text")
      .writeStream.format("memory").queryName("stream_decontam")
      .outputMode("append").start()
    try {
      source.addData(
        (ts("2024-01-01 10:00:00"), 1L, plagiarized),
        (ts("2024-01-01 10:00:10"), 2L, nearMiss),
        (ts("2024-01-01 10:00:20"), 3L, clean))
      q.processAllAvailable()
      source.addData(
        (ts("2024-01-01 10:01:00"), 1L, plagiarized), // re-arrival in horizon
        (ts("2024-01-01 10:01:10"), 4L, evalText))    // verbatim eval copy
      q.processAllAvailable()
      val flagged = spark.table("stream_decontam")
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(flagged == Seq(1L, 4L),
        s"plagiarized + verbatim flagged once each, got $flagged")
    } finally q.stop()
  }

  test("TTL near-dup: in-horizon docs pair; docs ttl behind the watermark " +
      "are calendar-evicted (arrival path AND idle-bucket timeout path)") {
    implicit val sqlCtx = spark.sqlContext
    val unrelated = "entirely unrelated content about database query " +
      "engines optimizers shuffles partitions and columnar storage formats"
    // distinct from `unrelated` — the two clock-pusher docs must not be
    // near-dups of each other (6 is still inside ttl of the lagging
    // watermark when 7 arrives)
    val unrelated2 = "completely different musings on mountain weather " +
      "patterns alpine climbing routes glacier travel and avalanche safety"
    val source = MemoryStream[(Timestamp, Long, String)]
    val q = StreamDedup.nearDupBySimhashTtl(
      source.toDF().toDF("ts", "doc_id", "text"), "doc_id", "text", "ts",
      ttlMs = 60000L, delay = "0 seconds")
      .writeStream.format("memory").queryName("stream_neardup_ttl")
      .outputMode("append").start()
    try {
      def pairs(): Set[(Long, Long)] = spark.table("stream_neardup_ttl")
        .select($"id_a", $"id_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      source.addData((ts("2024-01-01 10:00:00"), 1L, base))
      q.processAllAvailable()
      // 30s apart, watermark at 10:00:00 — doc 1 is in horizon: pair
      source.addData((ts("2024-01-01 10:00:30"), 2L, base))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 2L)), s"in-horizon pair, got ${pairs()}")
      // an unrelated doc an hour later drags the watermark to 11:00
      source.addData((ts("2024-01-01 11:00:00"), 6L, unrelated))
      q.processAllAvailable()
      // doc 3 lands in the SAME buckets as 1/2 — arrival-path eviction:
      // both entries are > 60s behind the 11:00 watermark, no pair
      source.addData((ts("2024-01-01 11:00:10"), 3L, base))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 2L)),
        s"ttl must evict docs 1/2 before doc 3 arrives, got ${pairs()}")
      // push the watermark again with bucket-foreign data only: the
      // base bucket is idle past newest(3)+ttl → the event-time timeout
      // removes it whole (timeout path), so doc 4 pairs with nothing
      source.addData((ts("2024-01-01 11:30:00"), 7L, unrelated2))
      q.processAllAvailable()
      source.addData((ts("2024-01-01 11:30:10"), 4L, base))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 2L)),
        s"idle-bucket timeout must clear doc 3, got ${pairs()}")
      // the operator still works after evictions: a fresh in-horizon duo
      source.addData((ts("2024-01-01 11:30:15"), 5L, base))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 2L), (4L, 5L)),
        s"fresh in-horizon pair after evictions, got ${pairs()}")
    } finally q.stop()
  }

  test("emitted rows carry the 64-hex content digest for downstream joins") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val q = StreamDedup.dedupByContent(
      source.toDF().toDF("ts", "text"), "ts", "text", "1 minute")
      .writeStream.format("memory").queryName("stream_dedup_digest")
      .outputMode("append").start()
    try {
      source.addData((ts("2024-01-01 10:00:00"), "payload"))
      q.processAllAvailable()
      val sha = spark.table("stream_dedup_digest")
        .select($"content_sha").as[String].collect().head
      assert(sha.matches("[0-9a-f]{64}"))
    } finally q.stop()
  }

  test("streaming semantic dedup reproduces the batch SemDeDup prune set " +
      "bit-for-bit on sf0.001, arrival order shuffled across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    // same centroids as the batch entry: the k=8 lowest vec_ids
    val cents = emb.filter(_._1 < 8)
      .map { case (id, v) => (id.toInt, v) }.toSeq
    // batch truth: (pruned vec_id -> cluster) from the catalog entry
    val batch = graft.SparkEntry.queries("dedup_semantic_embed")(spark, sf)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    val source = MemoryStream[(Long, Array[Float])]
    val q = StreamDedup.semanticNearDup(
      source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents)
      .writeStream.format("memory").queryName("stream_semdedup")
      .outputMode("append").start()
    try {
      // deterministic NON-id arrival order (Knuth-hash shuffle), split
      // over 3 micro-batches so cross-batch state pairing is exercised
      val shuffled = emb.sortBy { case (id, _) =>
        ((id * 2654435761L) % 1009, id) }
      val third = shuffled.length / 3
      for (batchRows <- shuffled.grouped(math.max(third, 1))) {
        source.addData(batchRows.toSeq)
        q.processAllAvailable()
      }
      // survivors must match: the stream's pruned set is every id that
      // appears as the HIGHER side of a confirmed pair — exactly the
      // batch entry's prune rule (condemned by any lower-id neighbor)
      val streamPruned = spark.table("stream_semdedup")
        .select($"id_b", $"cluster").distinct().collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamPruned == batch,
        s"stream prune set ${streamPruned.toSeq.sorted} != " +
          s"batch ${batch.toSeq.sorted}")
      assert(batch.nonEmpty, "fixture must actually contain semantic dups")
    } finally q.stop()
  }

  // identical unit vectors: every co-resident pair clears any threshold
  private val e1 = Array(1.0f, 0.0f)
  private val oneCluster = Seq(0 -> Array(1.0f, 0.0f))

  test("semantic dedup state is a bounded FIFO: an evicted vector no " +
      "longer pairs") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Array[Float])]
    val q = StreamDedup.semanticNearDup(
      source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      oneCluster, stateDocsPerCluster = 1)
      .writeStream.format("memory").queryName("semdedup_fifo")
      .outputMode("append").start()
    try {
      source.addData(1L -> e1); q.processAllAvailable()
      source.addData(2L -> e1); q.processAllAvailable() // pairs with 1, evicts 1
      source.addData(3L -> e1); q.processAllAvailable() // pairs with 2 only
      val got = spark.table("semdedup_fifo")
        .select($"id_a", $"id_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (2L, 3L)),
        s"cap=1 must drop the (1,3) pair, got $got")
    } finally q.stop()
  }

  test("semantic dedup re-delivery replaces the state entry: no " +
      "self-pairs and FIFO capacity is not consumed") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Array[Float])]
    val q = StreamDedup.semanticNearDup(
      source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      oneCluster, stateDocsPerCluster = 2)
      .writeStream.format("memory").queryName("semdedup_redeliver")
      .outputMode("append").start()
    try {
      source.addData(1L -> e1); q.processAllAvailable()
      source.addData(1L -> e1); q.processAllAvailable() // replace, no self-pair
      source.addData(2L -> e1); q.processAllAvailable() // pairs with 1
      source.addData(3L -> e1); q.processAllAvailable() // pairs with 1 AND 2
      val got = spark.table("semdedup_redeliver")
        .select($"id_a", $"id_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)),
        s"re-delivery must not shrink capacity or self-pair, got $got")
      val dupEmits = spark.table("semdedup_redeliver")
        .groupBy($"id_a", $"id_b", $"cluster").count()
        .filter($"count" > 1).count()
      assert(dupEmits == 0, "no pair emitted more than once")
    } finally q.stop()
  }
}
