package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkTestBase}

/** Streaming incremental dedup ([[StreamDedup.incrementalHitsAgainstRef]])
  * against the batch `dedup_incremental_ref` entry: the stream's hit
  * feed, folded by the documented precedence (exact > near > no hit =
  * kept), must reproduce the batch verdicts on a corpus where the
  * batch/stream df-cap delta cannot bite (no gram is hot on either
  * side). */
class StreamIncrementalSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  // the IncrementalDedupSpec fixture: ids % 3 == 0 are the new batch
  private val t1 =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
  private val t2 =
    "kilo lima mike november oscar papa quebec romeo sierra tango"
  private val t2near = t2.split(' ').dropRight(1).mkString(" ") + " uniform"
  private val t9 = "v1 v2 v3 v4 v5 " + (1 to 9).map("x" + _).mkString(" ")
  private val t7 = "v1 v2 v3 v4 v5 " + (1 to 9).map("y" + _).mkString(" ")
  private val t6 = (1 to 10).map("u" + _).mkString(" ")
  private val refRows = Seq(1L -> t1, 4L -> t2, 7L -> t7)
  private val newRows = Seq(0L -> t1, 3L -> t2near, 6L -> t6, 9L -> t9)

  test("stream hit feed folded by precedence == batch verdicts on the " +
      "crafted corpus, arrivals split across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val s = spark
    import s.implicits._
    // batch truth: the catalog entry over the same corpus on disk
    val dir = tempDir("stream-inc")
    (refRows ++ newRows)
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = SparkEntry.queries("dedup_incremental_ref")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val refDocs = refRows.toDF("doc_id", "text")
    val source = MemoryStream[(Timestamp, Long, String)]
    val q = StreamDedup.incrementalHitsAgainstRef(
      source.toDF().toDF("ts", "doc_id", "text"), refDocs,
      "ts", "doc_id", "text")
      .writeStream.format("memory").queryName("stream_incremental")
      .outputMode("append").start()
    try {
      source.addData(
        (ts("2024-01-01 10:00:00"), 0L, t1),
        (ts("2024-01-01 10:00:05"), 3L, t2near))
      q.processAllAvailable()
      source.addData(
        (ts("2024-01-01 10:00:10"), 6L, t6),
        (ts("2024-01-01 10:00:15"), 9L, t9))
      q.processAllAvailable()
      val hits = spark.table("stream_incremental")
        .select($"doc_id", $"layer", $"jac_ppm")
        .as[(Long, String, Long)].collect().toSeq
      val streamVerdict = newRows.map(_._1).map { id =>
        val mine = hits.filter(_._1 == id)
        id -> (if (mine.exists(_._2 == "exact")) "exact_dup"
               else if (mine.exists(_._2 == "near")) "near_dup"
               else "kept")
      }.toMap
      assert(streamVerdict == batch,
        s"stream $streamVerdict != batch $batch (hits: $hits)")
      // the near confirm carries the exact ppm the batch computed
      assert(hits.filter(h => h._1 == 3L && h._2 == "near")
        .map(_._3) == Seq(714285L), s"hits: $hits")
    } finally q.stop()
  }

  test("a pair re-arriving inside the watermark re-confirms neither " +
      "layer pair state nor duplicates the near hit") {
    implicit val sqlCtx = spark.sqlContext
    val s = spark
    import s.implicits._
    val refDocs = refRows.toDF("doc_id", "text")
    val source = MemoryStream[(Timestamp, Long, String)]
    val q = StreamDedup.incrementalHitsAgainstRef(
      source.toDF().toDF("ts", "doc_id", "text"), refDocs,
      "ts", "doc_id", "text")
      .writeStream.format("memory").queryName("stream_incremental_rearr")
      .outputMode("append").start()
    try {
      source.addData(
        (ts("2024-01-01 10:00:00"), 3L, t2near),
        (ts("2024-01-01 10:00:02"), 0L, t1))
      q.processAllAvailable()
      source.addData(
        (ts("2024-01-01 10:00:30"), 3L, t2near),
        (ts("2024-01-01 10:00:32"), 0L, t1))
      q.processAllAvailable()
      val hits = spark.table("stream_incremental_rearr")
        .select($"layer", $"doc_id", $"ref_id")
        .as[(String, Long, Long)].collect().toSeq
      assert(hits.count(h => h._1 == "near" && h._2 == 3L) == 1 &&
        hits.count(h => h._1 == "exact" && h._2 == 0L) == 1,
        s"each layer's pair confirmed exactly once, got $hits")
    } finally q.stop()
  }

  test("a failed near confirm does not pin the pair: a re-arrival with " +
      "changed text that now passes the threshold emits the hit") {
    implicit val sqlCtx = spark.sqlContext
    val s = spark
    import s.implicits._
    val refDocs = refRows.toDF("doc_id", "text")
    // shares exactly ONE 5-gram with ref doc 4 (t2) — a candidate, but
    // Jaccard 1/15 ≈ 66666 ppm < the 300000 ppm threshold: fails
    val tFail = "kilo lima mike november oscar " +
      (1 to 9).map("z" + _).mkString(" ")
    val source = MemoryStream[(Timestamp, Long, String)]
    val q = StreamDedup.incrementalHitsAgainstRef(
      source.toDF().toDF("ts", "doc_id", "text"), refDocs,
      "ts", "doc_id", "text")
      .writeStream.format("memory").queryName("stream_incremental_repass")
      .outputMode("append").start()
    try {
      source.addData((ts("2024-01-01 10:00:00"), 3L, tFail))
      q.processAllAvailable()
      // same doc_id, inside the watermark, text now 5/7 Jaccard to t2:
      // the failed confirm above must not have consumed the pair state
      source.addData((ts("2024-01-01 10:00:30"), 3L, t2near))
      q.processAllAvailable()
      val hits = spark.table("stream_incremental_repass")
        .select($"layer", $"doc_id", $"jac_ppm")
        .as[(String, Long, Long)].collect().toSeq
      assert(hits == Seq(("near", 3L, 714285L)),
        s"changed-text re-arrival must confirm, got $hits")
    } finally q.stop()
  }
}
