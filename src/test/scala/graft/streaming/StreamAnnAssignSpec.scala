package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.Tables

/** Streaming ANN assign/probe == the batch IVF machinery: the stream
  * is a stateless re-expression, so its outputs must be VALUE-EQUAL to
  * the batch `embed_kmeans_assign` entry regardless of how arrivals
  * are batched or ordered. */
class StreamAnnAssignSpec extends SparkTestBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** The batch entry's centroid convention: vec_id < 8. */
  private def centroids(): Seq[(Int, Array[Float])] =
    Tables.embeddings(spark, sfDir).where($"vec_id" < 8)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().map { case (id, v) => (id.toInt, v) }.toSeq

  test("stream assignments equal batch embed_kmeans_assign over " +
      "shuffled multi-batch arrivals") {
    implicit val sqlCtx = spark.sqlContext
    val cents = centroids()
    val all = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq
    // shuffled deterministically, split into 3 uneven micro-batches
    val shuffled = all.sortBy { case (id, _) => (id * 2654435761L) % 97 }
    val batches = Seq(shuffled.take(7), shuffled.slice(7, 11),
      shuffled.drop(11))

    val source = MemoryStream[(Long, Array[Float])]
    val q = StreamAnnAssign.assign(
      source.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents)
      .writeStream.format("memory").queryName("ann_assign")
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        if (b.nonEmpty) source.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("ann_assign")
      .select($"qid", $"cluster").as[(Long, Int)].collect().toMap

    // batch truth: the embed_kmeans_assign entry itself
    val want = graft.queries.SimilarityQueries.embedKmeansAssign
      .query(spark, sfDir)
      .select($"vec_id", $"cluster").as[(Long, Long)]
      .collect().map { case (id, c) => id -> c.toInt }.toMap
    assert(got == want, s"stream vs batch assignment mismatch: " +
      s"only-stream=${got.toSet -- want.toSet} " +
      s"only-batch=${want.toSet -- got.toSet}")

    // numeric d2q equality vs the batch column fold (raw, pre-rounding)
    val d2Got = spark.table("ann_assign")
      .select($"qid", $"d2q").as[(Long, Long)].collect().toMap
    val emb = Tables.embeddings(spark, sfDir)
    val cent = emb.where($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val d2Want = emb.crossJoin(broadcast(cent))
      .select($"vec_id", $"cid",
        aggregate(
          zip_with($"embedding", $"cvec", (a, c) => {
            val diff = a.cast("double") - c.cast("double")
            round(diff * diff * lit(1e9), 0).cast("long")
          }),
          lit(0L), (acc, t) => acc + t).as("d2q"))
      .groupBy($"vec_id").agg(min(struct($"d2q", $"cid")).as("b"))
      .select($"vec_id", $"b.d2q").as[(Long, Long)].collect().toMap
    assert(d2Got == d2Want, "stream d2q differs from the column fold")
  }

  test("stream d2q equals the Spark column fold above 2^53") {
    implicit val sqlCtx = spark.sqlContext
    // diff² · 1e9 = 9.000150000625e17: Spark rounds it HALF_UP and goes
    // back through double, which moves the integer by 2
    val v = Array(30000.25f)
    val want = Seq((v, Array(0f))).toDF("v", "c")
      .select(aggregate(zip_with($"v", $"c", (a, c) => {
          val diff = a.cast("double") - c.cast("double")
          round(diff * diff * lit(1e9), 0).cast("long")
        }), lit(0L), (acc, t) => acc + t))
      .as[Long].head()
    assert(want == 900015000062499968L)
    val source = MemoryStream[(Long, Array[Float])]
    val q = StreamAnnAssign.assign(source.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", Seq((0, Array(0f))))
      .writeStream.format("memory").queryName("ann_assign_2p53")
      .outputMode("append").start()
    try {
      source.addData((1L, v))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("ann_assign_2p53").select($"d2q").as[Long].collect()
      .toSeq == Seq(want))
  }

  test("probe candidates equal the batch within-cluster pair set with " +
      "exact vec_dot_q9 scores") {
    implicit val sqlCtx = spark.sqlContext
    val cents = centroids()
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")

    // static index = batch assignment of the full corpus
    val centDf = emb.where($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val index = emb.crossJoin(broadcast(centDf))
      .select($"vec_id", $"embedding", $"cid",
        aggregate(
          zip_with($"embedding", $"cvec", (a, c) => {
            val diff = a.cast("double") - c.cast("double")
            round(diff * diff * lit(1e9), 0).cast("long")
          }),
          lit(0L), (acc, t) => acc + t).as("d2q"))
      .groupBy($"vec_id")
      .agg(min(struct($"d2q", $"cid", $"embedding")).as("b"))
      .select($"b.cid".as("cluster"), $"vec_id", $"b.embedding".as("embedding"))
      .localCheckpoint()

    // stream a handful of queries (skip the centroid rows themselves)
    val queries = emb.where($"vec_id" >= 8 && $"vec_id" < 14)
      .as[(Long, Array[Float])].collect().toSeq
    val source = MemoryStream[(Long, Array[Float])]
    val q = StreamAnnAssign.probeCandidates(
      source.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, index)
      .writeStream.format("memory").queryName("ann_probe")
      .outputMode("append").start()
    try {
      source.addData(queries.take(2): _*)
      q.processAllAvailable()
      source.addData(queries.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ann_probe")
      .select($"qid", $"vec_id", $"dotq")
      .as[(Long, Long, Long)].collect().toSet

    // batch truth: each query joined to its own cluster's members
    val asg = index.select($"cluster", $"vec_id".as("qid"),
      $"embedding".as("qv"))
      .where($"qid".isin(queries.map(_._1): _*))
    val want = asg.join(index, "cluster")
      .select($"qid", $"vec_id",
        call_function("vec_dot_q9", $"qv", $"embedding").as("dotq"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      s"probe mismatch: only-stream=${got -- want} only-batch=${want -- got}")
    assert(got.nonEmpty, "probe must produce candidates")
  }
}
