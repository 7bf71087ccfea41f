package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("cosine: known values (orthogonal, identical, opposite)") {
    val df = Seq(
      (1L, Seq(1f, 0f), Seq(0f, 1f)),
      (2L, Seq(1f, 2f), Seq(1f, 2f)),
      (3L, Seq(1f, 0f), Seq(-1f, 0f)),
      (4L, Seq(3f, 4f), Seq(4f, 3f))).toDF("id", "a", "b")
    val out = df.select($"id", round(Similarity.cosine($"a", $"b"), 9).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == 1.0)
    assert(out(3L) == -1.0)
    assert(out(4L) == 0.96) // (12+12)/(5*5)
  }

  test("dot widens floats to double before multiplying") {
    // 0.1f * 0.1f in float then widened ≠ widened-then-multiplied;
    // the doubled path must match the double math exactly.
    val df = Seq((Seq(0.1f), Seq(0.1f))).toDF("a", "b")
    val got = df.select(Similarity.dot($"a", $"b")).collect().head.getDouble(0)
    assert(got == 0.1f.toDouble * 0.1f.toDouble)
  }

  test("hyperplanes are deterministic for a fixed seed") {
    assert(Similarity.hyperplanes(4, 8) == Similarity.hyperplanes(4, 8))
    assert(Similarity.hyperplanes(4, 8) != Similarity.hyperplanes(4, 8, seed = 43))
    assert(Similarity.hyperplanes(4, 8).flatten.forall(v => v >= -1 && v <= 1))
  }

  test("lshBucket: equal vectors share a bucket; buckets are stable") {
    val planes = Similarity.hyperplanes(4, 3)
    val df = Seq(
      (1L, Seq(1f, 2f, 3f)), (2L, Seq(1f, 2f, 3f)),
      (3L, Seq(2f, 4f, 6f)), // same direction → same signs → same bucket
      (4L, Seq(-1f, -2f, -3f))).toDF("id", "v")
    val out = df.select($"id", Similarity.lshBucket($"v", planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) == out(3L))
    assert(out(1L) != out(4L)) // opposite vector flips every sign bit
    assert(out.values.forall(b => b >= 0 && b < 16))
  }

  test("ivfTopK: with a well-separated quantizer, probes the right cluster and ranks the query first") {
    val rnd = new scala.util.Random(17)
    // three well-separated clusters around axis directions
    def around(axis: Int) = Seq.tabulate(8)(j =>
      (if (j == axis) 10f else 0f) + rnd.nextFloat() * 0.2f)
    val emb = (0 until 90).map { i =>
      (i.toLong, around(i % 3), i % 3) }.toDF("vec_id", "embedding", "cluster")
    val out = Similarity.ivfTopK(emb, "vec_id", "embedding", "cluster",
      queryId = 0, k = 5).collect()
    assert(out.length == 5)
    assert(out.head.getLong(0) == 0L)      // the query itself, cos 1
    assert(out.head.getDouble(2) == 1.0)
    assert(out.forall(_.getInt(1) == 0))   // only cluster 0 scanned
    // deterministic across runs
    val again = Similarity.ivfTopK(emb, "vec_id", "embedding", "cluster",
      queryId = 0, k = 5).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("ivfTopK nProbe: a boundary-straddling neighbor missed at nProbe=1 " +
      "is recovered at nProbe=2") {
    // cluster 0 along e1, cluster 1 along e2; the query leans toward e1
    // (assigned cluster 0) but its TRUE nearest neighbor sits in
    // cluster 1, angled toward the boundary
    val rows = Seq(
      (0L, Seq(1.0f, 0.3f, 0f, 0f), 0),   // query
      (1L, Seq(1.0f, -0.5f, 0f, 0f), 0),  // same-cluster, farther in angle
      (2L, Seq(0.9f, 0.5f, 0f, 0f), 1),   // boundary vector in cluster 1 — true NN
      (3L, Seq(0f, 1.0f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "cluster")
    def top1(nProbe: Int) =
      Similarity.ivfTopK(rows, "vec_id", "embedding", "cluster",
        queryId = 0, k = 2, nProbe = nProbe)
        .collect().map(r => r.getLong(0)).toSeq
    val single = top1(1)
    assert(!single.contains(2L), s"nProbe=1 must miss the other cluster: $single")
    val double = top1(2)
    assert(double.take(2).contains(2L),
      s"nProbe=2 must recover the boundary neighbor: $double")
  }

  test("multi-probe ANN recall@10 >= 0.9 vs exact top-k on sf0.1") {
    import graft.queries.SimilarityQueries
    val sf = "/root/testdata/sf0.1"
    val exact = SimilarityQueries.simCosineTopk.query(spark, sf)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val ann = SimilarityQueries.simAnnLsh.query(spark, sf)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    info(f"recall@10 = $recall%.2f (${(exact & ann).size}/${exact.size})")
    assert(recall >= 0.9, s"ANN recall@10 $recall < 0.9; exact=$exact ann=$ann")
  }

  test("probeBuckets: H<=1 neighborhood, distinct, contains the bucket itself") {
    val out = Seq(5L).toDF("b")
      .select(Similarity.probeBuckets($"b", 4).as("p"))
      .collect().head.getSeq[Long](0)
    assert(out.toSet == Set(5L, 4L, 7L, 1L, 13L)) // 0101 ^ {0,1,2,4,8}
    assert(out.size == 5)
  }

  test("planesFor: log-scaled plane count keeps expected bucket size bounded") {
    assert(Similarity.planesFor(500) == 3) // 8 buckets * ~64
    assert(Similarity.planesFor(2000) == 5)
    assert(Similarity.planesFor(1L << 30) == 24)
    assert(Similarity.planesFor(10) == 1) // never zero planes
  }

  test("statsRowCount reads parquet footers, matches count(), runs NO job") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sf = "/root/testdata/sf0.001"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def settled(): Int = { Thread.sleep(500); jobs.get() }
    try {
      // footer-metadata row count alone: ZERO jobs
      val n = graft.Tables.statsRowCount(spark, sf, "embeddings")
      assert(settled() == 0,
        s"statsRowCount launched ${jobs.get()} Spark job(s)")
      // a table open takes its schema from a footer read too: ZERO jobs
      graft.Tables.embeddings(spark, sf)
      assert(settled() == 0, s"opening embeddings launched ${jobs.get()} job(s)")
      // building the bucketed-pairs query (which sizes its plane count
      // from n) launches nothing either — the old formulation's
      // driver-side count() made it 2 reads + 1 action
      val df = graft.SparkEntry.catalog("sim_bucketed_pairs").query(spark, sf)
      assert(settled() == 0,
        s"query construction launched ${jobs.get()} job(s)")
      assert(df.columns.toSeq == Seq("id_a", "id_b", "cos_sim"))
      // listener sanity + footer-count correctness: a real action DOES
      // fire the listener, and the footer count equals the scan count
      assert(n == graft.Tables.embeddings(spark, sf).count())
      var waited = 0
      while (jobs.get() == 0 && waited < 5000) {
        Thread.sleep(50); waited += 50
      }
      assert(jobs.get() > 0, "listener never saw the count() " +
        "job — the zero-jobs assertions above would be vacuous")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ANN within query bucket contains the query itself at cosine 1") {
    val planes = Similarity.hyperplanes(4, 4)
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 50L).map(i => (i, Seq.fill(4)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("bucket", Similarity.lshBucket($"embedding", planes))
    val q = df.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), $"bucket".as("qb"))
    val top = df.join(broadcast(q), $"bucket" === $"qb")
      .select($"vec_id", Similarity.cosine($"embedding", $"qe").as("c"))
      .orderBy($"c".desc).collect()
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-12)
  }
}
