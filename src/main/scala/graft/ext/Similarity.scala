package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity over `array<float>` embedding columns: exact cosine
  * via built-in higher-order functions (zip_with + aggregate fold — no
  * UDF, stays codegen-friendly), and a random-hyperplane LSH bucketing
  * for the approximate-nearest-neighbor scale path.
  *
  * 100 TB design: brute-force cosine against one query is a single
  * narrow pass (fine — that's the per-query baseline). All-pairs work
  * must never be all-pairs: [[lshBucket]] gives each vector a small
  * bucket id, candidates come from an equi-join on the bucket (shuffle
  * on bucket id, AQE-skew-safe), and exact cosine runs only within
  * buckets. Recall tunes with the number of hyperplanes/tables.
  */
object Similarity {

  /** Dot product in double precision (floats widened before multiply —
    * float32 rounding would diverge from any double-math oracle).
    * Higher-order-function formulation: interpreted lambda eval, kept
    * as the portable reference implementation. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Codegen'd native path (graft.functions.VecDotProduct) — bit-exact
    * with [[dot]], proven in VecDotProductSpec. `vec_dot` resolves on
    * sessions that graft.functions.GraftFunctions registered (every
    * catalog entry's does). */
  def dotNative(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  def cosineNative(a: Column, b: Column): Column =
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))

  /** Deterministic pseudo-random hyperplanes (SplitMix64 stream — fixed
    * constants from the public algorithm; no runtime randomness, so
    * plans are reproducible across runs and engines). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      // map to (-1, 1)
      z.toDouble / Long.MaxValue.toDouble
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** Sign-bit bucket id: bit i set iff dot(v, plane_i) >= 0. Uses the
    * native codegen'd dot — this is the one pass that touches the whole
    * corpus, so it must not run interpreted lambdas per element.
    * Planes quantize to float to match the embedding element type
    * (sign decisions stay deterministic). */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(v => lit(v.toFloat)): _*)
      when(dotNative(vec, planeCol) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Multi-probe expansion for [[lshBucket]]: the bucket itself plus
    * every bucket at Hamming distance 1 (each plane bit flipped). A
    * near neighbor that lands just across one hyperplane — the dominant
    * LSH miss mode — is recovered by probing the adjacent bucket, which
    * multiplies recall without extra tables: with p planes, probes
    * p+1 of 2^p buckets. Explode + equi-join on the probe id keeps the
    * candidate search a bucket-key join (never a corpus scan). */
  def probeBuckets(bucket: Column, nPlanes: Int): Column =
    array((bucket +: (0 until nPlanes).map(i =>
      bucket.bitwiseXOR(lit(1L << i)))): _*)

  /** OR-amplification: `nTables` independent hyperplane tables (one
    * seed each) as an array of (tbl, bucket) structs — explode to get
    * the standard multi-table LSH layout, join candidates on
    * (tbl, bucket). A neighbor is found if ANY table co-buckets it:
    * per-table miss probability multiplies, so recall amplifies
    * exponentially in the table count while each probe stays a bucket
    * equi-join. */
  def lshTables(vec: Column, nTables: Int, nPlanes: Int, dim: Int,
      seed: Long = 42L): Column =
    array((0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(vec, hyperplanes(nPlanes, dim, seed + t)).as("bucket"))
    }: _*)

  /** Plane count for a corpus of `n` vectors targeting `targetBucket`
    * expected vectors per bucket — keeps within-bucket all-pairs work
    * bounded (n²/2^p) as the corpus grows instead of going quadratic
    * at a fixed p. */
  def planesFor(n: Long, targetBucket: Int = 64): Int =
    math.max(1, math.ceil(
      math.log(math.max(n, 1).toDouble / targetBucket) / math.log(2)).toInt)

  /** IVF-style ANN: per-cluster element-wise mean centroids (one agg
    * pass over posexploded vectors), probe the query's `nProbe` nearest
    * centroids by cosine, exact-search only those clusters. The cluster
    * assignment comes from `clusterCol` (a coarse quantizer's output).
    * At 100 TB the centroid table is a broadcast dim and each query
    * reads `nProbe` clusters' partitions. Recall depends on the
    * quantizer's geometry; raising `nProbe` trades linearly more
    * cluster reads for recall on boundary-straddling queries — the
    * standard IVF knob. See SimilaritySpec (well-clustered case +
    * nProbe monotonicity). */
  def ivfTopK(emb: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, clusterCol: String, queryId: Long,
      k: Int, nProbe: Int = 1): org.apache.spark.sql.DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val centroids = emb
      .select(col(clusterCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(clusterCol), col("pos")).agg(avg(col("v")).as("m"))
      .groupBy(col(clusterCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(clusterCol).as("c_cluster"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("centroid"))
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("qe"))
    val nearest = centroids.crossJoin(broadcast(q))
      .select(col("c_cluster"), col("qe"),
        cosineNative(col("centroid"), col("qe")).as("c_sim"))
      .orderBy(col("c_sim").desc, col("c_cluster").asc)
      .limit(nProbe)
    emb.join(broadcast(nearest), col(clusterCol) === col("c_cluster"))
      .select(col(idCol), col(clusterCol),
        round(cosineNative(col(vecCol), col("qe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }
}
