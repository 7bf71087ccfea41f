package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.queries.DriverMath

/** Nearest-centroid assignment of one streamed query vector. */
case class AnnAssigned(qid: Long, cluster: Int, d2q: Long)

/** Assignment carrying the query vector on to the probe join. */
case class AnnAssignedVec(qid: Long, cluster: Int, d2q: Long,
    v: Array[Float])

/** STREAMING ANN ASSIGN + PROBE — the streaming face of the IVF index
  * (`sim_ivf_topk` / `embed_kmeans_assign`, reference query surface
  * re-expressed for continuous arrivals): query vectors arrive on a
  * stream; each is assigned to its nearest centroid ROW-LOCALLY (the
  * centroid array is driver-small and rides the closure — no state
  * store, no shuffle of the stream) and is then confirmed WITHIN its
  * probed cluster against a STATIC pre-indexed corpus via a
  * stream-static equi-join on the cluster id. Entirely STATELESS
  * (mapGroupsWithState-free): retrieval needs no cross-batch memory —
  * the index IS the state, and it lives in the static table, which
  * Spark re-binds every micro-batch (an index refreshed in place is
  * picked up without restarting the query, the [[StreamEnrich]]
  * contract).
  *
  * Assignment arithmetic is EXACTLY the batch `embed_kmeans_assign`
  * entry's: per-dimension round(diff²·1e9) HALF_UP quantization summed
  * to an integer d2q, argmin with ties to the lowest cid — shared with
  * [[StreamDedup.semanticNearDup]] through [[nearestCentroid]], so the
  * dedup and retrieval faces cannot drift apart. StreamAnnAssignSpec
  * proves stream assignments equal the batch entry's over shuffled
  * multi-batch arrivals, and probe candidates equal the batch
  * within-cluster pair set.
  *
  * Scale shape: assign is a stateless map (one centroid-array scan per
  * query — k·dim multiply-adds, no exchange); the probe joins the
  * micro-batch's few assigned queries against an index PARTITIONED BY
  * CLUSTER, so with the corpus bucketed/partitioned on `cluster` the
  * static side prunes to the probed clusters only (partition pruning
  * on the join key — never a corpus scan per batch), and the exact
  * integer dot is the codegen'd `vec_dot_q9` kernel. nprobe > 1 =
  * assign to the p nearest centroids (same map, p rows out); the
  * within-cluster confirm is unchanged.
  */
object StreamAnnAssign {

  /** Deterministic integer nearest-centroid: per-dim Spark
    * round(diff²·1e9) ([[DriverMath.roundHalfUp]]) summed, argmin over the (cid-sorted) centroid
    * array, ties to the lowest cid — value-identical to the batch
    * `embed_kmeans_assign` column fold (`zip_with` + `round` +
    * `aggregate`, min(struct(d2q, cid))). Single source of truth for
    * [[assign]] and [[StreamDedup.semanticNearDup]]. */
  private[streaming] def nearestCentroid(v: Array[Float],
      cents: Array[(Int, Array[Float])]): (Int, Long) = {
    var bestCid = cents(0)._1
    var bestD2 = Long.MaxValue
    for ((cid, cv) <- cents) {
      val n = math.min(v.length, cv.length)
      var d2 = 0L
      var i = 0
      while (i < n) {
        val diff = v(i).toDouble - cv(i).toDouble
        d2 += DriverMath.roundHalfUp(diff * diff * 1e9)
        i += 1
      }
      if (d2 < bestD2) { bestD2 = d2; bestCid = cid } // ties: lowest cid
    }
    (bestCid, bestD2)
  }

  private def assignVec(stream: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Int, Array[Float])]): Dataset[AnnAssignedVec] = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val spark = stream.sparkSession
    import spark.implicits._
    val cents = centroids.sortBy(_._1).toArray // stable (d2q, cid) ties
    stream.where(col(idCol).isNotNull && col(embCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (cid, d2) = nearestCentroid(v, cents)
        AnnAssignedVec(id, cid, d2, v)
      }
  }

  /** Row-local nearest-centroid assignment of the streamed queries —
    * stream in, (qid, cluster, d2q) out, no state, no shuffle. */
  def assign(stream: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Int, Array[Float])]): Dataset[AnnAssigned] = {
    val spark = stream.sparkSession
    import spark.implicits._
    assignVec(stream, idCol, embCol, centroids)
      .map(a => AnnAssigned(a.qid, a.cluster, a.d2q))
  }

  /** Assign + within-cluster confirm: every (query, corpus vector)
    * candidate in the probed cluster with its exact integer
    * `vec_dot_q9` score — the nprobe = 1 IVF probe as a stateless
    * stream-static join. Top-k / threshold selection composes on top
    * per the caller's output mode (a `foreachBatch` ranks each batch
    * with the batch `sim_ivf_topk` machinery).
    *
    * @param index static (cluster, vec_id, embedding) corpus — the
    *              batch assign's output, partitioned by cluster at
    *              production scale so the join prunes
    */
  def probeCandidates(stream: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Int, Array[Float])], index: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    assignVec(stream, idCol, embCol, centroids)
      .toDF()
      .join(index.select(col("cluster"), col("vec_id"),
        col("embedding").as("cv")), Seq("cluster"))
      .select($"qid", $"cluster", $"vec_id",
        call_function("vec_dot_q9", $"v", $"cv").as("dotq"))
  }
}
