package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ext.TextOps

/** A doc's fingerprint in one SimHash band bucket, on the stream. */
case class BandedDoc(band: Int, bval: Long, doc_id: Long, fp: Long)

/** [[BandedDoc]] plus event time, for the TTL-evicting variant. */
case class BandedDocTs(band: Int, bval: Long, doc_id: Long, fp: Long,
    ts: java.sql.Timestamp)

/** A confirmed streaming near-dup: `id_b` arrived while `id_a` (an
  * earlier doc within Hamming <= maxHamming) was still in state. */
case class NearDupHit(id_a: Long, id_b: Long, band: Int, hamming: Int)

/** A vector on the stream, already assigned to its nearest centroid,
  * with its nano-quantized self-dot (norm²) riding along. */
case class ClusteredVec(cluster: Int, vec_id: Long, v: Array[Float],
    nq: Long)

/** A confirmed streaming SEMANTIC near-dup: the two vectors share a
  * centroid cluster and their exact-integer cosine test cleared the
  * threshold. `(id_a, id_b)` is orientation-normalized (`id_a` <
  * `id_b`), so `id_b` is the vector batch SemDeDup would prune. */
case class SemDupHit(id_a: Long, id_b: Long, cluster: Int)

/** Streaming exact dedup — the streaming face of `ext/Dedup.exact`:
  * suppress re-occurrences of identical content as the corpus streams
  * in, instead of a batch groupBy after the fact.
  *
  * State discipline at scale: the dedup key is the sha-256 content
  * digest (32 bytes/row in the state store, never the document), and
  * `dropDuplicatesWithinWatermark` lets the state store EVICT digests
  * once the watermark passes — bounded state, which plain
  * `dropDuplicates` (grow-forever state) cannot promise on an
  * unbounded stream. Semantics: within any watermark window a content
  * value is emitted exactly once; a re-occurrence after eviction
  * re-emits, which downstream exact dedup (batch, cheap on the
  * already-thinned stream) absorbs.
  */
object StreamDedup {

  /** @param tsCol   event-time column (watermark anchor)
    * @param contentCol column whose bytes define row identity
    * @param delay   watermark delay, e.g. "10 minutes" — also the
    *                guaranteed dedup horizon */
  def dedupByContent(df: DataFrame, tsCol: String, contentCol: String,
      delay: String): DataFrame =
    df.withColumn("content_sha", sha2(col(contentCol).cast("binary"), 256))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_sha")

  /** Streaming CONTAMINATION flagging — the streaming face of
    * `ext/Dedup.ngramOverlapCounts`: as the corpus streams in, emit each
    * document that shares any token `n`-gram with the (static, small)
    * eval/benchmark set, so contaminated docs are dropped during
    * ingestion instead of by a later batch sweep.
    *
    * Scale shape, unchanged from batch: the eval side's distinct grams
    * are BROADCAST into every micro-batch (stream-static join — no
    * stream state for the join itself); a doc's exploded grams survive
    * only on a hit, and `dropDuplicatesWithinWatermark` collapses
    * multi-gram hits to one flag row per doc with WATERMARK-BOUNDED
    * state (the id, not the document). A doc re-arriving after its
    * horizon re-flags — idempotent for the downstream exclusion join.
    *
    * @param delay watermark delay on `tsCol`, also the per-doc dedup
    *              horizon */
  def contaminatedByNgrams(df: DataFrame, evalDocs: DataFrame,
      tsCol: String, idCol: String, textCol: String,
      n: Int = 13, delay: String = "10 minutes"): DataFrame = {
    val evalGrams = evalDocs
      .where(col(textCol).isNotNull)
      .select(explode(graft.ext.Dedup.tokenNgrams(col(textCol), n))
        .as("gram"))
      .distinct()
    df.where(col(textCol).isNotNull)
      .withWatermark(tsCol, delay)
      .select(col(tsCol), col(idCol),
        explode(graft.ext.Dedup.tokenNgrams(col(textCol), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .select(col(tsCol), col(idCol))
      .dropDuplicatesWithinWatermark(idCol)
  }

  /** Streaming NEAR-dup detection — the streaming face of
    * `ext/Dedup.simhashNearDupPairs`, same Manku multi-index geometry:
    * each doc's 63-bit single-pass SimHash splits into 4 16-bit bands;
    * a pair within Hamming <= maxHamming (< 4) agrees exactly on >= 1
    * band (pigeonhole), so state partitions by (band, band_value) and a
    * new doc only ever compares against its own bucket — never the
    * stream history. Both fingerprints are in hand at the bucket (8
    * bytes each beside the id — the state carries sketches, never
    * documents), so the band hit is CONFIRMED with `bit_count` before
    * it is emitted: the output is (id_a, id_b, band, hamming) near-dup
    * pairs, not raw candidates.
    *
    * A pair sharing several bands emits once per shared band
    * (exactly like the batch band join pre-`distinct`) — downstream
    * dedups on (id_a, id_b), batch-cheap on the thinned pair stream.
    * State per bucket is a FIFO of the last `stateDocsPerBand`
    * (id, fp) entries: bounded state on an unbounded stream, with the
    * honest recall trade every eviction policy has (a near-dup of an
    * evicted doc is missed — size the cap to the bucket's expected
    * dwell time, or add an event-time timeout for calendar eviction).
    */
  def nearDupBySimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, stateDocsPerBand: Int = 64): Dataset[NearDupHit] = {
    require(maxHamming < 4,
      s"maxHamming=$maxHamming breaks the 4-band pigeonhole guarantee")
    val spark = df.sparkSession
    import spark.implicits._
    val banded = df
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        call_function("simhash63", TextOps.tokens(col(textCol))).as("fp"))
      .select(explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bval"),
          col("doc_id"), col("fp"))): _*)).as("bd"))
      .select($"bd.band", $"bd.bval", $"bd.doc_id", $"bd.fp")
      .as[BandedDoc]
    banded
      .groupByKey(bd => (bd.band, bd.bval))
      .flatMapGroupsWithState[List[(Long, Long)], NearDupHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), rows, state: GroupState[List[(Long, Long)]]) =>
          var seen = state.getOption.getOrElse(Nil) // newest first
          val hits = List.newBuilder[NearDupHit]
          // arrival order within a batch is nondeterministic; doc_id
          // order makes the emitted (a, b) orientation deterministic
          for (r <- rows.toSeq.sortBy(_.doc_id)) {
            for ((sid, sfp) <- seen if sid != r.doc_id) {
              val h = java.lang.Long.bitCount(sfp ^ r.fp)
              if (h <= maxHamming)
                hits += NearDupHit(math.min(sid, r.doc_id),
                  math.max(sid, r.doc_id), band, h)
            }
            // a re-delivered doc_id replaces its old entry, so state
            // stays one entry per doc instead of shrinking FIFO capacity
            // and causing peers to emit duplicate pairs. The re-delivery
            // itself still re-compares against the bucket and re-emits
            // its (already-seen) pairs once per arrival — absorbed by
            // the same downstream (id_a, id_b) dedup as multi-band hits.
            seen = ((r.doc_id, r.fp) :: seen.filterNot(_._1 == r.doc_id))
              .take(stateDocsPerBand)
          }
          state.update(seen)
          hits.result().iterator
      }
  }

  /** Streaming SEMANTIC dedup — the embedding-space face of
    * [[nearDupBySimhash]] and the streaming face of the batch
    * `dedup_semantic_embed` entry (SemDeDup shape, arXiv:2303.09540):
    * as vectors stream in, emit every within-cluster pair whose exact
    * cosine clears the threshold, so paraphrase-level duplicates are
    * caught during ingestion instead of by a later batch sweep.
    *
    * Same state geometry as the SimHash variant with the centroid
    * CLUSTER as the band: each arriving vector is assigned row-local
    * to its nearest centroid (broadcast-small, passed as a plain Seq —
    * the k·dim floats every executor would get as a broadcast in the
    * batch plan), state partitions by cluster id, and a new vector
    * only ever compares against its own cluster's bucket — never the
    * stream history. That is exactly the batch plan's within-cluster
    * equi-join, unrolled over time.
    *
    * Cross-surface determinism — stream output must equal the batch
    * entry's pairs BIT-FOR-BIT, so every float touchpoint mirrors the
    * batch/oracle algebra exactly:
    *   - assignment distance: Σ round_half_up((aᵢ-cᵢ)²·1e9) as BIGINT
    *     (Spark SQL `round(x, 0)`: `DriverMath.roundHalfUp` via
    *     nearestCentroid, argmin tie-broken on centroid id);
    *   - dot/norm sums: Σ rint(aᵢ·bᵢ·1e9) as BIGINT — `Math.rint` is
    *     HALF_EVEN, the [[graft.functions.VecDotQ9]] kernel's exact
    *     per-element rule;
    *   - threshold: cos > pct/100 decided as
    *     `dotq > 0 ∧ 10000·dotq² > pct²·naq·nbq` in BigInt — the
    *     batch entry's DECIMAL(38,0) square-elimination, no IEEE
    *     boundary can flip membership.
    *
    * State per cluster is a FIFO of the last `stateDocsPerCluster`
    * (id, vector, nq) entries — the vector itself must ride in state
    * (an exact dot needs it; a sketch would re-introduce the false
    * negatives SemDeDup exists to avoid), so the cap is the knob that
    * trades recall horizon against store size (dim·4 bytes/entry).
    * Re-delivered ids replace their old entry (no self-pairs, no
    * capacity loss), and — exactly like the SimHash variant — a
    * re-delivery arriving AFTER a peer is in state re-compares
    * against the bucket and re-emits its (already-seen) pairs once
    * per arrival, absorbed by the same downstream (id_a, id_b)
    * dedup the batch-equivalence spec applies.
    *
    * @param centroids (cluster id, centroid vector) — static,
    *                  driver-small (k rows), e.g. the batch entry's
    *                  deterministic seed centroids
    * @param thresholdPct cosine threshold in percent (40 = the batch
    *                  entry's 0.4)
    */
  def semanticNearDup(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Int, Array[Float])], thresholdPct: Int = 40,
      stateDocsPerCluster: Int = 4096): Dataset[SemDupHit] = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(thresholdPct > 0 && thresholdPct < 100,
      s"thresholdPct must be in (0, 100): $thresholdPct")
    val spark = df.sparkSession
    import spark.implicits._
    // ordered once so the argmin tie-break (d2q, cid) is stable
    val cents = centroids.sortBy(_._1).toArray
    def rintQ(a: Float, b: Float): Long =
      java.lang.Math.rint(a.toDouble * b.toDouble * 1e9).toLong
    val assigned = df
      .where(col(idCol).isNotNull && col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        // shared assign arithmetic (r18): the argmin lives in
        // StreamAnnAssign.nearestCentroid so the dedup and retrieval
        // faces of the same index can never drift apart
        val (bestCid, _) = StreamAnnAssign.nearestCentroid(v, cents)
        var nq = 0L
        var i = 0
        while (i < v.length) { nq += rintQ(v(i), v(i)); i += 1 }
        ClusteredVec(bestCid, id, v, nq)
      }
    val t2 = BigInt(thresholdPct) * thresholdPct
    assigned
      .groupByKey(_.cluster)
      .flatMapGroupsWithState[List[(Long, Array[Float], Long)], SemDupHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (cluster, rows,
            state: GroupState[List[(Long, Array[Float], Long)]]) =>
          var seen = state.getOption.getOrElse(Nil) // newest first
          val hits = List.newBuilder[SemDupHit]
          for (r <- rows.toSeq.sortBy(_.vec_id)) {
            for ((sid, sv, snq) <- seen if sid != r.vec_id) {
              val n = math.min(r.v.length, sv.length)
              var dotq = 0L
              var i = 0
              while (i < n) { dotq += rintQ(r.v(i), sv(i)); i += 1 }
              if (dotq > 0 &&
                  BigInt(10000) * dotq * dotq >
                    t2 * BigInt(snq) * BigInt(r.nq))
                hits += SemDupHit(math.min(sid, r.vec_id),
                  math.max(sid, r.vec_id), cluster)
            }
            seen = ((r.vec_id, r.v, r.nq) :: seen.filterNot(_._1 == r.vec_id))
              .take(stateDocsPerCluster)
          }
          state.update(seen)
          hits.result().iterator
      }
  }

  /** [[nearDupBySimhash]] with CALENDAR eviction — the event-time
    * timeout the capacity-only variant's docstring promises: state
    * entries older than `ttl` behind the WATERMARK are dropped at the
    * bucket's next arrival, and a bucket idle past its newest entry's
    * ttl is removed whole by the event-time timeout (no tombstone
    * accumulation from buckets that stop receiving). The recall
    * contract becomes a TIME guarantee instead of a count guarantee:
    * two near-dups whose event times are within `ttl` (and inside the
    * watermark's lag discipline) always pair, no matter how many
    * unrelated docs landed in the bucket between them — while at-scale
    * state is bounded by arrival rate × ttl, not by stream lifetime.
    * The FIFO cap stays as a backstop against a single hot bucket.
    *
    * The caller must NOT pre-apply `withWatermark` — it is applied here
    * on `tsCol` with `delay`, because `EventTimeTimeout` requires the
    * watermark and the eviction rule is defined against it.
    *
    * @param ttlMs eviction horizon in EVENT-TIME milliseconds
    * @param delay watermark delay, e.g. "10 seconds" — late data beyond
    *              this is dropped before the bucket sees it */
  def nearDupBySimhashTtl(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, ttlMs: Long, delay: String,
      maxHamming: Int = 3,
      stateDocsPerBand: Int = 1024): Dataset[NearDupHit] = {
    require(maxHamming < 4,
      s"maxHamming=$maxHamming breaks the 4-band pigeonhole guarantee")
    require(ttlMs > 0, s"ttlMs must be positive: $ttlMs")
    val spark = df.sparkSession
    import spark.implicits._
    // ts stays a TOP-LEVEL column through the fan-out: the event-time
    // watermark tag lives in the attribute's metadata, and a field
    // re-extracted from a struct is a fresh attribute without it
    val banded = df
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(tsCol).cast("timestamp").as("ts"),
        call_function("simhash63", TextOps.tokens(col(textCol))).as("fp"))
      .withWatermark("ts", delay)
      .select($"ts", explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bval"),
          col("doc_id"), col("fp"))): _*)).as("bd"))
      .select($"bd.band", $"bd.bval", $"bd.doc_id", $"bd.fp", $"ts")
      .as[BandedDocTs]
    banded
      .groupByKey(bd => (bd.band, bd.bval))
      .flatMapGroupsWithState[List[(Long, Long, Long)], NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state: GroupState[List[(Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            // idle bucket: every entry is past its ttl by construction
            // of the timeout timestamp — drop the whole bucket
            state.remove()
            Iterator.empty
          } else {
            val wmMs = state.getCurrentWatermarkMs()
            // calendar eviction first: entries whose event time is more
            // than ttl behind the watermark can no longer pair with any
            // in-horizon arrival — drop before comparing
            var seen = state.getOption.getOrElse(Nil) // newest first
              .filter(_._3 >= wmMs - ttlMs)
            val hits = List.newBuilder[NearDupHit]
            for (r <- rows.toSeq.sortBy(_.doc_id)) {
              val tsMs = r.ts.getTime
              for ((sid, sfp, _) <- seen if sid != r.doc_id) {
                val h = java.lang.Long.bitCount(sfp ^ r.fp)
                if (h <= maxHamming)
                  hits += NearDupHit(math.min(sid, r.doc_id),
                    math.max(sid, r.doc_id), band, h)
              }
              seen = ((r.doc_id, r.fp, tsMs) ::
                seen.filterNot(_._1 == r.doc_id)).take(stateDocsPerBand)
            }
            state.update(seen)
            // the bucket as a whole expires when its NEWEST entry falls
            // ttl behind the watermark; the timestamp must sit strictly
            // ahead of the current watermark or the runtime rejects it
            val newestMs = seen.map(_._3).max
            state.setTimeoutTimestamp(math.max(newestMs + ttlMs, wmMs + 1))
            hits.result().iterator
          }
      }
  }

  /** Streaming INCREMENTAL dedup — the streaming face of the batch
    * `dedup_incremental_ref` entry: as a new-crawl batch streams in,
    * emit a HIT row for every arriving document that matches the
    * static reference corpus, exactly (content digest, `layer =
    * 'exact'`) or nearly (rare-n-gram-blocked candidate confirmed by
    * exact n-gram Jaccard ≥ the ppm threshold, `layer = 'near'`). The
    * hit feed is the append-natural form of the batch census: a doc
    * with an 'exact' hit is the batch's `exact_dup`, a doc with only
    * 'near' hits its `near_dup`, and a doc with no hit after the
    * watermark closes is `kept` — precedence is the consumer's
    * one-line fold, so no streaming aggregate state is needed.
    *
    * Two deliberate deltas from the batch entry, both documented
    * consequences of stream-time knowledge: (1) the gram df-cap is
    * computed over the REFERENCE side only (the stream's own gram
    * frequencies are unknowable at arrival time; a ref-hot gram is
    * still capped, which is what bounds the join fanout); (2) a pair
    * sharing several rare grams is collapsed BEFORE the Jaccard
    * confirm by `dropDuplicatesWithinWatermark(doc_id, ref_id, dg)` —
    * keyed on the content digest too, so a failed confirm pins only
    * that (pair, text) combination: a re-arrival with CHANGED text
    * that would now pass re-enters the confirm instead of being
    * silently suppressed by the earlier failure. Confirmed hits then
    * pass a second `dropDuplicatesWithinWatermark(doc_id, ref_id)` —
    * watermark-bounded id-pair state, the same discipline as
    * [[contaminatedByNgrams]] — so re-arrivals inside the horizon
    * don't re-confirm the same pair.
    *
    * Scale shape: digests and the df-capped gram index are static-side
    * tables broadcast into each micro-batch (at 100 TB the ref gram
    * index is disk-backed and the join flips to shuffle — the plan,
    * not the semantics, changes); the confirm joins the candidate's
    * ref gram set by id and intersects row-local. State is id pairs
    * only — never text, never gram sets. */
  def incrementalHitsAgainstRef(df: DataFrame, refDocs: DataFrame,
      tsCol: String, idCol: String, textCol: String,
      n: Int = 5, maxDf: Int = 25, jacPpmThreshold: Long = 300000,
      delay: String = "10 minutes"): DataFrame = {
    val refClean = refDocs.where(col(textCol).isNotNull)
    val refDigests = refClean
      .groupBy(md5(col(textCol)).as("dg"))
      .agg(min(col(idCol).cast("long")).as("ref_id"))
    val refGs = refClean.select(col(idCol).cast("long").as("ref_id"),
      graft.ext.Dedup.tokenNgrams(col(textCol), n).as("ref_gs"))
    val rareRef = refGs
      .select(explode(col("ref_gs")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .where(col("df").between(1, maxDf))
      .select(col("gram"))
    val refIndex = refGs
      .select(col("ref_id"), explode(col("ref_gs")).as("gram"))
      .join(rareRef, Seq("gram"), "left_semi")
    val stream = df.where(col(textCol).isNotNull)
      .withWatermark(tsCol, delay)
      .select(col(tsCol), col(idCol).cast("long").as("doc_id"),
        md5(col(textCol)).as("dg"),
        graft.ext.Dedup.tokenNgrams(col(textCol), n).as("gs"))
    val exactHits = stream
      .join(broadcast(refDigests), Seq("dg"))
      .select(col(tsCol), col("doc_id"), col("ref_id"))
      // same exactly-once-per-pair discipline as the near layer: an
      // in-horizon re-arrival must not re-emit the digest hit either
      .dropDuplicatesWithinWatermark("doc_id", "ref_id")
      .select(col(tsCol), col("doc_id"), col("ref_id"),
        lit("exact").as("layer"), lit(1000000L).as("jac_ppm"))
    val nearHits = stream
      .select(col(tsCol), col("doc_id"), col("dg"), col("gs"),
        explode(col("gs")).as("gram"))
      .join(broadcast(refIndex), Seq("gram"))
      // per-gram fanout collapse, keyed on (pair, content digest): the
      // digest in the key is what keeps a FAILED confirm from pinning
      // the pair — same-id re-arrivals with new text get a fresh
      // confirm; identical re-arrivals still collapse to one row
      .dropDuplicatesWithinWatermark("doc_id", "ref_id", "dg")
      .join(refGs, Seq("ref_id"))
      .select(col(tsCol), col("doc_id"), col("ref_id"),
        size(array_intersect(col("gs"), col("ref_gs")))
          .cast("bigint").as("ni"),
        size(col("gs")).cast("bigint").as("na"),
        size(col("ref_gs")).cast("bigint").as("nb"))
      .select(col(tsCol), col("doc_id"), col("ref_id"),
        expr("(1000000L * ni) div (na + nb - ni)").as("jac_ppm"))
      .where(col("jac_ppm") >= jacPpmThreshold)
      // exactly-once per CONFIRMED pair within the horizon: this state
      // store holds only pairs that passed the threshold, so it cannot
      // suppress a later passing confirm the way a pre-threshold
      // pair-keyed dedup did
      .dropDuplicatesWithinWatermark("doc_id", "ref_id")
      .select(col(tsCol), col("doc_id"), col("ref_id"),
        lit("near").as("layer"), col("jac_ppm"))
    exactHits.unionByName(nearHits)
  }
}
