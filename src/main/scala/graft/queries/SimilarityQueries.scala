package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Similarity

/** Similarity search over the `embeddings` table (array<float>, dim 64).
  *
  * `sim_cosine_topk` is the exact baseline: one narrow pass, top-k via
  * TakeOrderedAndProject. `sim_ann_lsh` is the scale path: candidates
  * from a random-hyperplane bucket equi-match, exact cosine only within
  * the bucket — at 100 TB the bucket id is the shuffle/join key and
  * brute force never touches the full corpus.
  */
object SimilarityQueries {

  /** Row-local centroid ASSIGN (r22, guide §2.4 remove shuffles),
    * shared by the kmeans/outlier/SemDeDup family: the k reference
    * centroids fold into ONE broadcast array row and the per-vector
    * argmin is `array_min` over in-row (d2q, cid) structs. The r21
    * shape — explode k candidate rows per vector, re-group with
    * min(struct(d2q, cid, ...)) — paid a corpus-wide exchange whose
    * struct-min plans as a SortAggregate and whose byte-small stream
    * AQE coalesced onto ONE core (measured: ~0.9 s single-task stages
    * inside the composite dedup entries). Same nano-quantized
    * integers, same (d2q, cid) tie-break — identical winners; zero
    * exchange, zero sort, and the assign rides the spread scan's
    * parallelism at any corpus size (the broadcast is k rows). The
    * centroids are the k = 8 deterministic seeds: the eight lowest
    * vec_ids, standing in for a production run's kmeans++ seeding.
    * Output: (vec_id, embedding, b{d2q, cid}). */
  private[queries] def centroidAssign(emb: DataFrame): DataFrame = {
    val centArr = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec")))).as("cs"))
    emb.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"),
        array_min(transform(col("cs"), c =>
          struct(
            DriverMath.l2Nano(col("embedding"), c.getField("cvec")).as("d2q"),
            c.getField("cid").as("cid")))).as("b"))
  }

  /** SemDeDup's within-cluster pairs over the [[centroidAssign]]
    * clusters: every pair keep_id < prune_id sharing cluster `cid`,
    * with the nano-quantized dot `dotq` and squared norms `naq`/`nbq`
    * from the native [[graft.functions.VecDotQ9]] kernel. The keep side
    * is broadcast (r22): the cluster key has only 8 distinct values, so
    * a shuffled pair join caps at 8-way parallelism and AQE's
    * byte-based coalescing then folded the whole within-cluster dot
    * computation onto ONE core (measured: two ~0.6 s single-task
    * stages). With the build side broadcast there is no exchange at all
    * and the dots run at the spread scan's parallelism; at 100 TB the
    * within-cluster pairing is salted/blocked upstream long before a
    * broadcast would overflow. Output: (prune_id, cid, naq, nbq, dotq). */
  private[queries] def clusterPairDots(emb: DataFrame): DataFrame = {
    val n = centroidAssign(emb)
      .select(col("vec_id"), col("b.cid").as("cid"), col("embedding").as("v"))
      .withColumn("nq", expr("vec_dot_q9(v, v)"))
    val x = n.select(col("vec_id").as("keep_id"), col("cid"),
      col("v").as("xv"), col("nq").as("naq"))
    val y = n.select(col("vec_id").as("prune_id"), col("cid").as("ycid"),
      col("v").as("yv"), col("nq").as("nbq"))
    broadcast(x).join(y, col("cid") === col("ycid") && col("keep_id") < col("prune_id"))
      .select(col("prune_id"), col("cid"), col("naq"), col("nbq"),
        expr("vec_dot_q9(xv, yv)").as("dotq"))
  }

  /** The exact cosine test of a [[clusterPairDots]] row, `cos > √(c/100)`
    * cleared of floats by squaring: `dotq > 0 AND 100·dotq² > c·naq·nbq`,
    * the squares widened to DECIMAL(38,0). */
  private[queries] def cosAbove(c: Int): Column =
    col("dotq") > 0 && lit(100).cast("decimal(38,0)") * col("dotq") * col("dotq") >
      lit(c).cast("decimal(38,0)") * col("naq") * col("nbq")

  /** Exact cosine top-10 against the vec_id=0 query vector. All math in
    * double (floats widened) so the DuckDB list-algebra oracle matches
    * bit-for-bit after rounding. */
  val simCosineTopk: CatalogEntry = CatalogEntry(
    "sim_cosine_topk",
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, round(
      |  list_sum([embedding[i]::DOUBLE * qe[i]::DOUBLE
      |            for i in range(1, len(embedding) + 1)]) /
      |  (sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
      |                  for i in range(1, len(embedding) + 1)])) *
      |   sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
      |                  for i in range(1, len(qe) + 1)]))), 6) AS cos_sim
      |FROM embeddings, q
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
    emb.crossJoin(broadcast(q))
      .select($"vec_id",
        round(Similarity.cosineNative($"embedding", $"qe"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(10)
  }

  /** HARD-NEGATIVE MINING for contrastive training — for each query
    * vector, the top-3 highest-cosine vectors carrying a DIFFERENT
    * label: the near-miss impostors that make the strongest negatives
    * when training embedding models (random negatives are trivially
    * separable; the hard ones sit next to the query). Ranks on the
    * ROUNDED cosine with a vec_id tie-break (the `retrieval_hybrid_
    * rrf` discipline — a cross-engine ulp cannot flip a rank).
    *
    * Scale shape: queries broadcast, cosine row-local in one corpus
    * pass, and the per-query top-k is TWO-PHASE — a salted
    * `(q, neg_id % 16)` pre-prune bounds every window partition at
    * 3·16 rows before the exact per-query rank (the
    * `sample_cap_per_source` device): a handful of query keys must
    * never pull the corpus-sized rank onto a handful of cores (the
    * r10 `anomaly_zscore_topk` single-task lesson). In production the
    * query side is a training batch (thousands of rows) and the same
    * plan holds. */
  val simHardNegatives: CatalogEntry = CatalogEntry(
    "sim_hard_negatives",
    s"""WITH q AS (
      |  SELECT vec_id AS q_id, label AS q_label, embedding AS qe
      |  FROM embeddings WHERE vec_id < 5),
      |s AS (
      |  SELECT q.q_id, e.vec_id AS neg_id, e.label AS neg_label,
      |    round(${cosSql("e.embedding", "qe")}, 6) AS cos_r
      |  FROM embeddings e, q WHERE e.label != q.q_label),
      |r AS (
      |  SELECT q_id, neg_id, neg_label, cos_r,
      |    row_number() OVER (PARTITION BY q_id
      |                       ORDER BY cos_r DESC, neg_id) AS rnk
      |  FROM s)
      |SELECT q_id, rnk::INT AS rnk, neg_id, neg_label, cos_r
      |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = emb.where($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"embedding".as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .where($"label" =!= $"q_label")
      .select($"q_id", $"vec_id".as("neg_id"), $"label".as("neg_label"),
        round(Similarity.cosineNative($"embedding", $"qe"), 6).as("cos_r"))
    val pre = scored
      .withColumn("salt", pmod($"neg_id", lit(16)))
      .withColumn("rs", row_number().over(
        Window.partitionBy($"q_id", $"salt")
          .orderBy($"cos_r".desc, $"neg_id")))
      .where($"rs" <= 3).drop("rs", "salt")
    pre
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cos_r".desc, $"neg_id"))
        .cast("int"))
      .where($"rnk" <= 3)
      .select($"q_id", $"rnk", $"neg_id", $"neg_label", $"cos_r")
      .orderBy($"q_id", $"rnk")
  }

  private def cosSql(a: String, b: String): String =
    s"""(list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE
       |           for i in range(1, len($a) + 1)]) /
       |  (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE
       |                  for i in range(1, len($a) + 1)])) *
       |   sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE
       |                  for i in range(1, len($b) + 1)]))))""".stripMargin

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell-Goldstein '98) —
    * the diversified top-k every retrieval-augmented pipeline wants
    * when the plain top-k is five paraphrases of one document: greedy
    * selection of 5 from the exact top-10 shortlist maximizing
    * `λ·rel − (1−λ)·max-sim-to-already-selected` with λ = 0.7. All
    * scores are micro-quantized BIGINTs (`round(cos·10⁶)`), so the
    * greedy argmax — `7·rel₆ − 3·maxsim₆` over integers with a vec_id
    * tie — is decided by integer compares no cross-engine ulp can
    * flip; the oracle replays the identical unrolled rounds as
    * chained CTEs.
    *
    * Scale shape: MMR's O(k²) greedy is ALWAYS run on a shortlist,
    * and the shortlist build is the scale path — TakeOrdered top-10
    * here, any ANN entry (`sim_ann_lsh` / `sim_ivf`) at 100 TB. The
    * iterative part runs on the driver over the collected 10 rows: the
    * 10×10 similarities are one local projection and the greedy rounds
    * are integer compares; in production with a query BATCH the same
    * rounds run per query key in parallel. */
  val retrievalMmrDiversify: CatalogEntry = {
    val head =
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |base AS (
         |  SELECT vec_id, embedding,
         |    round(${cosSql("embedding", "qe")} * 1e6, 0)::BIGINT AS rel6
         |  FROM embeddings, q WHERE vec_id != 0),
         |sl AS (SELECT vec_id, embedding, rel6 FROM base
         |       ORDER BY rel6 DESC, vec_id LIMIT 10),
         |p AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j,
         |    round(${cosSql("a.embedding", "b.embedding")} * 1e6, 0)::BIGINT
         |      AS sim6
         |  FROM sl a JOIN sl b ON a.vec_id != b.vec_id),
         |m1 AS (SELECT vec_id FROM sl ORDER BY rel6 DESC, vec_id LIMIT 1)""".stripMargin
    val sql = {
      var sel = "SELECT vec_id FROM m1"
      val rounds = (2 to 5).map { r =>
        val cte =
          s""",
             |m$r AS (SELECT s.vec_id FROM sl s WHERE s.vec_id NOT IN ($sel)
             |  ORDER BY 7 * s.rel6 - 3 * (SELECT max(p.sim6) FROM p
             |      WHERE p.i = s.vec_id AND p.j IN ($sel)) DESC,
             |    s.vec_id LIMIT 1)""".stripMargin
        sel += s" UNION ALL SELECT vec_id FROM m$r"
        cte
      }.mkString
      head + rounds +
        """
          |SELECT rnk, vec_id, rel_ppm FROM (
          |  SELECT 1 AS rnk, vec_id FROM m1
          |  UNION ALL SELECT 2, vec_id FROM m2
          |  UNION ALL SELECT 3, vec_id FROM m3
          |  UNION ALL SELECT 4, vec_id FROM m4
          |  UNION ALL SELECT 5, vec_id FROM m5) r
          |JOIN (SELECT vec_id, rel6 AS rel_ppm FROM sl) s USING (vec_id)
          |ORDER BY rnk""".stripMargin
    }
    CatalogEntry("retrieval_mmr_diversify", sql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val sim6 = (a: Column, b: Column) =>
        round(Similarity.cosineNative(a, b) * lit(1e6), 0).cast("long")
      // the 10-row shortlist (vec_id, embedding, rel6), best first
      val sl = emb.filter($"vec_id" === 0).select($"embedding")
        .collect().headOption.toSeq.flatMap { q =>
          emb.where($"vec_id" =!= 0)
            .select($"vec_id", $"embedding",
              sim6($"embedding", typedLit(q.getSeq[Float](0))).as("rel6"))
            .orderBy($"rel6".desc, $"vec_id").limit(10)
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2)))
        }
      val pairs = (for ((i, ea, _) <- sl; (j, eb, _) <- sl if i != j)
          yield (i, j, ea, eb)).toDF("i", "j", "ea", "eb")
        .select($"i", $"j", sim6($"ea", $"eb"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // greedy rounds 2..5: argmax of 7·rel6 − 3·maxsim, vec_id breaks ties
      val picked = (2 to 5).foldLeft(sl.take(1)) { (sel, _) =>
        val rest = sl.filterNot(c => sel.exists(_._1 == c._1))
        def score(c: (Long, Seq[Float], Long)) =
          7L * c._3 - 3L * sel.map(p => pairs((c._1, p._1))).max
        sel ++ rest.sortBy(c => (-score(c), c._1)).take(1)
      }
      picked.zipWithIndex.map { case ((id, _, rel6), k) => (k + 1, id, rel6) }
        .toDF("rnk", "vec_id", "rel_ppm")
    }
  }

  /** Top principal direction of the embedding space via MATRIX-FREE
    * power iteration — the diagnostic that catches anisotropy collapse
    * (a corpus whose embeddings squeeze onto one axis ruins every
    * cosine) and the first step of any PCA-whitening pass. Four
    * unrolled rounds of v ← Σₓ x·(x·v), renormalized each round; the
    * covariance matrix is never materialized — each round is ONE
    * corpus pass (row-local dot against the direction literal, then a
    * 64-cell partial aggregate collected to the driver), which is the
    * only formulation that exists at 100 TB.
    *
    * Cross-engine exactness at every step (the kmeans/EMA discipline):
    * the direction lives as micro-quantized BIGINTs; per-row dot
    * products are nano-quantized before summing (order-free), the
    * per-dimension accumulations are integer sums widened
    * DECIMAL(38,0)/HUGEINT (int64 dies at ~10¹² rows), the norm is
    * one IEEE sqrt of an exact integer Σw², and the renormalized
    * direction re-quantizes to micro units — both engines walk the
    * identical integer lattice, so the hash gate covers all four
    * rounds. Deterministic uniform seed (all dims 0.125: exactly unit
    * norm); sign follows the seed. */
  /** Shared oracle prefix for the PCA-direction family: WITH-chain of
    * the four power-iteration rounds, ending at `v5` (pos, v_micro). */
  private val pcaOracleChain: String = {
    val head =
      """WITH v1 AS (SELECT (i.gs - 1)::INT AS pos, 125000::BIGINT AS v_micro
        |          FROM unnest(generate_series(1, 64)) AS i(gs))""".stripMargin
    val chain = (1 to 4).map { r =>
      s""",
         |va$r AS (SELECT list(v_micro / 1e6 ORDER BY pos) AS v FROM v$r),
         |s$r AS (
         |  SELECT e.vec_id,
         |    list_sum([round(e.embedding[i]::DOUBLE * (va.v)[i] * 1e9, 0)::BIGINT
         |              for i in range(1, len(e.embedding) + 1)])::BIGINT AS sq
         |  FROM embeddings e, va$r va),
         |w$r AS (
         |  SELECT (i.gs - 1)::INT AS pos,
         |    sum(round(e.embedding[i.gs]::DOUBLE * (s.sq / 1e9) * 1e6,
         |              0)::BIGINT)::HUGEINT AS w
         |  FROM embeddings e JOIN s$r s USING (vec_id),
         |       unnest(generate_series(1, 64)) AS i(gs)
         |  GROUP BY pos),
         |n$r AS (SELECT sum(w * w)::HUGEINT AS n2 FROM w$r),
         |v${r + 1} AS (
         |  SELECT pos,
         |    round((w::DOUBLE) / sqrt(n2::DOUBLE) * 1e6, 0)::BIGINT AS v_micro
         |  FROM w$r, n$r)""".stripMargin
    }.mkString
    head + chain
  }

  /** Spark side of the same four rounds: the converged micro-quantized
    * direction, v_micro by pos, renormalized on the driver after each
    * round's pass and fed to the next as a literal. Any consumer must
    * walk the identical integer lattice as [[pcaOracleChain]]'s `v5`. */
  private def pcaDirection(s: org.apache.spark.sql.SparkSession,
                           d: String): Array[Long] = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    (1 to 4).foldLeft(Array.fill(64)(125000L)) { (v, _) =>
      // sd before the posexplode: beside it, it runs once per element
      DriverMath.unitMicro(emb
        .select((DriverMath.dotNano($"embedding", DriverMath.microLit(v))
          / lit(1e9)).as("sd"), $"embedding")
        .select($"sd", posexplode($"embedding").as(Seq("pos", "x")))
        .select($"pos",
          round($"x".cast("double") * $"sd" * lit(1e6), 0)
            .cast("long").as("c"))
        .groupBy($"pos")
        .agg(sum($"c".cast("decimal(38,0)")).as("w"))
        .collect().sortBy(_.getInt(0)).map(_.getDecimal(1)).toSeq)
    }
  }

  val embedPcaPowerIter: CatalogEntry =
    CatalogEntry("embed_pca_power_iter",
      pcaOracleChain + "\nSELECT pos, v_micro FROM v5 ORDER BY pos") {
      (s, d) =>
        import s.implicits._
        pcaDirection(s, d).toSeq.zipWithIndex.map(_.swap).toDF("pos", "v_micro")
    }

  /** ALL-BUT-THE-TOP residual census (Mu & Viswanath, ICLR 2018): for
    * every vector, its alignment with the corpus' top principal
    * direction — `dot_nano` (the nano-quantized projection x·v) and
    * `cos2_ppm` (the fraction of the vector's energy the top direction
    * explains). The per-vector numbers ARE the whitening transform's
    * inputs (x' = x − (x·v)v) and their corpus distribution is the
    * anisotropy diagnostic: a healthy embedding space keeps cos² low
    * and flat; a collapsed one concentrates energy on v.
    *
    * Scale shape: consumes [[pcaDirection]] (four corpus passes), then
    * ONE more pass — dot and norm² are row-local folds against the
    * direction literal; no shuffle beyond the output sort. Exactness:
    * `dot_nano` is the order-free integer dot sum (no transformation
    * emitted at all), and cos²_ppm is a pure integer ratio
    * (10⁶·sq²) div (10⁹·nx) in DECIMAL(38,0)/HUGEINT — sq² ≤ ~10²⁰
    * overflows int64 but not 38 digits; no float rounding anywhere, so
    * the hash gate is exact by construction. */
  val embedAbttResidual: CatalogEntry = CatalogEntry(
    "embed_abtt_residual",
    pcaOracleChain +
      """,
        |vaf AS (SELECT list(v_micro / 1e6 ORDER BY pos) AS v FROM v5),
        |fin AS (
        |  SELECT e.vec_id,
        |    list_sum([round(e.embedding[i]::DOUBLE * (va.v)[i] * 1e9, 0)::BIGINT
        |              for i in range(1, len(e.embedding) + 1)])::BIGINT AS sq,
        |    list_sum([round(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
        |                    * 1e9, 0)::BIGINT
        |              for i in range(1, len(e.embedding) + 1)])::BIGINT AS nx
        |  FROM embeddings e, vaf va)
        |SELECT vec_id, sq AS dot_nano,
        |  ((1000000::HUGEINT * sq::HUGEINT * sq::HUGEINT)
        |   // (1000000000::HUGEINT * nx::HUGEINT))::BIGINT AS cos2_ppm
        |FROM fin ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val va = DriverMath.microLit(pcaDirection(s, d))
    Tables.embeddings(s, d)
      .select($"vec_id", DriverMath.dotNano($"embedding", va).as("sq"),
        aggregate(
          transform($"embedding", x =>
            round(x.cast("double") * x.cast("double") * lit(1e9), 0)
              .cast("long")),
          lit(0L), (acc, t) => acc + t).as("nx"))
      .select($"vec_id", $"sq".as("dot_nano"),
        expr("cast((cast(1000000 as decimal(38,0)) * cast(sq as decimal(38,0))" +
          " * cast(sq as decimal(38,0))) div" +
          " (cast(1000000000 as decimal(38,0)) * cast(nx as decimal(38,0)))" +
          " as long)").as("cos2_ppm"))
      .orderBy($"vec_id")
  }

  /** Exact double value of the float-quantized plane element, so the
    * oracle multiplies by bit-identical constants (emitting the raw
    * double would diverge: Spark quantizes planes to float to match
    * the embedding element type). */
  private def planeLit(p: Seq[Double]): String =
    "[" + p.map(v => v.toFloat.toDouble.toString).mkString(", ") + "]"
  private def dotSql(vec: String, plane: Seq[Double]): String =
    s"list_sum([$vec[i]::DOUBLE * (${planeLit(plane)})[i] for i in range(1, 65)])"
  private def bucketSql(vec: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(vec, p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** ANN via random-hyperplane LSH, recall-amplified two ways:
    * OR-amplification (3 independent hash tables — a neighbor is a
    * candidate if ANY table co-buckets it) × multi-probe (each table
    * also probes every Hamming-1 bucket, recovering neighbors that fell
    * just across one hyperplane). Exact cosine runs only on candidates;
    * the candidate search stays an equi-join on (table, bucket) — never
    * a corpus scan. Recall@10 ≥ 0.9 vs the exact top-k is gated in
    * SimilaritySpec on sf0.1; at larger corpora raise planes-per-table
    * (shrinks buckets) and keep tables for the recall.
    *
    * The hyperplanes are deterministic literals (SplitMix64), so the
    * WHOLE ANN path gets a DuckDB oracle: the SQL recomputes every
    * table's sign-bit bucket from the same float-quantized plane
    * constants and takes candidates at Hamming ≤ 1 (= the multi-probe
    * set), then the exact cosine top-10 — engine-independent
    * verification of bucketing, probing, and ranking together. */
  val simAnnLsh: CatalogEntry = {
    val tables = (0 until 3).map(t => Similarity.hyperplanes(4, 64, 42L + t))
    CatalogEntry(
      "sim_ann_lsh",
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", tables(0))} AS b0,
         |    ${bucketSql("embedding", tables(1))} AS b1,
         |    ${bucketSql("embedding", tables(2))} AS b2
         |  FROM embeddings),
         |q AS (SELECT embedding AS qe, b0 AS qb0, b1 AS qb1, b2 AS qb2
         |      FROM b WHERE vec_id = 0),
         |cand AS (
         |  SELECT DISTINCT b.vec_id, b.embedding, q.qe FROM b, q
         |  WHERE bit_count(xor(b.b0::BIGINT, q.qb0::BIGINT)) <= 1
         |     OR bit_count(xor(b.b1::BIGINT, q.qb1::BIGINT)) <= 1
         |     OR bit_count(xor(b.b2::BIGINT, q.qb2::BIGINT)) <= 1)
         |SELECT vec_id, round(
         |  list_sum([embedding[i]::DOUBLE * qe[i]::DOUBLE
         |            for i in range(1, len(embedding) + 1)]) /
         |  (sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
         |                  for i in range(1, len(embedding) + 1)])) *
         |   sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
         |                  for i in range(1, len(qe) + 1)]))), 6) AS cos_sim
         |FROM cand
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    import s.implicits._
    val (nTables, nPlanes) = (3, 4)
    val tabled = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding",
        explode(Similarity.lshTables($"embedding", nTables, nPlanes, dim = 64))
          .as("tb"))
    val q = tabled.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), $"tb.tbl".as("qt"),
        explode(Similarity.probeBuckets($"tb.bucket", nPlanes)).as("probe"))
    tabled.join(broadcast(q), $"tb.tbl" === $"qt" && $"tb.bucket" === $"probe")
      .select($"vec_id", $"embedding", $"qe")
      .dropDuplicates("vec_id") // candidate found by >1 table counts once
      .select($"vec_id",
        round(Similarity.cosineNative($"embedding", $"qe"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(10)
    }
  }

  /** Embedding-cosine near-dup candidates at scale shape: top-10 most
    * similar pairs drawn only from within LSH buckets, never all-pairs.
    * The plane count grows with the corpus (log2(n/64)) so expected
    * within-bucket pair work stays n·64/2 — a fixed plane count would
    * go quadratic as n grows past bucketCount × targetSize.
    *
    * Fully oracled despite the corpus-dependent plane count: the
    * SplitMix64 plane stream is prefix-stable (plane i is identical for
    * every plane count), so a p-plane bucket is the 12-plane bucket
    * masked to its low p bits. The SQL computes the 12-plane bucket
    * from the same float-quantized literals, derives p with the same
    * ceil(log2(n/64)) arithmetic, masks, and forms in-bucket pairs —
    * valid up to p = 12 (n ≤ 256k vectors; both test scales are far
    * below). */
  val simBucketedPairs: CatalogEntry = {
    val planes12 = Similarity.hyperplanes(12, 64)
    CatalogEntry(
      "sim_bucketed_pairs",
      s"""WITH nn AS (
         |  SELECT greatest(1, ceil(ln(count(*)::DOUBLE / 64) / ln(2)))::INT AS p
         |  FROM embeddings),
         |b AS (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", planes12)} AS b12
         |  FROM embeddings),
         |m AS (
         |  SELECT vec_id, embedding,
         |    b12 & ((1::BIGINT << nn.p) - 1) AS bucket
         |  FROM b, nn)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(
         |    list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
         |              for i in range(1, 65)]) /
         |    (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE
         |                    for i in range(1, 65)])) *
         |     sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
         |                    for i in range(1, 65)]))), 6) AS cos_sim
         |FROM m a JOIN m b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |ORDER BY cos_sim DESC, id_a, id_b LIMIT 10""".stripMargin) { (s, d) =>
    import s.implicits._
    // corpus size from table STATISTICS (parquet footers read on the
    // driver) — plan sizing must not spend a Spark job per invocation;
    // at 100 TB this number comes from the metastore the same way
    val n = Tables.statsRowCount(s, d, "embeddings")
    val planes = Similarity.hyperplanes(Similarity.planesFor(n), dim = 64)
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding",
        Similarity.lshBucket($"embedding", planes).as("bucket"))
    emb.as("a").join(emb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(Similarity.cosineNative(col("a.embedding"), col("b.embedding")), 6)
          .as("cos_sim"))
      .orderBy($"cos_sim".desc, $"id_a".asc, $"id_b".asc)
      .limit(10)
    }
  }

  /** IVF-style ANN: one pass computes per-cluster centroids (the
    * `label` column stands in for a coarse quantizer's assignment), the
    * query probes its nearest centroid, and exact cosine runs only
    * inside that cluster — at 100 TB the centroid table is a broadcast
    * dim and each query touches one cluster partition.
    *
    * Fully oracled: DuckDB recomputes the float-quantized centroids
    * (the FLOAT cast absorbs cross-engine summation-order ulps), picks
    * the same nearest centroid, and ranks the same cluster by exact
    * cosine — training, probing, and search verified together. */
  val simIvf: CatalogEntry = CatalogEntry(
    "sim_ivf",
    """WITH cen AS (
      |  SELECT label, (i.gs - 1) AS pos,
      |    avg(embedding[i.gs]::DOUBLE)::FLOAT AS m
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS i(gs)
      |  GROUP BY label, pos),
      |carr AS (SELECT label, list(m ORDER BY pos) AS centroid
      |         FROM cen GROUP BY label),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |nearest AS (
      |  SELECT label AS c_label, qe FROM carr, q
      |  ORDER BY
      |    list_sum([centroid[i]::DOUBLE * qe[i]::DOUBLE
      |              for i in range(1, 65)]) /
      |    (sqrt(list_sum([centroid[i]::DOUBLE * centroid[i]::DOUBLE
      |                    for i in range(1, 65)])) *
      |     sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
      |                    for i in range(1, 65)]))) DESC, label
      |  LIMIT 1)
      |SELECT e.vec_id, e.label, round(
      |  list_sum([e.embedding[i]::DOUBLE * n.qe[i]::DOUBLE
      |            for i in range(1, 65)]) /
      |  (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
      |                  for i in range(1, 65)])) *
      |   sqrt(list_sum([n.qe[i]::DOUBLE * n.qe[i]::DOUBLE
      |                  for i in range(1, 65)]))), 6) AS cos_sim
      |FROM embeddings e JOIN nearest n ON e.label = n.c_label
      |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    Similarity.ivfTopK(Tables.embeddings(s, d),
      "vec_id", "embedding", "label", queryId = 0, k = 10)
  }

  /** Array-function surface over the embedding column (SURVEY.md §2.8
    * extension): element min/max/mean and L2 norm, all in widened
    * double so the DuckDB list-algebra oracle matches exactly. */
  val arrayStats: CatalogEntry = CatalogEntry(
    "array_stats",
    """SELECT vec_id, len(embedding) AS dim,
      |  round(list_min(list_transform(embedding, x -> x::DOUBLE)), 6) AS min_v,
      |  round(list_max(list_transform(embedding, x -> x::DOUBLE)), 6) AS max_v,
      |  round(list_sum(list_transform(embedding, x -> x::DOUBLE))
      |        / len(embedding), 6) AS mean_v,
      |  round(sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
      |                       for i in range(1, len(embedding) + 1)])), 6) AS l2
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val dbl = transform($"embedding", x => x.cast("double"))
    Tables.embeddings(s, d)
      .select($"vec_id",
        size($"embedding").as("dim"),
        round(array_min(dbl), 6).as("min_v"),
        round(array_max(dbl), 6).as("max_v"),
        round(aggregate(dbl, lit(0.0), (a, x) => a + x) / size($"embedding"), 6)
          .as("mean_v"),
        round(sqrt(Similarity.dotNative($"embedding", $"embedding")), 6)
          .as("l2"))
      .orderBy($"vec_id")
  }

  /** Array-manipulation surface (§2.8 extension beyond `array_stats`'
    * fold/HOF algebra): positional indexing (`element_at`), total sort
    * (`array_sort`), predicate filtering (`filter`), exact-equality
    * dedup (`array_distinct`) — all row-local codegen'd array ops, no
    * shuffle before the determinism sort. Floats widen to double
    * before any arithmetic and land rounded; sort/filter/distinct
    * operate on the raw float bits identically in both engines. */
  val arrayManipulation: CatalogEntry = CatalogEntry(
    "array_manipulation",
    """SELECT vec_id,
      |  len(embedding)::INT AS dim,
      |  round(list_sort(list_transform(embedding, x -> x::DOUBLE))[1], 6)
      |    AS min1,
      |  round(list_sort(list_transform(embedding, x -> x::DOUBLE))[2], 6)
      |    AS min2,
      |  len(list_filter(embedding, x -> x < 0))::INT AS n_neg,
      |  len(list_distinct(embedding))::INT AS n_distinct,
      |  round(list_transform(embedding, x -> x::DOUBLE)[1]
      |        + list_transform(embedding, x -> x::DOUBLE)[len(embedding)], 6)
      |    AS ends_sum
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val dbl = transform($"embedding", x => x.cast("double"))
    val sorted = array_sort(dbl)
    Tables.embeddings(s, d)
      .select($"vec_id",
        size($"embedding").as("dim"),
        round(element_at(sorted, 1), 6).as("min1"),
        round(element_at(sorted, 2), 6).as("min2"),
        size(filter($"embedding", x => x < lit(0f))).cast("int").as("n_neg"),
        size(array_distinct($"embedding")).cast("int").as("n_distinct"),
        round(element_at(dbl, 1) + element_at(dbl, size($"embedding")), 6)
          .as("ends_sum"))
      .orderBy($"vec_id")
  }

  /** Quantize-then-rescore ANN (the storage-tier trick of DiskANN /
    * IVF-PQ systems): candidates rank by an int8 approximation of the
    * cosine, exact float math runs only on the shortlist. At 100 TB the
    * int8 codes are a PRE-STORED column 4x smaller than the float
    * embeddings — the candidate scan reads a quarter of the bytes and
    * the full-precision vectors are fetched for ~candidates rows only
    * (here both live in one scan; the plan shape — two
    * TakeOrderedAndProject, never a global sort — is what carries over).
    *
    * Fully oracled against the EXACT top-10 (same SQL as
    * `sim_cosine_topk`): int8 symmetric quantization keeps relative
    * dot-product error ~1e-3, so the exact top 10 always survive a
    * 50-candidate shortlist and the rescored output is bit-identical to
    * brute force — the oracle verifies quantization, shortlist recall,
    * and rescore together at both test scales.
    *
    * The whole approx score is ONE native expression
    * ([[graft.functions.VecQuantScore]]: quantize both vectors + int
    * dot + int norm in a single primitive codegen loop) — one
    * evaluation per row by construction, where separate dot/norm
    * projections would let CollapseProject re-inline the quantization
    * per use (the round-2 minhash 30x lesson), and the interpreted
    * transform/zip_with/aggregate HOF chain it replaces boxed every
    * element (measured 1.10 s -> this formulation at sf0.1). */
  val simQuantizedTopk: CatalogEntry = CatalogEntry(
    "sim_quantized_topk",
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, round(
      |  list_sum([embedding[i]::DOUBLE * qe[i]::DOUBLE
      |            for i in range(1, len(embedding) + 1)]) /
      |  (sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
      |                  for i in range(1, len(embedding) + 1)])) *
      |   sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
      |                  for i in range(1, len(qe) + 1)]))), 6) AS cos_sim
      |FROM embeddings, q
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
    emb.crossJoin(broadcast(q))
      .select($"vec_id", $"embedding", $"qe",
        call_function("vec_quant_score", $"embedding", $"qe").as("approx"))
      .orderBy($"approx".desc, $"vec_id".asc)
      .limit(50) // shortlist: TakeOrderedAndProject, never a full sort
      .select($"vec_id",
        round(Similarity.cosineNative($"embedding", $"qe"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(10)
  }

  /** PRODUCT QUANTIZATION encode + asymmetric-distance search (Jégou
    * et al., "Product Quantization for Nearest Neighbor Search", TPAMI
    * 2011) — the third ANN family beside LSH ([[simAnnLsh]]) and IVF
    * ([[simIvf]]), and the one that wins on MEMORY: 64 float dims
    * compress to 4 sub-codes. M=4 subspaces of 16 dims, K=4 seed
    * centroids per subspace (the first 4 corpus vectors' sub-slices —
    * the [[embedKmeansAssign]] deterministic-seed discipline; a real
    * deployment would Lloyd-refine them with [[embedKmeansUpdate]]'s
    * machinery). Encode = per-(vector, subspace) argmin of the
    * quantized L2²; search = ADC: one 16-cell query→centroid distance
    * table, each vector's distance the SUM of its codes' table cells —
    * the scan never touches the original floats.
    *
    * Exactness: sub-distances are per-element nano-quantized BIGINTs
    * (order-free sums), argmin ties break on cid, `adc_nano` is an
    * exact integer sum of table cells, and the top-10 orders on
    * (adc_nano, vec_id) — no float ever reaches the output. Scale
    * shape: the codebook and the ADC table are broadcast (16 rows);
    * encode is a row-local ×4 fan-out plus a (vec_id, m)-keyed argmin
    * with map-side combine; the per-vector ADC sum is the only
    * corpus-keyed shuffle and the top-10 is TakeOrderedAndProject. At
    * 100 TB the codes are what you'd persist; the ADC scan reads 4
    * ints per vector. */
  val simPqAdc: CatalogEntry = CatalogEntry(
    "sim_pq_adc",
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 4),
      |cb AS (
      |  SELECT (m.gs - 1)::INT AS m, cid::INT AS cid,
      |    embedding[(m.gs - 1) * 16 + 1 : m.gs * 16] AS csub
      |  FROM cent, unnest(generate_series(1, 4)) AS m(gs)),
      |sub AS (
      |  SELECT e.vec_id, (m.gs - 1)::INT AS m,
      |    e.embedding[(m.gs - 1) * 16 + 1 : m.gs * 16] AS sub
      |  FROM embeddings e, unnest(generate_series(1, 4)) AS m(gs)),
      |d AS (
      |  SELECT s.vec_id, s.m, c.cid,
      |    list_sum([round((s.sub[i]::DOUBLE - c.csub[i]::DOUBLE)
      |                    * (s.sub[i]::DOUBLE - c.csub[i]::DOUBLE) * 1e9,
      |                    0)::BIGINT
      |              for i in range(1, len(s.sub) + 1)])::BIGINT AS d2q
      |  FROM sub s JOIN cb c USING (m)),
      |codes AS (
      |  SELECT vec_id, m, cid,
      |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2q, cid) AS rn
      |  FROM d),
      |qsub AS (SELECT m, sub AS qs FROM sub WHERE vec_id = 0),
      |dt AS (
      |  SELECT c.m, c.cid,
      |    list_sum([round((q.qs[i]::DOUBLE - c.csub[i]::DOUBLE)
      |                    * (q.qs[i]::DOUBLE - c.csub[i]::DOUBLE) * 1e9,
      |                    0)::BIGINT
      |              for i in range(1, len(c.csub) + 1)])::BIGINT AS dtq
      |  FROM cb c JOIN qsub q USING (m))
      |SELECT k.vec_id,
      |  sum(CASE WHEN k.m = 0 THEN k.cid END)::INT AS code0,
      |  sum(CASE WHEN k.m = 1 THEN k.cid END)::INT AS code1,
      |  sum(CASE WHEN k.m = 2 THEN k.cid END)::INT AS code2,
      |  sum(CASE WHEN k.m = 3 THEN k.cid END)::INT AS code3,
      |  sum(dt.dtq)::BIGINT AS adc_nano
      |FROM codes k JOIN dt ON k.m = dt.m AND k.cid = dt.cid
      |WHERE k.rn = 1
      |GROUP BY k.vec_id ORDER BY adc_nano, k.vec_id LIMIT 10""".stripMargin) {
    (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      def subSlices(c: Column): Column = array((0 until 4).map(m =>
        struct(lit(m).as("m"), slice(c, m * 16 + 1, 16).as("sub"))): _*)
      val sub = emb
        .select($"vec_id", explode(subSlices($"embedding")).as("ms"))
        .select($"vec_id", $"ms.m".as("m"), $"ms.sub".as("sub"))
      val cb = emb.where($"vec_id" < 4)
        .select($"vec_id".cast("int").as("cid"),
          explode(subSlices($"embedding")).as("ms"))
        .select($"ms.m".as("m"), $"cid", $"ms.sub".as("csub"))
      val codes = sub.join(broadcast(cb), "m")
        .select($"vec_id", $"m", $"cid",
          DriverMath.l2Nano($"sub", $"csub").as("d2q"))
        .groupBy($"vec_id", $"m")
        .agg(min(struct($"d2q", $"cid")).as("b"))
        .select($"vec_id", $"m", $"b.cid".as("cid"))
      val qsub = sub.where($"vec_id" === 0).select($"m", $"sub".as("qs"))
      val dt = cb.join(broadcast(qsub), "m")
        .select($"m", $"cid", DriverMath.l2Nano($"qs", $"csub").as("dtq"))
      codes.join(broadcast(dt), Seq("m", "cid"))
        .groupBy($"vec_id")
        .agg(
          sum(when($"m" === 0, $"cid")).cast("int").as("code0"),
          sum(when($"m" === 1, $"cid")).cast("int").as("code1"),
          sum(when($"m" === 2, $"cid")).cast("int").as("code2"),
          sum(when($"m" === 3, $"cid")).cast("int").as("code3"),
          sum($"dtq").as("adc_nano"))
        .orderBy($"adc_nano", $"vec_id")
        .limit(10)
  }

  /** PQ recall@10 — the third leg of the ANN measurement family
    * ([[simRecallAtK]] gates LSH, [[simIvfRecallCurve]] curves the
    * probe budget; this gates the product quantizer): the
    * [[simPqAdc]] asymmetric-distance top-10 joined against the
    * exact top-10, one (n_hit, recall_pct) row. Composed from the two
    * existing entries verbatim (same plans, same oracles nested), so
    * the measurement can never drift from the index it evaluates —
    * an M/K/codebook regression moves this number and fails the hash
    * gate. Scale shape: both arms are the existing scale-safe plans
    * cut to 10 rows; at 100 TB the composition runs over a query
    * SAMPLE like the other recall entries. */
  val simPqRecall: CatalogEntry = CatalogEntry(
    "sim_pq_recall",
    s"""SELECT count(*)::BIGINT AS n_hit,
       |  (count(*) * 10)::BIGINT AS recall_pct
       |FROM (${simPqAdc.oracle.get.replace("\n", "\n      ")}) a
       |JOIN (${simCosineTopk.oracle.get.replace("\n", "\n      ")}) e
       |  ON a.vec_id = e.vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val pq = simPqAdc.query(s, d).select($"vec_id")
    val exact = simCosineTopk.query(s, d).select($"vec_id".as("evid"))
    pq.join(exact, $"vec_id" === $"evid")
      .agg(count(lit(1)).as("n_hit"),
        (count(lit(1)) * 10).as("recall_pct"))
  }

  /** Per-label centroid components — the k-means/IVF "train the coarse
    * quantizer" step as one distributed pass: posexplode the vector,
    * partial-agg (label, position) means map-side, shuffle only
    * labels×dim cells. Long format (label, pos, centroid_r) keeps the
    * oracle comparison scalar. DuckDB replays it with a lateral
    * generate_series subscript. */
  val embeddingCentroids: CatalogEntry = CatalogEntry(
    "embedding_centroids",
    """SELECT label, (i.gs - 1)::INT AS pos,
      |  round(avg(embedding[i.gs]::DOUBLE), 4) AS centroid_r,
      |  count(*)::BIGINT AS n_vectors
      |FROM embeddings,
      |  unnest(generate_series(1, len(embedding))) AS i(gs)
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"label", posexplode($"embedding").as(Seq("pos", "val")))
      .groupBy($"label", $"pos")
      .agg(round(avg($"val".cast("double")), 4).as("centroid_r"),
        count(lit(1)).as("n_vectors"))
      .orderBy($"label", $"pos")
  }

  /** Semantic dedup (the SemDeDup shape, arXiv:2303.09540): cluster
    * the embedding space, then prune within-cluster pairs whose
    * cosine exceeds a threshold, keeping the lowest id — the
    * embedding-level near-dup pass that catches paraphrases exact and
    * n-gram dedup cannot see. The within-cluster pairs are
    * [[clusterPairDots]] over the [[embedKmeansAssign]] clustering
    * (deterministic seed centroids, nano-quantized exact distances);
    * the cosine test [[cosAbove]] is cleared of floats entirely by
    * squaring: `cos > 0.4` becomes `dotq > 0 AND 100·dotq² >
    * 16·naq·nbq` over nano-quantized BIGINT dot/norm sums, widened to
    * DECIMAL(38,0) for the squares (the Bollinger sqrt-elimination
    * precedent) — no IEEE boundary can flip membership. The quantized
    * sums come from the native
    * [[graft.functions.VecDotQ9]] kernel (one fused codegen loop;
    * HALF_EVEN per element ≡ DuckDB `roundbankers`) — the interpreted
    * zip_with+round+aggregate fold it replaced was the single largest
    * CPU consumer in the bench at millions of within-cluster pairs. Output: each pruned vector with its cluster and
    * how many lower-id near-neighbors condemned it.
    *
    * Scale shape: the all-pairs join is WITHIN-CLUSTER only (equi-join
    * on cluster id, never corpus-wide); at 100 TB the per-cluster
    * block is further LSH-bucketed (`sim_bucketed_pairs`) before
    * pairing — the threshold algebra is unchanged. Assignment is one
    * broadcast-centroid pass; norms ride the same row. */
  val dedupSemanticEmbed: CatalogEntry = CatalogEntry(
    "dedup_semantic_embed",
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  WHERE vec_id < 8),
      |d2 AS (
      |  SELECT e.vec_id, c.cid, e.embedding AS v,
      |    list_sum([round(((e.embedding[i]::DOUBLE) - (c.cvec[i]::DOUBLE))
      |                    * ((e.embedding[i]::DOUBLE) - (c.cvec[i]::DOUBLE))
      |                    * 1e9, 0)::BIGINT
      |              for i in range(1, len(e.embedding) + 1)])::BIGINT AS d2q
      |  FROM embeddings e, cent c),
      |asg AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT vec_id, v, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) AS rn
      |    FROM d2) WHERE rn = 1),
      |n AS (
      |  SELECT vec_id, cid, v,
      |    list_sum([roundbankers((v[i]::DOUBLE) * (v[i]::DOUBLE) * 1e9, 0)::BIGINT
      |              for i in range(1, len(v) + 1)])::BIGINT AS nq
      |  FROM asg),
      |p AS (
      |  SELECT x.vec_id AS keep_id, y.vec_id AS prune_id, y.cid AS cid,
      |    list_sum([roundbankers((x.v[i]::DOUBLE) * (y.v[i]::DOUBLE) * 1e9, 0)::BIGINT
      |              for i in range(1, len(x.v) + 1)])::BIGINT AS dotq,
      |    x.nq AS naq, y.nq AS nbq
      |  FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id)
      |SELECT prune_id AS vec_id, cid AS cluster,
      |  count(*)::BIGINT AS n_dups
      |FROM p
      |WHERE dotq > 0 AND
      |  100::HUGEINT * dotq::HUGEINT * dotq::HUGEINT >
      |  16::HUGEINT * naq::HUGEINT * nbq::HUGEINT
      |GROUP BY prune_id, cid
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    clusterPairDots(Tables.embeddings(s, d))
      .where(cosAbove(16))
      .groupBy($"prune_id".as("vec_id"), $"cid".as("cluster"))
      .agg(count(lit(1)).as("n_dups"))
      .orderBy($"vec_id")
  }

  /** Per-cluster PROTOTYPICALITY outliers — the other half of the
    * SemDeDup recipe ([[dedupSemanticEmbed]] prunes the redundant
    * center of each cluster; this flags the UN-prototypical edge): for
    * each cluster of the [[embedKmeansAssign]] assignment, the 5
    * members farthest from their centroid, with each member's
    * distance-to-cluster-mean ratio in exact-integer ppm. Rank-based
    * (top-k per cluster, ties on vec_id), not threshold-based — a
    * "prune the farthest p%" selection stays non-empty and
    * deterministic on any distribution, where a mean-multiple cutoff
    * silently selects nothing on a uniform corpus.
    *
    * Exactness: distances are the assign pipeline's nano-quantized
    * BIGINT sums; the ratio numerator `10⁶·d²·n` is DECIMAL(38,0)/
    * HUGEINT-widened before the floor division (BIGINT dies once
    * n·d² passes ~10¹⁸ — at corpus scale it does).
    *
    * Scale shape: one broadcast-centroid assign pass; cluster moments
    * are a k-row aggregate broadcast back; the per-cluster top-k is a
    * keyed window over data already partitioned by cluster — with k
    * in the thousands at 100 TB the window is thousands-way parallel,
    * and the farthest-5 cut bounds output at 5k rows. */
  val embedOutlierCentroid: CatalogEntry = CatalogEntry(
    "embed_outlier_centroid",
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  WHERE vec_id < 8),
      |d2 AS (
      |  SELECT e.vec_id, c.cid,
      |    list_sum([round(((e.embedding[i]::DOUBLE) - (c.cvec[i]::DOUBLE))
      |                    * ((e.embedding[i]::DOUBLE) - (c.cvec[i]::DOUBLE))
      |                    * 1e9, 0)::BIGINT
      |              for i in range(1, len(e.embedding) + 1)])::BIGINT AS d2q
      |  FROM embeddings e, cent c),
      |best AS (
      |  SELECT vec_id, cid, d2q,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) AS rn
      |  FROM d2),
      |asg AS (SELECT vec_id, cid AS cluster, d2q FROM best WHERE rn = 1),
      |st AS (SELECT cluster, count(*)::BIGINT AS cluster_n,
      |         sum(d2q)::BIGINT AS sum_d2q
      |       FROM asg GROUP BY cluster),
      |r AS (
      |  SELECT a.vec_id, a.cluster, st.cluster_n,
      |    ((1000000::HUGEINT * a.d2q::HUGEINT * st.cluster_n::HUGEINT)
      |     // greatest(st.sum_d2q, 1)::HUGEINT)::BIGINT AS ratio_ppm,
      |    row_number() OVER (PARTITION BY a.cluster
      |                       ORDER BY a.d2q DESC, a.vec_id) AS rnk
      |  FROM asg a JOIN st USING (cluster))
      |SELECT vec_id, cluster, rnk::INT AS rnk, cluster_n, ratio_ppm
      |FROM r WHERE rnk <= 5 ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val asg = centroidAssign(Tables.embeddings(s, d))
      .select($"vec_id", $"b.cid".as("cluster"), $"b.d2q".as("d2q"))
    val st = asg.groupBy($"cluster")
      .agg(count(lit(1)).as("cluster_n"), sum($"d2q").as("sum_d2q"))
    asg.join(broadcast(st), "cluster")
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"cluster").orderBy($"d2q".desc, $"vec_id")))
      .where($"rnk" <= 5)
      .select($"vec_id", $"cluster", $"rnk",
        $"cluster_n",
        // greatest(.., 1): a degenerate cluster whose members all sit
        // ON the centroid has sum_d2q = 0 — every ratio is then 0
        // (deterministic rank on (d2q, vec_id) still selects), instead
        // of a division-by-zero that kills the whole query
        expr("cast((1000000L * cast(d2q as decimal(38,0)) * cluster_n)" +
          " div greatest(cast(sum_d2q as decimal(38,0)), 1) as bigint)")
          .as("ratio_ppm"))
      .orderBy($"vec_id")
  }

  /** Lloyd's k-means ASSIGNMENT step, deterministic across engines:
    * seeds are the k=8 lowest-vec_id embeddings (no RNG — the
    * kmeans++-style seeding of production runs replaces this fixture
    * choice), each vector goes to the argmin-L2 centroid with ties
    * broken on centroid id. Cross-engine float discipline: each
    * per-dimension squared difference is QUANTIZED to integer
    * nano-units before summing, so the distance is an order-free BIGINT
    * sum both engines agree on bit-for-bit (the doc_lm_score
    * discipline; a raw double sum is partial-agg-order dependent).
    *
    * Scale shape ([[centroidAssign]]): centroids broadcast as one
    * array (k·dim floats), distances and the argmin (`array_min` over
    * (d2q, cid) structs) computed row-local in one codegen'd pass over
    * the corpus — the corpus is never shuffled. At 100 TB with k in
    * the thousands this is exactly the IVF coarse-assign pass
    * (`sim_ann_ivf`); reference scope:
    * app.py:44-49 charts per-currency aggregates, the analogous
    * group-then-summarize shape over a derived key. */
  val embedKmeansAssign: CatalogEntry = CatalogEntry(
    "embed_kmeans_assign",
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  WHERE vec_id < 8),
      |d2 AS (
      |  SELECT e.vec_id, c.cid,
      |    list_sum([round(((e.embedding[i]::DOUBLE) - (c.cvec[i]::DOUBLE))
      |                    * ((e.embedding[i]::DOUBLE) - (c.cvec[i]::DOUBLE))
      |                    * 1e9, 0)::BIGINT
      |              for i in range(1, len(e.embedding) + 1)])::BIGINT AS d2q
      |  FROM embeddings e, cent c),
      |best AS (
      |  SELECT vec_id, cid, d2q,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) AS rn
      |  FROM d2)
      |SELECT vec_id, cid AS cluster, round(d2q::DOUBLE / 1e9, 6) AS dist2
      |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    centroidAssign(Tables.embeddings(s, d))
      .select($"vec_id", $"b.cid".as("cluster"),
        round($"b.d2q".cast("double") / lit(1e9), 6).as("dist2"))
      .orderBy($"vec_id")
  }

  /** Lloyd's k-means UPDATE step on the [[embedKmeansAssign]]
    * assignment: new centroid = per-(cluster, dimension) mean of the
    * members' coordinates. Coordinates are quantized to integer
    * nano-units before the sum (order-free exact aggregate), the mean
    * is one correctly-rounded division both engines share. Scale
    * shape: posexplode fans each vector to dim rows row-local and the
    * shuffle carries only k·dim partial cells after map-side combine —
    * one full Lloyd iteration (assign + update) is two corpus passes
    * and two bounded shuffles, independent of corpus size. */
  val embedKmeansUpdate: CatalogEntry = CatalogEntry(
    "embed_kmeans_update",
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  WHERE vec_id < 8),
      |d2 AS (
      |  SELECT e.vec_id, c.cid,
      |    list_sum([round(((e.embedding[i]::DOUBLE) - (c.cvec[i]::DOUBLE))
      |                    * ((e.embedding[i]::DOUBLE) - (c.cvec[i]::DOUBLE))
      |                    * 1e9, 0)::BIGINT
      |              for i in range(1, len(e.embedding) + 1)])::BIGINT AS d2q
      |  FROM embeddings e, cent c),
      |best AS (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) AS rn
      |  FROM d2),
      |assign AS (SELECT vec_id, cid AS cluster FROM best WHERE rn = 1),
      |coord AS (
      |  SELECT a.cluster, i.gs::INT AS dim,
      |    round((e.embedding[i.gs]::DOUBLE) * 1e9, 0)::BIGINT AS cq
      |  FROM assign a JOIN embeddings e USING (vec_id),
      |       unnest(generate_series(1, 64)) AS i(gs))
      |SELECT cluster, dim, count(*)::BIGINT AS n,
      |  round(sum(cq)::DOUBLE / (count(*) * 1e9), 6) AS coord
      |FROM coord GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin) { (s, d) =>
    import s.implicits._
    // centroidAssign carries the vector through, so the r21 plan's
    // assign ⋈ emb re-attach join (a second corpus scan) is gone too
    val assign = centroidAssign(Tables.embeddings(s, d))
      .select($"vec_id", $"embedding", $"b.cid".as("cluster"))
    assign
      .select($"cluster", posexplode($"embedding").as(Seq("pos", "v")))
      .select($"cluster", ($"pos" + 1).cast("int").as("dim"),
        round($"v".cast("double") * lit(1e9), 0).cast("long").as("cq"))
      .groupBy($"cluster", $"dim")
      .agg(count(lit(1)).as("n"), sum($"cq").as("sq"))
      .select($"cluster", $"dim", $"n",
        round($"sq".cast("double") / ($"n" * lit(1e9)), 6).as("coord"))
      .orderBy($"cluster", $"dim")
  }

  /** Per-dimension embedding distribution profile (n / mean / variance
    * for each of the 64 dims) — the health check run before any
    * ANN/kmeans build (a dead or exploding dimension poisons every
    * cosine). Exact-moments discipline: each float is widened to
    * double (exact) and micro-quantized to an integer BEFORE
    * aggregation, so Σq and Σq² are order-independent BIGINTs and the
    * variance is one identical IEEE expression in both engines; the
    * n·Σ product is Decimal-widened like `agg_regr_fit` (int64 dies at
    * ~1e11 rows at 100 TB). `round(double, 8)` is NOT that expression:
    * with decimal-friendly n (5000 at sf0.1) the quotient lands
    * EXACTLY on a 5e-9 boundary and Spark (shortest-decimal HALF_UP)
    * and DuckDB (binary-double) round it apart — so the 8-decimal
    * rounding itself is done as exact integer round-half-away,
    * `(2·num + den) div (2·den)` on non-negative operands (div
    * truncation == floor there, identical in both engines), and only
    * the final ÷1e8 — a small-int over a power of ten, correctly
    * rounded identically — produces a double. Scale shape: posexplode
    * is row-local; the partial agg collapses to 64 rows per task
    * BEFORE the exchange, so the shuffle carries 64·|tasks| tiny rows
    * regardless of corpus size. */
  val embedDimStats: CatalogEntry = CatalogEntry(
    "embed_dim_stats",
    """WITH q AS (
      |  SELECT g.i::BIGINT AS dim, round(embedding[g.i] * 1e6)::BIGINT AS q
      |  FROM embeddings, unnest(generate_series(1, 64)) AS g(i)),
      |m AS (
      |  SELECT dim, count(*)::BIGINT AS n, sum(q)::BIGINT AS sq,
      |    sum(q * q)::BIGINT AS sqq
      |  FROM q GROUP BY dim),
      |r AS (
      |  SELECT dim, n,
      |    (CASE WHEN sq >= 0 THEN (sq * 200 + n) // (2 * n)
      |          ELSE -(((-sq) * 200 + n) // (2 * n)) END)::BIGINT AS mean_e8,
      |    ((2 * (n::HUGEINT * sqq - sq::HUGEINT * sq) * 10000
      |      + n::HUGEINT * n * 100000000)
      |     // (2 * n::HUGEINT * n * 100000000))::BIGINT AS var_e8
      |  FROM m)
      |SELECT dim, n, mean_e8 / 1e8 AS mean, var_e8 / 1e8 AS variance
      |FROM r ORDER BY dim""".stripMargin) { (s, d) =>
    import s.implicits._
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.embeddings(s, d)
      .select(posexplode($"embedding").as(Seq("pos", "x")))
      .select(($"pos" + 1).cast("bigint").as("dim"),
        round($"x".cast("double") * lit(1e6)).cast("bigint").as("q"))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"), sum($"q").as("sq"),
        sum($"q" * $"q").as("sqq"))
      .withColumn("mean_e8",
        when($"sq" >= 0, expr("(sq * 200 + n) div (2 * n)"))
          .otherwise(-expr("((-sq) * 200 + n) div (2 * n)")))
      // variance numerator n·Σq²−(Σq)² needs Decimal(38): it reaches
      // ~7e18 already at sf0.1 and int64 wraps silently.
      .withColumn("v", $"n".cast(dec38) * $"sqq".cast(dec38) -
        $"sq".cast(dec38) * $"sq".cast(dec38))
      .withColumn("den", $"n".cast(dec38) * $"n".cast(dec38) *
        lit(100000000L).cast(dec38))
      .withColumn("var_e8",
        expr("(2 * v * 10000 + den) div (2 * den)"))
      .select($"dim", $"n",
        ($"mean_e8" / lit(1e8)).as("mean"),
        ($"var_e8" / lit(1e8)).as("variance"))
      .orderBy($"dim")
  }

  /** Hybrid retrieval by reciprocal-rank fusion (RRF, Cormack et al.):
    * a dense ranking (cosine to the vec_id=0 query) fused with a
    * lexical ranking (query-term frequency) via Σ 1/(60+rank) — the
    * standard way to combine rankers without score calibration.
    * Discipline: each ranker is cut to its top-50 with
    * TakeOrderedAndProject FIRST and ranks are assigned by a window
    * over those 50 rows only — the corpus never enters a global
    * window; the dense rank orders on the ROUNDED cosine (6 dp,
    * vec_id tiebreak) so a cross-engine ulp cannot flip a rank; RRF
    * contributions are exact-integer ppb (`div`), so the fused
    * ordering is bit-stable. Missing-from-one-list ids contribute
    * from the other list alone (full outer fusion). */
  val hybridRrf: CatalogEntry = CatalogEntry(
    "retrieval_hybrid_rrf",
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |dense AS (
      |  SELECT vec_id AS id, row_number() OVER (ORDER BY
      |    round(list_sum([embedding[i]::DOUBLE * qe[i]::DOUBLE
      |              for i in range(1, len(embedding)+1)]) /
      |    (sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
      |                    for i in range(1, len(embedding)+1)])) *
      |     sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
      |                    for i in range(1, len(qe)+1)]))), 6) DESC,
      |    vec_id) AS rnk
      |  FROM embeddings, q QUALIFY rnk <= 50),
      |lex AS (
      |  SELECT doc_id AS id, row_number() OVER (ORDER BY
      |    len(list_filter(string_split(text, ' '), t -> t = 'spark')) DESC,
      |    doc_id) AS rnk
      |  FROM documents WHERE text IS NOT NULL QUALIFY rnk <= 50)
      |SELECT coalesce(d.id, l.id) AS doc_id,
      |  coalesce(1000000000 // (60 + d.rnk), 0)::BIGINT
      |    + coalesce(1000000000 // (60 + l.rnk), 0)::BIGINT AS rrf_ppb,
      |  d.rnk AS dense_rank, l.rnk AS lex_rank
      |FROM dense d FULL OUTER JOIN lex l ON d.id = l.id
      |ORDER BY rrf_ppb DESC, doc_id LIMIT 15""".stripMargin) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
    val rankW = Window.orderBy($"key".desc, $"id".asc)
    val dense = emb.crossJoin(broadcast(q))
      .select($"vec_id".as("id"),
        round(Similarity.cosineNative($"embedding", $"qe"), 6).as("key"))
      .orderBy($"key".desc, $"id".asc).limit(50)
      .withColumn("rnk", row_number().over(rankW))
      .select($"id", $"rnk".cast("long").as("dense_rank"))
    val lex = Tables.documents(s, d).where($"text".isNotNull)
      .select($"doc_id".as("id"),
        size(filter(split($"text", " "), t => t === "spark"))
          .cast("long").as("key"))
      .orderBy($"key".desc, $"id".asc).limit(50)
      .withColumn("rnk", row_number().over(rankW))
      .select($"id".as("lid"), $"rnk".cast("long").as("lex_rank"))
    dense.join(lex, $"id" === $"lid", "full_outer")
      .select(coalesce($"id", $"lid").as("doc_id"),
        (coalesce(expr("1000000000 div (60 + dense_rank)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + lex_rank)"), lit(0L)))
          .as("rrf_ppb"),
        $"dense_rank", $"lex_rank")
      .orderBy($"rrf_ppb".desc, $"doc_id")
      .limit(15)
  }

  /** L2-normalization of the embedding column — the prep step every
    * cosine-metric index (IVF, HNSW, brute-force dot) assumes. Fully
    * ROW-LOCAL (two codegen'd higher-order folds per row, zero
    * shuffles before the determinism sort): components micro-quantize
    * to exact integers, the squared norm is an exact integer fold
    * (order-immaterial), and the emitted checksums re-quantize the
    * unit vector — the only floats are one IEEE sqrt + division per
    * component on identical exact inputs, bit-identical cross-engine
    * (`events_rolling_corr` discipline). Zero-norm vectors are
    * excluded deterministically rather than NaN-propagated. */
  val embedNormalizeL2: CatalogEntry = CatalogEntry(
    "embed_normalize_l2",
    """WITH b AS (
      |  SELECT vec_id,
      |    [round(embedding[i] * 1e6)::BIGINT
      |     for i in range(1, len(embedding)+1)] AS q
      |  FROM embeddings),
      |n AS (SELECT vec_id, q,
      |        list_sum([x*x for x in q])::BIGINT AS norm2 FROM b)
      |SELECT vec_id, norm2,
      |  list_sum([round(x::DOUBLE / sqrt(norm2::DOUBLE) * 1e6)::BIGINT
      |            for x in q])::BIGINT AS unit_l1_ppm,
      |  list_sum([abs(round(x::DOUBLE / sqrt(norm2::DOUBLE) * 1e6))::BIGINT
      |            for x in q])::BIGINT AS unit_abs_ppm
      |FROM n WHERE norm2 > 0 ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id",
        transform($"embedding",
          x => round(x.cast("double") * 1e6).cast("long")).as("q"))
      .withColumn("norm2",
        aggregate($"q", lit(0L), (a, x) => a + x * x))
      .where($"norm2" > 0)
      .withColumn("unit_l1_ppm",
        aggregate($"q", lit(0L), (a, x) =>
          a + round(x.cast("double") / sqrt($"norm2".cast("double")) * 1e6)
            .cast("long")))
      .withColumn("unit_abs_ppm",
        aggregate($"q", lit(0L), (a, x) =>
          a + abs(round(x.cast("double") / sqrt($"norm2".cast("double"))
            * 1e6)).cast("long")))
      .select($"vec_id", $"norm2", $"unit_l1_ppm", $"unit_abs_ppm")
      .orderBy($"vec_id")
  }

  /** ANN recall@10 — the evaluation harness that justifies trusting
    * `sim_ann_lsh` at scale: the LSH candidate path's top-10 joined
    * against the exact brute-force top-10, reported as one (n_hit,
    * recall_pct) row. Composed from the two existing entries (same
    * plans, same oracles — the SQL nests both pipelines verbatim), so
    * this entry can never drift from what it evaluates. SimilaritySpec
    * asserts recall >= 0.9 at sf0.1; this makes the measurement a
    * first-class, hash-gated query instead of a test-only fact.
    *
    * Scale shape: both sides are top-10 rows; the join is trivial. At
    * 100 TB the same composition runs over a SAMPLE of query vectors
    * (a few thousand) — recall estimation never needs the corpus
    * twice. */
  val simRecallAtK: CatalogEntry = CatalogEntry(
    "sim_recall_at_k",
    s"""SELECT count(*)::BIGINT AS n_hit,
       |  (count(*) * 10)::BIGINT AS recall_pct
       |FROM (${simAnnLsh.oracle.get.replace("\n", "\n      ")}) a
       |JOIN (${simCosineTopk.oracle.get.replace("\n", "\n      ")}) e
       |  ON a.vec_id = e.vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ann = simAnnLsh.query(s, d).select($"vec_id")
    val exact = simCosineTopk.query(s, d).select($"vec_id".as("evid"))
    ann.join(exact, $"vec_id" === $"evid")
      .agg(count(lit(1)).as("n_hit"),
        (count(lit(1)) * 10).as("recall_pct"))
  }

  /** IVF recall-vs-nprobe curve — the tuning measurement for the
    * standard IVF knob, closing the ANN measurement story the same
    * way [[simRecallAtK]] gates the LSH path and `dedup_lsh_scurve`
    * curves the MinHash bands: recall@10 against the exact scan for
    * nprobe ∈ {1, 2, 4} probed clusters, as one hash-gated query. A
    * coarse quantizer with k clusters can hide a true neighbor in any
    * cluster the query's probe budget skips; this row set is the
    * evidence for choosing the budget, and a quantizer/geometry
    * regression moves the whole curve and fails the hash gate.
    *
    * Scale shape: each arm is two already-scale-safe plans (IVF probe
    * = broadcast centroid dim + nprobe cluster reads; exact = one
    * corpus pass, the measurement's ground truth) joined on two
    * 10-row sides. At 100 TB the curve runs over a SAMPLE of query
    * vectors — recall estimation never needs the corpus twice. */
  val simIvfRecallCurve: CatalogEntry = {
    def ivfSql(p: Int): String =
      s"""WITH cen AS (
         |  SELECT label, (i.gs - 1) AS pos,
         |    avg(embedding[i.gs]::DOUBLE)::FLOAT AS m
         |  FROM embeddings,
         |    unnest(generate_series(1, len(embedding))) AS i(gs)
         |  GROUP BY label, pos),
         |carr AS (SELECT label, list(m ORDER BY pos) AS centroid
         |         FROM cen GROUP BY label),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |nearest AS (
         |  SELECT label AS c_label, qe FROM carr, q
         |  ORDER BY
         |    list_sum([centroid[i]::DOUBLE * qe[i]::DOUBLE
         |              for i in range(1, 65)]) /
         |    (sqrt(list_sum([centroid[i]::DOUBLE * centroid[i]::DOUBLE
         |                    for i in range(1, 65)])) *
         |     sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
         |                    for i in range(1, 65)]))) DESC, label
         |  LIMIT $p)
         |SELECT e.vec_id FROM embeddings e JOIN nearest n ON e.label = n.c_label
         |ORDER BY round(
         |  list_sum([e.embedding[i]::DOUBLE * n.qe[i]::DOUBLE
         |            for i in range(1, 65)]) /
         |  (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
         |                  for i in range(1, 65)])) *
         |   sqrt(list_sum([n.qe[i]::DOUBLE * n.qe[i]::DOUBLE
         |                  for i in range(1, 65)]))), 6) DESC, e.vec_id
         |LIMIT 10""".stripMargin
    def armSql(p: Int): String =
      s"""SELECT $p::BIGINT AS nprobe, count(*)::BIGINT AS n_hit,
         |  (count(*) * 10)::BIGINT AS recall_pct
         |FROM (${ivfSql(p).replace("\n", "\n      ")}) a
         |JOIN (${simCosineTopk.oracle.get.replace("\n", "\n      ")}) e
         |  ON a.vec_id = e.vec_id""".stripMargin
    CatalogEntry(
      "sim_ivf_recall_curve",
      Seq(1, 2, 4).map(armSql).mkString(
        "SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY nprobe")) {
      (s, d) =>
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val exact = simCosineTopk.query(s, d).select($"vec_id".as("evid"))
        Seq(1, 2, 4).map { p =>
          Similarity.ivfTopK(emb, "vec_id", "embedding", "label",
            queryId = 0, k = 10, nProbe = p)
            .select($"vec_id")
            .join(exact, $"vec_id" === $"evid")
            .agg(count(lit(1)).as("n_hit"))
            .select(lit(p.toLong).as("nprobe"), $"n_hit",
              ($"n_hit" * 10).as("recall_pct"))
        }.reduce(_ unionByName _).orderBy($"nprobe")
    }
  }

  /** NDCG@10 of the IVF nprobe=1 arm against the exact ranking — the
    * ORDER-aware companion to [[simRecallAtK]]: recall treats a true
    * neighbor retrieved at rank 10 the same as at rank 1, NDCG
    * discounts it logarithmically, which is what a retrieval consumer
    * (RAG context packing, rerank budgets) actually experiences.
    * Graded relevance is position-derived (rel = 11 − exact_rank, 0
    * outside the exact top-10 — the standard implicit-judgment
    * setup), discount weights w_i = round(10⁹·ln2/ln(i+1)) are
    * integers from `ln` of exact integers, each DCG term is an
    * integer product, and NDCG is one positive integer division to
    * ppm — the hash gate covers the whole metric.
    *
    * Scale shape: both arms are existing scale-safe plans (broadcast
    * centroids / one corpus pass) cut to 10 rows before the metric;
    * the metric itself is 10-row arithmetic. At 100 TB the same
    * composition runs per query over a query SAMPLE, exactly like the
    * recall entries. */
  val simNdcgEval: CatalogEntry = {
    val exact = simCosineTopk.oracle.get.replace("\n", "\n      ")
    val sql =
      s"""WITH gold AS (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY cos_sim DESC, vec_id)::BIGINT
         |      AS grnk
         |  FROM ($exact)),
         |cen AS (
         |  SELECT label, (i.gs - 1) AS pos,
         |    avg(embedding[i.gs]::DOUBLE)::FLOAT AS m
         |  FROM embeddings,
         |    unnest(generate_series(1, len(embedding))) AS i(gs)
         |  GROUP BY label, pos),
         |carr AS (SELECT label, list(m ORDER BY pos) AS centroid
         |         FROM cen GROUP BY label),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |nearest AS (
         |  SELECT label AS c_label, qe FROM carr, qv
         |  ORDER BY ${cosSql("centroid", "qe")} DESC, label
         |  LIMIT 1),
         |cand0 AS (
         |  SELECT e.vec_id,
         |    round(${cosSql("e.embedding", "n.qe")}, 6) AS cos_sim
         |  FROM embeddings e JOIN nearest n ON e.label = n.c_label
         |  ORDER BY cos_sim DESC, e.vec_id LIMIT 10),
         |cand AS (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY cos_sim DESC, vec_id)::BIGINT
         |      AS crnk
         |  FROM cand0),
         |w AS (
         |  SELECT vec_id, crnk,
         |    round(1e9 * 0.6931471805599453 / ln((crnk + 1)::DOUBLE), 0)
         |      ::BIGINT AS wq
         |  FROM cand),
         |d AS (
         |  SELECT sum((CASE WHEN g.grnk IS NULL THEN 0
         |              ELSE 11 - g.grnk END) * w.wq)::BIGINT AS dcg_nano
         |  FROM w LEFT JOIN gold g USING (vec_id)),
         |i AS (
         |  SELECT sum((11 - grnk) *
         |    round(1e9 * 0.6931471805599453 / ln((grnk + 1)::DOUBLE), 0)
         |      ::BIGINT)::BIGINT AS idcg_nano
         |  FROM gold)
         |SELECT dcg_nano, idcg_nano,
         |  ((1000000::BIGINT * dcg_nano) // idcg_nano)::BIGINT AS ndcg_ppm
         |FROM d, i""".stripMargin
    CatalogEntry("sim_ndcg_eval", sql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val rankW = Window.orderBy($"cos_sim".desc, $"vec_id")
      val gold = simCosineTopk.query(s, d)
        .withColumn("grnk", row_number().over(rankW).cast("long"))
        .select($"vec_id", $"grnk")
      val wq = (c: org.apache.spark.sql.Column) =>
        round(lit(1e9) * lit(0.6931471805599453) /
          log((c + 1).cast("double")), 0).cast("long")
      val cand = Similarity.ivfTopK(emb, "vec_id", "embedding", "label",
        queryId = 0, k = 10, nProbe = 1)
        .withColumn("crnk", row_number().over(rankW).cast("long"))
        .select($"vec_id".as("cvid"), wq($"crnk").as("wq"))
      val dcg = cand.join(gold, $"cvid" === $"vec_id", "left")
        .agg(sum(coalesce(lit(11L) - $"grnk", lit(0L)) * $"wq")
          .as("dcg_nano"))
      val idcg = gold
        .agg(sum((lit(11L) - $"grnk") * wq($"grnk")).as("idcg_nano"))
      dcg.crossJoin(broadcast(idcg))
        .select($"dcg_nano", $"idcg_nano",
          expr("(1000000L * dcg_nano) div idcg_nano").as("ndcg_ppm"))
    }
  }

  /** SEMANTIC DECONTAMINATION — the embedding-space arm of the
    * decontam family (`decontam_ngram_overlap` / `_bloom_prefilter` /
    * `_substring_exact` catch verbatim leakage; a PARAPHRASED eval
    * item shares no 13-gram and sails through all three): flag every
    * training vector whose cosine to ANY held-out eval vector exceeds
    * 0.4 — the eval-vs-train twin of [[dedupSemanticEmbed]]'s
    * in-corpus prune, and the check modern model cards report
    * alongside n-gram decontamination. Eval membership is a
    * deterministic ~1% id-hash slice (`vec_id % 97 = 3`), so the
    * split is reproducible and engine-independent.
    *
    * Exactness: the [[dedupSemanticEmbed]] float-free threshold —
    * nano-quantized dot/norm sums from the codegen'd
    * [[graft.functions.VecDotQ9]] kernel, `cos > 0.4` squared to
    * `dotq > 0 AND 100·dotq² > 16·naq·nbq` in DECIMAL(38,0)/HUGEINT
    * (the in-corpus prune's [[cosAbove]] test); no
    * IEEE boundary can flip a contamination verdict.
    *
    * Scale shape: the eval suite is SMALL by nature (thousands of
    * rows) — broadcast it, one row-local codegen pass over the
    * training corpus, per-vector aggregate of hits only. At 100 TB
    * with a big eval battery the same pairing LSH-buckets first
    * (`sim_bucketed_pairs`), threshold algebra unchanged. */
  val decontamSemanticEmbed: CatalogEntry = CatalogEntry(
    "decontam_semantic_embed",
    """WITH ev AS (
      |  SELECT vec_id AS eid, embedding AS evec,
      |    list_sum([roundbankers((embedding[i]::DOUBLE) *
      |                (embedding[i]::DOUBLE) * 1e9, 0)::BIGINT
      |              for i in range(1, len(embedding) + 1)])::BIGINT AS nbq
      |  FROM embeddings WHERE vec_id % 97 = 3),
      |tr AS (
      |  SELECT vec_id, embedding AS v,
      |    list_sum([roundbankers((embedding[i]::DOUBLE) *
      |                (embedding[i]::DOUBLE) * 1e9, 0)::BIGINT
      |              for i in range(1, len(embedding) + 1)])::BIGINT AS naq
      |  FROM embeddings WHERE vec_id % 97 <> 3),
      |p AS (
      |  SELECT t.vec_id, e.eid,
      |    list_sum([roundbankers((t.v[i]::DOUBLE) * (e.evec[i]::DOUBLE)
      |                * 1e9, 0)::BIGINT
      |              for i in range(1, len(t.v) + 1)])::BIGINT AS dotq,
      |    t.naq, e.nbq
      |  FROM tr t, ev e)
      |SELECT vec_id, count(*)::BIGINT AS n_eval_hits,
      |  min(eid)::BIGINT AS closest_eval
      |FROM p
      |WHERE dotq > 0 AND
      |  100::HUGEINT * dotq::HUGEINT * dotq::HUGEINT >
      |  16::HUGEINT * naq::HUGEINT * nbq::HUGEINT
      |GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val ev = emb.where($"vec_id" % 97 === 3)
      .select($"vec_id".as("eid"), $"embedding".as("evec"),
        expr("vec_dot_q9(embedding, embedding)").as("nbq"))
    val tr = emb.where($"vec_id" % 97 =!= 3)
      .select($"vec_id", $"embedding".as("v"),
        expr("vec_dot_q9(embedding, embedding)").as("naq"))
    tr.crossJoin(broadcast(ev))
      .select($"vec_id", $"eid", $"naq", $"nbq",
        expr("vec_dot_q9(v, evec)").as("dotq"))
      .where(cosAbove(16))
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), min($"eid").as("closest_eval"))
      .orderBy($"vec_id")
  }

  /** MATRYOSHKA TRUNCATION RECALL (Kusupati et al., NeurIPS 2022) —
    * recall@10 of PREFIX-truncated embeddings (d ∈ {8, 16, 32} of 64)
    * against the exact full-dimension top-10: the measurement behind
    * shipping d/8th-size vectors for the ANN index and rescoring the
    * shortlist at full width. MRL-trained embeddings concentrate
    * information in the prefix and this curve rises steeply; this
    * fixture's embeddings are NOT matryoshka-trained, so the curve is
    * low and non-monotonic — which is exactly what the harness should
    * report before anyone truncates them (the measurement, not the
    * model, is the deliverable; `sim_recall_at_k` discipline).
    *
    * Scale shape: each arm is one corpus pass of a d-prefix cosine
    * (row-local `slice` + native dot vs the broadcast query prefix)
    * cut to 10 rows, joined to the exact 10-row side; at 100 TB the
    * curve runs over a query SAMPLE exactly like the recall
    * entries — and the truncated arm's scan reads d/64th of the
    * vector bytes, which is the entry's whole point. */
  val embedMatryoshkaRecall: CatalogEntry = {
    def cosPrefixSql(d: Int): String =
      s"""(list_sum([te[i]::DOUBLE * qe[i]::DOUBLE
         |           for i in range(1, $d + 1)]) /
         |  (sqrt(list_sum([te[i]::DOUBLE * te[i]::DOUBLE
         |                  for i in range(1, $d + 1)])) *
         |   sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
         |                  for i in range(1, $d + 1)]))))""".stripMargin
    def armSql(d: Int): String =
      s"""SELECT $d::BIGINT AS dim, count(*)::BIGINT AS n_hit,
         |  (count(*) * 10)::BIGINT AS recall_pct
         |FROM (
         |  WITH tr AS (SELECT vec_id, embedding[1:$d] AS te
         |              FROM embeddings),
         |  q AS (SELECT embedding[1:$d] AS qe FROM embeddings
         |        WHERE vec_id = 0)
         |  SELECT vec_id FROM (
         |    SELECT tr.vec_id, round(${cosPrefixSql(d)}, 6) AS cos_sim
         |    FROM tr, q ORDER BY cos_sim DESC, vec_id LIMIT 10)) a
         |JOIN (${simCosineTopk.oracle.get.replace("\n", "\n      ")}) e
         |  ON a.vec_id = e.vec_id""".stripMargin
    CatalogEntry(
      "embed_matryoshka_recall",
      Seq(8, 16, 32).map(armSql).mkString(
        "SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY dim")) {
      (s, d) =>
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        // localCheckpoint: the exact side joins into all three arms —
        // without it each arm re-runs the full-width cosine scan,
        // paying 3 exact passes for a 10-row frame
        val exact = simCosineTopk.query(s, d).select($"vec_id".as("evid"))
          .localCheckpoint()
        def arm(dm: Int): org.apache.spark.sql.DataFrame = {
          val tr = emb.select($"vec_id", slice($"embedding", 1, dm).as("te"))
          val q = emb.filter($"vec_id" === 0)
            .select(slice($"embedding", 1, dm).as("qe"))
          tr.crossJoin(broadcast(q))
            .select($"vec_id",
              round(Similarity.cosineNative($"te", $"qe"), 6).as("cos_sim"))
            .orderBy($"cos_sim".desc, $"vec_id".asc)
            .limit(10)
            .join(exact, $"vec_id" === $"evid")
            .agg(count(lit(1)).as("n_hit"),
              (count(lit(1)) * 10).as("recall_pct"))
            .select(lit(dm.toLong).as("dim"), $"n_hit", $"recall_pct")
        }
        Seq(8, 16, 32).map(arm).reduce(_ unionByName _).orderBy($"dim")
    }
  }

  /** Oracle tail for [[embedPcaDeflate]]: four deflated power-iteration
    * rounds chained after [[pcaOracleChain]]'s `v5`, ending at `u5` plus
    * the Rayleigh ratio and orthogonality scalars. Every round is the
    * algebra w' = Σₓ x'(x'·u) with x' = x − v₁(x·v₁)/|v₁|² expanded by
    * linearity into A − v₁·B/|v₁|² so the deflated vectors never
    * materialize — A and B are one corpus pass each. */
  private val pcaDeflateChain: String = {
    val head =
      """,
        |v5m AS MATERIALIZED (SELECT pos, v_micro FROM v5),
        |nrm AS MATERIALIZED (
        |  SELECT sum(v_micro * v_micro)::HUGEINT AS n1 FROM v5m),
        |vaf2 AS MATERIALIZED (
        |  SELECT list(v_micro / 1e6 ORDER BY pos) AS v FROM v5m),
        |u1 AS MATERIALIZED (
        |  SELECT (i.gs - 1)::INT AS pos, 125000::BIGINT AS u_micro
        |  FROM unnest(generate_series(1, 64)) AS i(gs))""".stripMargin
    val rounds = (1 to 4).map { r =>
      s""",
         |ua$r AS MATERIALIZED (
         |  SELECT list(u_micro / 1e6 ORDER BY pos) AS u FROM u$r),
         |c$r AS MATERIALIZED (
         |  SELECT sum(v.v_micro * u.u_micro)::HUGEINT AS c
         |  FROM v5m v JOIN u$r u USING (pos)),
         |tp$r AS MATERIALIZED (
         |  SELECT e.vec_id,
         |    list_sum([round(e.embedding[i]::DOUBLE * (va.v)[i] * 1e9,
         |                    0)::BIGINT
         |              for i in range(1, len(e.embedding) + 1)])::BIGINT
         |      AS dq,
         |    (list_sum([round(e.embedding[i]::DOUBLE * (ua.u)[i] * 1e9,
         |                     0)::BIGINT
         |               for i in range(1, len(e.embedding) + 1)])::HUGEINT
         |     - (list_sum([round(e.embedding[i]::DOUBLE * (va.v)[i] * 1e9,
         |                        0)::BIGINT
         |                  for i in range(1, len(e.embedding) + 1)])::HUGEINT
         |        * c.c) // n.n1)::HUGEINT AS tp
         |  FROM embeddings e, vaf2 va, ua$r ua, c$r c, nrm n),
         |a$r AS MATERIALIZED (
         |  SELECT (i.gs - 1)::INT AS pos,
         |    sum(round(e.embedding[i.gs]::DOUBLE * (t.tp / 1e9) * 1e6,
         |              0)::BIGINT)::HUGEINT AS a
         |  FROM embeddings e JOIN tp$r t USING (vec_id),
         |       unnest(generate_series(1, 64)) AS i(gs)
         |  GROUP BY pos),
         |b$r AS MATERIALIZED (
         |  SELECT sum((t.dq::HUGEINT * t.tp)
         |    // 1000000000000)::HUGEINT AS b
         |  FROM tp$r t),
         |dw$r AS MATERIALIZED (
         |  SELECT a.pos,
         |    (a.a - (v.v_micro::HUGEINT * b.b) // n.n1)::HUGEINT AS w
         |  FROM a$r a JOIN v5m v USING (pos), b$r b, nrm n),
         |dn$r AS MATERIALIZED (
         |  SELECT sum(w * w)::HUGEINT AS n2 FROM dw$r),
         |u${r + 1} AS MATERIALIZED (
         |  SELECT pos,
         |    round((w::DOUBLE) / sqrt(n2::DOUBLE) * 1e6, 0)::BIGINT AS u_micro
         |  FROM dw$r, dn$r)""".stripMargin
    }.mkString
    val tail =
      """,
        |uaf AS MATERIALIZED (
        |  SELECT list(u_micro / 1e6 ORDER BY pos) AS u FROM u5),
        |rayq AS MATERIALIZED (
        |  SELECT
        |    list_sum([round(e.embedding[i]::DOUBLE * (va.v)[i] * 1e9,
        |                    0)::BIGINT
        |              for i in range(1, len(e.embedding) + 1)])::HUGEINT AS dq,
        |    list_sum([round(e.embedding[i]::DOUBLE * (ua.u)[i] * 1e9,
        |                    0)::BIGINT
        |              for i in range(1, len(e.embedding) + 1)])::HUGEINT AS uq
        |  FROM embeddings e, vaf2 va, uaf ua),
        |ray AS MATERIALIZED (
        |  SELECT sum(dq * dq)::HUGEINT AS r1,
        |    sum(uq * uq)::HUGEINT AS r2 FROM rayq),
        |orto AS MATERIALIZED (
        |  SELECT sum(v.v_micro * u.u_micro)::BIGINT AS o
        |  FROM v5m v JOIN u5 u USING (pos))""".stripMargin
    head + rounds + tail
  }

  /** SECOND principal direction via DEFLATED matrix-free power
    * iteration — [[embedPcaPowerIter]] extended to top-2 PCA, the
    * minimum a whitening pass (all-but-the-top-K, Mu & Viswanath) or a
    * 2-D embedding-drift monitor needs. Four unrolled rounds of
    * u ← Σₓ x'(x'·u) over the DEFLATED vectors x' = x − v₁(x·v₁)/|v₁|²
    * — expanded by linearity to u' = A − v₁·B/|v₁|² with
    * A_j = Σₓ x_j·t'ₓ and B = Σₓ (x·v₁)·t'ₓ, so the deflated corpus is
    * NEVER materialized: each round stays one corpus pass of row-local
    * folds against 64-cell direction literals (the only formulation that
    * exists at 100 TB), plus 64-cell metadata algebra on the driver.
    *
    * Exactness: same integer lattice as the v₁ chain (micro-quantized
    * directions, nano-quantized per-row dots, DECIMAL(38,0)/HUGEINT
    * accumulators); the deflation corrections (x·v₁)·c/|v₁|² and
    * v₁·B/|v₁|² are single truncating divisions (`div` ≡ `//`, toward
    * zero, negatives included — the events_interpolate discipline), so
    * both engines walk identical integers through all four rounds.
    * Output: both directions side by side, the Rayleigh-quotient
    * variance ratio λ₂²/λ₁² as exact ppm of Σ(x·u)²/Σ(x·v)², and the
    * orthogonality witness Σv₁·u in micro² (scale: |v|² = 10¹²). On
    * this i.i.d. synthetic fixture the spectrum is nearly FLAT —
    * lam2_ppm ≈ 0.92·10⁶ and ~10% residual v₁/u cross-talk are what
    * four fixed power-iteration rounds give when λ₁ ≈ λ₂ (the
    * separation rate is (λ₂/λ₁)^rounds), and the entry reports that
    * honestly, like `embed_matryoshka_recall`'s low curve; the hash
    * gate covers the exact integers either way, and a real anisotropic
    * corpus is exactly where the measurement turns informative. */
  val embedPcaDeflate: CatalogEntry = CatalogEntry(
    "embed_pca_deflate",
    pcaOracleChain + pcaDeflateChain + """
      |SELECT v.pos, v.v_micro AS v1_micro, u.u_micro AS v2_micro,
      |  ((1000000::HUGEINT * r.r2) // r.r1)::BIGINT AS lam2_ppm,
      |  o.o AS ortho_micro2
      |FROM v5m v JOIN u5 u USING (pos), ray r, orto o
      |ORDER BY v.pos""".stripMargin) { (s, d) =>
    import s.implicits._
    import java.math.{BigDecimal => JBigDecimal}
    val emb = Tables.embeddings(s, d)
    val v1 = pcaDirection(s, d)
    val va = DriverMath.microLit(v1)
    val n1 = v1.map(x => x * x).sum
    def dot(a: Array[Long], b: Array[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    val u = (1 to 4).foldLeft(Array.fill(64)(125000L)) { (u, _) =>
      // A and B are sums over the same per-row quantities, so ONE corpus
      // pass computes both: B's addend rides the pos = 0 slot of A's
      // posexplode (each source row contributes its bb exactly once).
      val ab = emb
        .select($"embedding",
          DriverMath.dotNano($"embedding", va).as("dq"),
          DriverMath.dotNano($"embedding", DriverMath.microLit(u)).as("tq"),
          lit(n1).as("n1"), lit(dot(v1, u)).as("c"))
        .select($"embedding", $"dq", expr(
          "cast(tq as decimal(38,0)) - (cast(dq as decimal(38,0))" +
            " * cast(c as decimal(38,0))) div cast(n1 as decimal(38,0))")
          .as("tp"))
        .select($"dq", $"tp",
          ($"tp".cast("double") / lit(1e9)).as("sd"),
          posexplode($"embedding").as(Seq("pos", "x")))
        .select($"pos",
          round($"x".cast("double") * $"sd" * lit(1e6), 0)
            .cast("long").as("c0"),
          when($"pos" === 0, expr("(cast(dq as decimal(38,0)) * tp)" +
            " div 1000000000000")).as("bb"))
        .groupBy($"pos")
        .agg(sum($"c0".cast("decimal(38,0)")).as("a"), sum($"bb").as("b0"))
        .collect().sortBy(_.getInt(0))
      val b = JBigDecimal.valueOf(ab.filterNot(_.isNullAt(2)).map(_.getLong(2)).sum)
      // w = A − v₁·B div |v₁|², truncating like Spark's decimal `div`
      DriverMath.unitMicro(ab.toSeq.map { r =>
        val vb = JBigDecimal.valueOf(v1(r.getInt(0))).multiply(b)
        r.getDecimal(1).subtract(JBigDecimal.valueOf(DriverMath.div(vb, JBigDecimal.valueOf(n1))))
      })
    }
    val rows = if (v1.isEmpty) Nil else {
      val ray = emb
        .select(DriverMath.dotNano($"embedding", va).as("dq"),
          DriverMath.dotNano($"embedding", DriverMath.microLit(u)).as("uq"))
        .agg(
          sum(($"dq".cast("decimal(19,0)") * $"dq".cast("decimal(19,0)"))
            .cast("decimal(38,0)")).as("r1"),
          sum(($"uq".cast("decimal(19,0)") * $"uq".cast("decimal(19,0)"))
            .cast("decimal(38,0)")).as("r2"))
        .collect().head
      val lam2 = DriverMath.div(
        JBigDecimal.valueOf(1000000L).multiply(ray.getDecimal(1)), ray.getDecimal(0))
      v1.indices.map(i => (i, v1(i), u(i), lam2, dot(v1, u)))
    }
    rows.toDF("pos", "v1_micro", "v2_micro", "lam2_ppm", "ortho_micro2")
  }

  def entries: Seq[CatalogEntry] = Seq(
    embedMatryoshkaRecall,
    simCosineTopk, simAnnLsh, simBucketedPairs, simIvf, simQuantizedTopk, simRecallAtK,
    simIvfRecallCurve, simNdcgEval, decontamSemanticEmbed, simPqRecall,
    arrayStats, embeddingCentroids, arrayManipulation,
    dedupSemanticEmbed,
    embedKmeansAssign, embedKmeansUpdate, embedDimStats, hybridRrf,
    embedNormalizeL2, embedOutlierCentroid, simHardNegatives,
    retrievalMmrDiversify, embedPcaPowerIter, embedAbttResidual,
    simPqAdc, embedPcaDeflate)
}
