package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.TextOps

/** Portable probabilistic-sketch entries — the constant-state distinct
  * counting and frequency estimation a 100 TB census layer runs on,
  * each with a DuckDB oracle that replays the literal column
  * formulation of the hashing the row-local kernels compute
  * (the `*_portable` twin discipline of SketchExpressions.scala).
  *
  * Spark's own `approx_count_distinct` (HLL++) and `count_min_sketch`
  * are implementation-defined binary states with no cross-engine
  * replay, so the existing entries that use them are rows-only
  * (`join_approx_distinct`, `profile_summary_stats`); these entries
  * upgrade the sketch family to full-oracle by pinning every hash to
  * the md5-prefix-60 arithmetic both engines compute bit-identically.
  *
  * JIT hygiene (the r15/r17/r18 trap, BASELINE.md): the per-gram md5
  * work lives in the row-local `hll_regs_md5` / `kmin_hash_md5`
  * kernels — never an md5-dense exploded column. The only md5-as-column
  * use below is the CMS salt table over the VOCAB-sized census
  * (~4 × 900 rows at sf0.01 — metadata scale, not the corpus-dense
  * generated-code shape that deopts shared primitives).
  */
object SketchQueries {

  /** Portable HyperLogLog distinct-gram census per source (Flajolet et
    * al. 2007, m = 64 registers): registers from the row-local
    * [[graft.functions.SketchAlgos.hllRegsData]] kernel, merged across
    * documents by element-wise max — a fixed 64-long vector per source
    * no matter the corpus, which is the whole reason HLL is the 100 TB
    * distinct-count path (the exact arm's `count(DISTINCT gram)`
    * shuffles the distinct gram set; the sketch arm shuffles 64
    * numbers). The raw estimator αm·m²/Σ2^(−M_j) is restated exactly:
    * Σ2^(62−M_j) is an exact DECIMAL(38,0)/HUGEINT sum and the
    * estimate two integer divisions (α as the fixed literal 709343
    * ppm = 0.7213/(1+1.079/64)), so the output hash cannot sit on a
    * float boundary. The small-range branch (V zero registers > 0 and
    * raw ≤ 5m/2 → linear counting m·ln(m/V)) is included for
    * correctness — ln of an exact integer ratio per the established
    * float discipline — and exercised by the spec (the sf ≥ 0.01
    * corpus saturates all registers). err_ppm against the exact arm
    * IS the measurement: ±13% expected at m = 64 (RSE 1.04/√m).
    * reg_check = Σ(bucket+1)·M_j hash-gates the full register state,
    * not just the estimate. */
  val distinctHllPortable: CatalogEntry = CatalogEntry(
    "distinct_hll_portable",
    """WITH t AS (SELECT source, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT source,
      |        unnest([array_to_string(toks[i:i+2], ' ')
      |                for i in range(1, len(toks) - 1)]) AS gram
      |      FROM t WHERE len(toks) >= 3),
      |h AS (SELECT source, gram,
      |        ('0x' || substring(md5(gram), 1, 15))::BIGINT AS hv FROM g),
      |r AS (SELECT source, hv % 64 AS bucket,
      |        CASE WHEN hv // 64 = 0 THEN 55
      |             ELSE 55 - length(format('{:b}', hv // 64)) END AS rho
      |      FROM h),
      |reg0 AS (SELECT source, bucket, max(rho)::BIGINT AS m
      |         FROM r GROUP BY source, bucket),
      |grid AS (SELECT s.source, b.bucket, coalesce(reg0.m, 0) AS m
      |         FROM (SELECT DISTINCT source FROM t) s
      |         CROSS JOIN (SELECT unnest(range(64)) AS bucket) b
      |         LEFT JOIN reg0
      |           ON reg0.source = s.source AND reg0.bucket = b.bucket),
      |agg AS (SELECT source,
      |          sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS v_zero,
      |          sum(1::HUGEINT << (62 - m)::INT)::HUGEINT AS s_sum,
      |          sum((bucket + 1) * m)::BIGINT AS reg_check
      |        FROM grid GROUP BY source),
      |raw AS (SELECT source, v_zero, reg_check,
      |          ((709343::HUGEINT * 4096 * 4611686018427387904)
      |             // s_sum // 1000000)::BIGINT AS est_raw
      |        FROM agg),
      |fin AS (SELECT source, v_zero, reg_check,
      |          CASE WHEN v_zero > 0 AND est_raw <= 160
      |               THEN round(64000 * ln(64.0 / v_zero))::BIGINT // 1000
      |               ELSE est_raw END AS est
      |        FROM raw),
      |ex AS (SELECT source, count(DISTINCT gram)::BIGINT AS n_exact
      |       FROM g GROUP BY source)
      |SELECT f.source, e.n_exact, f.v_zero, f.reg_check, f.est,
      |  (1000000 * abs(f.est - e.n_exact)) // e.n_exact AS err_ppm
      |FROM fin f JOIN ex e ON e.source = f.source
      |ORDER BY f.source""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).where($"text".isNotNull)
    // sketch arm: one kernel call per doc, 64-row state per source
    val regs = docs
      .select($"source", expr("hll_regs_md5(text, 64, 3)").as("regs"))
      .select($"source", posexplode($"regs").as(Seq("bucket", "m")))
      .groupBy($"source", $"bucket").agg(max($"m").as("m"))
    val agg = regs.groupBy($"source").agg(
      sum(when($"m" === 0L, 1L).otherwise(0L)).as("v_zero"),
      sum(expr("shiftleft(cast(1 as bigint), cast(62 - m as int))")
        .cast("decimal(38,0)")).as("s_sum"),
      sum(($"bucket" + 1) * $"m").as("reg_check"))
    val fin = agg
      .withColumn("est_raw", expr(
        "cast(cast(709343 as decimal(38,0)) * 4096" +
          " * cast(4611686018427387904 as decimal(38,0))" +
          " div s_sum div 1000000 as bigint)"))
      .withColumn("est",
        when($"v_zero" > 0 && $"est_raw" <= 160,
          expr("cast(round(64000 * ln(64.0 / v_zero)) as bigint) div 1000"))
          .otherwise($"est_raw"))
    // exact arm: the measurement (at 100 TB you'd keep only the sketch)
    val grams = docs
      .select($"source", TextOps.tokens($"text").as("toks"))
      .select($"source", explode(TextOps.tokenNgrams($"toks", 3)).as("gram"))
    val ex = grams.groupBy($"source")
      .agg(countDistinct($"gram").as("n_exact"))
    fin.join(ex, "source")
      .select($"source", $"n_exact", $"v_zero", $"reg_check", $"est",
        expr("(1000000 * abs(est - n_exact)) div n_exact").as("err_ppm"))
      .orderBy($"source")
  }

  /** KMV / bottom-k theta-sketch set operations between source pairs
    * (Bar-Yossef et al. 2002; the theta-sketch union/intersection
    * estimators of Dasgupta et al.): each source keeps its k = 64
    * smallest distinct gram hashes (from the row-local per-doc
    * [[graft.functions.SketchAlgos.kminHashData]] kernel — per-doc
    * bottom-k sketches merge losslessly by union-then-retake-k), and
    * every pairwise union/intersection/Jaccard is then estimated on
    * the SKETCHES alone: θ = min(θ_A, θ_B), est = |{h < θ}| · 2⁶⁰/θ.
    * That is the 100 TB capability this entry gates — 190 pairwise
    * set-op estimates from twenty 64-row sketches, the corpus scanned
    * exactly once, vs the exact arm whose pairwise intersection is a
    * corpus-sized gram self-join. All estimator arithmetic is integer
    * (2⁶⁰ literal, HUGEINT/DECIMAL(38,0) widening, `//` ≡ `div`);
    * expected RSE at k = 64 is ~12.6% (1/√(k−1)), and jac_est vs
    * jac_exact ppm side by side IS the measurement. */
  val distinctKmvSetops: CatalogEntry = CatalogEntry(
    "distinct_kmv_setops",
    """WITH t AS (SELECT source, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT DISTINCT source,
      |        unnest([array_to_string(toks[i:i+2], ' ')
      |                for i in range(1, len(toks) - 1)]) AS gram
      |      FROM t WHERE len(toks) >= 3),
      |h AS (SELECT DISTINCT source,
      |        ('0x' || substring(md5(gram), 1, 15))::BIGINT AS hv FROM g),
      |rk AS (SELECT source, hv,
      |        row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
      |      FROM h),
      |sk AS (SELECT source, hv FROM rk WHERE rn <= 64),
      |theta AS (SELECT source, max(hv) AS th FROM sk GROUP BY source),
      |pairs AS (SELECT a.source AS sa, b.source AS sb,
      |            least(a.th, b.th) AS th
      |          FROM theta a JOIN theta b ON a.source < b.source),
      |u AS (SELECT p.sa, p.sb, s.hv,
      |        max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
      |        max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
      |      FROM pairs p JOIN sk s
      |        ON s.source IN (p.sa, p.sb) AND s.hv < p.th
      |      GROUP BY p.sa, p.sb, s.hv),
      |est AS (SELECT sa, sb, count(*)::BIGINT AS cu,
      |          sum(in_a * in_b)::BIGINT AS ci
      |        FROM u GROUP BY sa, sb),
      |estj AS (SELECT e.sa, e.sb, e.cu, e.ci, p.th
      |         FROM est e JOIN pairs p ON p.sa = e.sa AND p.sb = e.sb),
      |nd AS (SELECT source, count(*)::BIGINT AS n FROM g GROUP BY source),
      |inter AS (SELECT a.source AS sa, b.source AS sb,
      |            count(*)::BIGINT AS ci
      |          FROM g a JOIN g b
      |            ON a.gram = b.gram AND a.source < b.source
      |          GROUP BY 1, 2)
      |SELECT e.sa, e.sb,
      |  na.n + nb.n - coalesce(i.ci, 0) AS exact_union,
      |  ((e.cu::HUGEINT * 1152921504606846976) // e.th)::BIGINT
      |    AS est_union,
      |  coalesce(i.ci, 0) AS exact_inter,
      |  ((e.ci::HUGEINT * 1152921504606846976) // e.th)::BIGINT
      |    AS est_inter,
      |  (1000000 * coalesce(i.ci, 0))
      |    // (na.n + nb.n - coalesce(i.ci, 0)) AS jac_exact_ppm,
      |  (1000000 * e.ci) // e.cu AS jac_est_ppm
      |FROM estj e
      |JOIN nd na ON na.source = e.sa
      |JOIN nd nb ON nb.source = e.sb
      |LEFT JOIN inter i ON i.sa = e.sa AND i.sb = e.sb
      |ORDER BY e.sa, e.sb""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).where($"text".isNotNull)
    // sketch arm: per-doc bottom-k kernels, merged per source
    val hv = docs
      .select($"source", expr("kmin_hash_md5(text, 64, 3)").as("ks"))
      .select($"source", explode($"ks").as("hv"))
      .distinct()
    val sk = hv
      .withColumn("rn",
        row_number().over(Window.partitionBy($"source").orderBy($"hv")))
      .where($"rn" <= 64).select($"source", $"hv")
    val theta = sk.groupBy($"source").agg(max($"hv").as("th"))
    // 20-source metadata grid: stays 20 rows at 100 TB (broadcast
    // pair-cross of per-key aggregates — the stats_chisq grid shape)
    val pairs = theta.as("a")
      .join(broadcast(theta.as("b")), $"a.source" < $"b.source")
      .select($"a.source".as("sa"), $"b.source".as("sb"),
        least($"a.th", $"b.th").as("th"))
    val uA = pairs.join(sk.as("s"), $"s.source" === $"sa" && $"s.hv" < $"th")
      .select($"sa", $"sb", $"hv", lit(1).as("in_a"), lit(0).as("in_b"))
    val uB = pairs.join(sk.as("s"), $"s.source" === $"sb" && $"s.hv" < $"th")
      .select($"sa", $"sb", $"hv", lit(0).as("in_a"), lit(1).as("in_b"))
    val est = uA.union(uB)
      .groupBy($"sa", $"sb", $"hv")
      .agg(max($"in_a").as("in_a"), max($"in_b").as("in_b"))
      .groupBy($"sa", $"sb")
      .agg(count(lit(1)).as("cu"), sum($"in_a" * $"in_b").as("ci"))
      .join(pairs, Seq("sa", "sb"))
    // exact arm: the measurement the sketches are judged against
    val grams = docs
      .select($"source", TextOps.tokens($"text").as("toks"))
      .select($"source", explode(TextOps.tokenNgrams($"toks", 3)).as("gram"))
      .distinct()
    val nd = grams.groupBy($"source").agg(count(lit(1)).as("n"))
    val inter = grams.as("a")
      .join(grams.as("b"),
        $"a.gram" === $"b.gram" && $"a.source" < $"b.source")
      .select($"a.source".as("sa"), $"b.source".as("sb"))
      .groupBy($"sa", $"sb").agg(count(lit(1)).as("exact_inter0"))
    est
      .join(nd.select($"source".as("sa"), $"n".as("na")), "sa")
      .join(nd.select($"source".as("sb"), $"n".as("nb")), "sb")
      .join(inter, Seq("sa", "sb"), "left")
      .select($"sa", $"sb",
        ($"na" + $"nb" - coalesce($"exact_inter0", lit(0L)))
          .as("exact_union"),
        expr("cast(cast(cu as decimal(38,0)) * 1152921504606846976" +
          " div th as bigint)").as("est_union"),
        coalesce($"exact_inter0", lit(0L)).as("exact_inter"),
        expr("cast(cast(ci as decimal(38,0)) * 1152921504606846976" +
          " div th as bigint)").as("est_inter"),
        expr("(1000000 * coalesce(exact_inter0, 0))" +
          " div (na + nb - coalesce(exact_inter0, 0))")
          .as("jac_exact_ppm"),
        expr("(1000000 * ci) div cu").as("jac_est_ppm"))
      .orderBy($"sa", $"sb")
  }

  /** Count-min sketch frequency estimation (Cormode & Muthukrishnan
    * 2005) with a portable d = 4 × w = 256 array over word BIGRAMS:
    * cell(i, b) = Σ counts of grams hashing to b under salt i, point
    * estimate = min over the 4 rows — never an underestimate, and
    * P[overestimate > e·N/w] ≤ e^−d per query. Both the estimate AND
    * the guarantee are gated: within_bound checks est − c ≤
    * ⌊2.718282·N/256⌋ per top-20 gram, integer-exactly. The fixture's
    * flat bigram distribution (~900 distinct, no true heavy hitters)
    * makes the measured over_ppm honestly large — the entry reports
    * the sketch's real behavior at this N/w, exactly as pq_recall
    * reports its codebook's 20%. Scale shape: the CMS state is 1024
    * cells regardless of corpus size; here cells reduce from the
    * vocab-sized census (which the exact arm needs anyway) — a
    * production pass without the exact arm aggregates the occurrence
    * stream straight into 4·w map-side-combined partials. The md5
    * salt table is vocab × 4 rows — metadata scale, outside the
    * corpus-dense md5-column trap (BASELINE.md r18). */
  val sketchCmsBigram: CatalogEntry = CatalogEntry(
    "sketch_cms_bigram",
    """WITH t AS (SELECT string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT unnest([array_to_string(toks[i:i+1], ' ')
      |                for i in range(1, len(toks))]) AS w
      |      FROM t WHERE len(toks) >= 2),
      |cen AS (SELECT w, count(*)::BIGINT AS c FROM g GROUP BY w),
      |tot AS (SELECT sum(c)::BIGINT AS n FROM cen),
      |salted AS (SELECT s.salt, cen.w, cen.c,
      |    ('0x' || substring(md5(s.salt::VARCHAR || ':' || cen.w), 1, 15))
      |      ::BIGINT % 256 AS b
      |  FROM cen CROSS JOIN (SELECT unnest(range(4)) AS salt) s),
      |cells AS (SELECT salt, b, sum(c)::BIGINT AS cell
      |          FROM salted GROUP BY salt, b),
      |top20 AS (SELECT w, c FROM cen ORDER BY c DESC, w LIMIT 20),
      |est AS (SELECT t.w, t.c, min(cells.cell)::BIGINT AS est
      |        FROM top20 t JOIN salted sa ON sa.w = t.w
      |        JOIN cells ON cells.salt = sa.salt AND cells.b = sa.b
      |        GROUP BY t.w, t.c)
      |SELECT e.w AS gram, e.c AS n_exact, e.est,
      |  (1000000 * (e.est - e.c)) // e.c AS over_ppm,
      |  CASE WHEN e.est - e.c <= (2718282::BIGINT * tot.n) // 256000000
      |       THEN 1 ELSE 0 END AS within_bound
      |FROM est e CROSS JOIN tot
      |ORDER BY e.c DESC, e.w""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).where($"text".isNotNull)
    val g = docs
      .select(TextOps.tokens($"text").as("toks"))
      .where(size($"toks") >= 2)
      .select(explode(TextOps.ngramWindows($"toks", 2)).as("w"))
    val cen = g.groupBy($"w").agg(count(lit(1)).as("c"))
    val tot = cen.agg(sum($"c").as("n"))
    val salted = cen
      .select($"w", $"c", explode(sequence(lit(0), lit(3))).as("salt"))
      .withColumn("b",
        conv(substring(md5(concat($"salt".cast("string"), lit(":"), $"w")),
          1, 15), 16, 10).cast("long") % 256)
    val cells = salted.groupBy($"salt", $"b").agg(sum($"c").as("cell"))
    val top20 = cen.orderBy($"c".desc, $"w").limit(20)
    top20
      .join(salted.select($"w", $"salt", $"b"), "w")
      .join(broadcast(cells), Seq("salt", "b"))
      .groupBy($"w", $"c").agg(min($"cell").as("est"))
      .crossJoin(broadcast(tot))
      .select($"w".as("gram"), $"c".as("n_exact"), $"est",
        expr("(1000000 * (est - c)) div c").as("over_ppm"),
        when($"est" - $"c" <= expr("(2718282 * n) div 256000000"), 1)
          .otherwise(0).as("within_bound"))
      .orderBy($"n_exact".desc, $"gram")
  }

  /** AMS / tug-of-war second-moment sketch (Alon-Matias-Szegedy '96):
    * F₂ = Σn² of the per-source trigram census estimated from 9
    * ±1-signed sums — sign from one md5 bit per (salt, gram), estimate
    * = median of the 9 squared sums (row_number = 5 under the total
    * (e, salt) order — integer-exact, no float median). F₂ is the
    * self-join-size / Simpson-concentration moment
    * (`corpus_simpson_diversity`'s denominator); the AMS state is 9
    * BIGINTs per source no matter the vocabulary, and the signed sums
    * are plain partial-aggregable sums — the sketch a 100 TB census
    * layer keeps when even the vocab-sized census is too big to
    * rescan. Single-estimator RSE is √2 (the fixture's flat counts are
    * AMS's worst case) and the median-of-9 only tames tails — err_ppm
    * vs the exact arm reports that honestly, like `sim_pq_recall`'s
    * 20%. The md5 salt table is vocab × 9 rows — metadata scale. */
  val sketchAmsF2: CatalogEntry = CatalogEntry(
    "sketch_ams_f2",
    """WITH t AS (SELECT source, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT source,
      |        unnest([array_to_string(toks[i:i+2], ' ')
      |                for i in range(1, len(toks) - 1)]) AS gram
      |      FROM t WHERE len(toks) >= 3),
      |c AS (SELECT source, gram, count(*)::BIGINT AS n
      |      FROM g GROUP BY source, gram),
      |sg AS (SELECT s.salt, c.source, c.n,
      |        1 - 2 * (('0x' || substring(
      |            md5(s.salt::VARCHAR || ':' || c.gram), 1, 15))
      |          ::BIGINT % 2) AS sgn
      |      FROM c CROSS JOIN (SELECT unnest(range(9)) AS salt) s),
      |sk AS (SELECT source, salt, sum(sgn * n)::BIGINT AS sk
      |       FROM sg GROUP BY source, salt),
      |med AS (SELECT source, (sk::HUGEINT * sk)::HUGEINT AS e,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY (sk::HUGEINT * sk), salt) AS rn
      |        FROM sk),
      |ex AS (SELECT source, sum(n)::BIGINT AS n_grams,
      |         sum(n::HUGEINT * n)::HUGEINT AS f2
      |       FROM c GROUP BY source)
      |SELECT m.source, x.n_grams, x.f2::BIGINT AS f2_exact,
      |  m.e::BIGINT AS f2_est,
      |  (1000000 * abs(m.e::BIGINT - x.f2::BIGINT)) // x.f2::BIGINT
      |    AS err_ppm
      |FROM med m JOIN ex x ON x.source = m.source
      |WHERE m.rn = 5 ORDER BY m.source""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).where($"text".isNotNull)
    val cen = docs
      .select($"source", TextOps.tokens($"text").as("toks"))
      .select($"source", explode(TextOps.tokenNgrams($"toks", 3)).as("gram"))
      .groupBy($"source", $"gram").agg(count(lit(1)).as("n"))
    val sk = cen
      .select($"source", $"gram", $"n",
        explode(sequence(lit(0), lit(8))).as("salt"))
      .withColumn("sgn", lit(1) - lit(2) *
        (conv(substring(md5(concat($"salt".cast("string"), lit(":"),
          $"gram")), 1, 15), 16, 10).cast("long") % 2))
      .groupBy($"source", $"salt").agg(sum($"sgn" * $"n").as("sk"))
    val med = sk
      .withColumn("e", expr(
        "cast(sk as decimal(38,0)) * cast(sk as decimal(38,0))"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"e", $"salt")))
      .where($"rn" === 5)
    val ex = cen.groupBy($"source").agg(
      sum($"n").as("n_grams"),
      sum(($"n".cast("decimal(19,0)") * $"n".cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("f2"))
    med.join(ex, "source")
      .select($"source", $"n_grams",
        $"f2".cast("bigint").as("f2_exact"),
        $"e".cast("bigint").as("f2_est"),
        expr("cast((1000000 * abs(e - f2)) div f2 as bigint)")
          .as("err_ppm"))
      .orderBy($"source")
  }

  /** HLL register UNION across time windows — the production reason
    * sketches beat exact distinct at 100 TB: pre-aggregated DAILY
    * register vectors (64 longs per day, from the raw event stream's
    * per-user md5 hash) answer the distinct-users question over ANY
    * day range by element-wise max, with no second pass over raw
    * events — here each calendar week's estimate is the max-merge of
    * its days' registers. sum_daily (Σ of per-day exact distincts)
    * beside the weekly exact shows what naive summing overcounts
    * (returning users double-count; the sketch union does not). Both
    * HLL branches run live on this fixture: ~150 weekly actives on
    * m = 64 registers leaves v_zero > 0, exercising the
    * linear-counting small-range path in the CROSS-ENGINE GATE (the
    * documents-gram entry saturates its registers and only its spec
    * reaches that branch). Day/week ids are pure integer epoch
    * arithmetic (`unix_micros div 86400000000`, `div 7`) — calendar
    * builtins disagree across engines (the seasonality-dow lesson).
    * Scale shape: one (day, bucket) partial agg over events, then
    * everything downstream is register-table metadata. */
  val distinctHllWindowUnion: CatalogEntry = CatalogEntry(
    "distinct_hll_window_union",
    """WITH e AS (SELECT epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
      |             user_id FROM events),
      |h AS (SELECT day, ('0x' || substring(md5(user_id::VARCHAR), 1, 15))
      |        ::BIGINT AS hv FROM e),
      |r AS (SELECT day, hv % 64 AS bucket,
      |        CASE WHEN hv // 64 = 0 THEN 55
      |             ELSE 55 - length(format('{:b}', hv // 64)) END AS rho
      |      FROM h),
      |dreg AS (SELECT day, bucket, max(rho)::BIGINT AS m
      |         FROM r GROUP BY day, bucket),
      |wreg0 AS (SELECT day // 7 AS week, bucket, max(m)::BIGINT AS m
      |          FROM dreg GROUP BY 1, 2),
      |grid AS (SELECT w.week, b.bucket, coalesce(wreg0.m, 0) AS m
      |         FROM (SELECT DISTINCT day // 7 AS week FROM e) w
      |         CROSS JOIN (SELECT unnest(range(64)) AS bucket) b
      |         LEFT JOIN wreg0
      |           ON wreg0.week = w.week AND wreg0.bucket = b.bucket),
      |agg AS (SELECT week,
      |          sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS v_zero,
      |          sum(1::HUGEINT << (62 - m)::INT)::HUGEINT AS s_sum
      |        FROM grid GROUP BY week),
      |raw AS (SELECT week, v_zero,
      |          ((709343::HUGEINT * 4096 * 4611686018427387904)
      |             // s_sum // 1000000)::BIGINT AS est_raw
      |        FROM agg),
      |fin AS (SELECT week, v_zero,
      |          CASE WHEN v_zero > 0 AND est_raw <= 160
      |               THEN round(64000 * ln(64.0 / v_zero))::BIGINT // 1000
      |               ELSE est_raw END AS est
      |        FROM raw),
      |dex AS (SELECT day, count(DISTINCT user_id)::BIGINT AS nd
      |        FROM e GROUP BY day),
      |sde AS (SELECT day // 7 AS week, sum(nd)::BIGINT AS sum_daily,
      |          count(*)::BIGINT AS n_days
      |        FROM dex GROUP BY 1),
      |exw AS (SELECT day // 7 AS week,
      |          count(DISTINCT user_id)::BIGINT AS n_exact
      |        FROM e GROUP BY 1)
      |SELECT f.week, s.n_days, x.n_exact, s.sum_daily, f.v_zero, f.est,
      |  (1000000 * abs(f.est - x.n_exact)) // x.n_exact AS err_ppm
      |FROM fin f
      |JOIN exw x ON x.week = f.week
      |JOIN sde s ON s.week = f.week
      |ORDER BY f.week""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), $"user_id")
    val r = e
      .withColumn("hv", conv(substring(md5($"user_id".cast("string")),
        1, 15), 16, 10).cast("long"))
      .select($"day", ($"hv" % 64).as("bucket"), expr("hv div 64").as("w"))
      .select($"day", $"bucket",
        expr("CASE WHEN w = 0 THEN 55L ELSE 55L - length(bin(w)) END")
          .as("rho"))
    val dreg = r.groupBy($"day", $"bucket").agg(max($"rho").as("m"))
    val wreg0 = dreg
      .groupBy(expr("day div 7").as("week"), $"bucket")
      .agg(max($"m").as("m"))
    val grid = e.select(expr("day div 7").as("week")).distinct()
      .select($"week", explode(sequence(lit(0L), lit(63L))).as("bucket"))
      .join(wreg0, Seq("week", "bucket"), "left")
      .select($"week", $"bucket", coalesce($"m", lit(0L)).as("m"))
    val fin = grid.groupBy($"week").agg(
      sum(when($"m" === 0L, 1L).otherwise(0L)).as("v_zero"),
      sum(expr("shiftleft(cast(1 as bigint), cast(62 - m as int))")
        .cast("decimal(38,0)")).as("s_sum"))
      .withColumn("est_raw", expr(
        "cast(cast(709343 as decimal(38,0)) * 4096" +
          " * cast(4611686018427387904 as decimal(38,0))" +
          " div s_sum div 1000000 as bigint)"))
      .withColumn("est",
        when($"v_zero" > 0 && $"est_raw" <= 160,
          expr("cast(round(64000 * ln(64.0 / v_zero)) as bigint) div 1000"))
          .otherwise($"est_raw"))
    val sde = e.groupBy($"day")
      .agg(countDistinct($"user_id").as("nd"))
      .groupBy(expr("day div 7").as("week"))
      .agg(sum($"nd").as("sum_daily"), count(lit(1)).as("n_days"))
    val exw = e.groupBy(expr("day div 7").as("week"))
      .agg(countDistinct($"user_id").as("n_exact"))
    fin.join(exw, "week").join(sde, "week")
      .select($"week", $"n_days", $"n_exact", $"sum_daily", $"v_zero",
        $"est",
        expr("(1000000 * abs(est - n_exact)) div n_exact").as("err_ppm"))
      .orderBy($"week")
  }

  // ---- shared quantile-lattice arithmetic (single source for the
  // sketch_quantiles family's Spark arms; the oracles and
  // streaming/StreamQuantiles RESTATE it — a lattice change must land
  // in all three places together or the bit-for-bit specs fail) ----

  /** Lattice cell of the positive BIGINT column named `v`: < 16 exact,
    * else 16·(bitlength−1) + top-4-bits-after-MSB. */
  private[queries] def latIdx(v: String) = expr(
    s"CASE WHEN $v < 16 THEN $v" +
      s" ELSE 16 * cast(length(bin($v)) - 1 as bigint)" +
      s" + shiftright($v, cast(length(bin($v)) - 5 as int)) % 16 END")

  /** Lower-bound decode of the lattice cell column named `i`. */
  private[queries] def latDecode(i: String) = expr(
    s"CASE WHEN $i < 16 THEN $i ELSE shiftleft(16 + $i % 16," +
      s" cast($i div 16 - 4 as int)) END")

  /** ceil(num·n / den) as an integer rank, over the column named `n`. */
  private def ceilRank(num: Int, den: Int) =
    expr(s"($num * n + ${den - 1}) div $den")

  /** Mergeable fixed-lattice QUANTILE sketch per group — the census-
    * layer sketch still missing beside HLL/KMV/CMS/AMS: exact
    * `percentile` buffers every group value (the `agg_percentiles`
    * scale caveat), Spark's `percentile_approx` is an engine-private
    * KLL state with no cross-engine replay (`agg_approx_percentiles`
    * is rows-only for exactly that reason) — this entry's state is a
    * PORTABLE log-lattice histogram both engines compute
    * bit-identically. Lattice (DDSketch-flavored, Masson et al. 2019,
    * all-integer): cents v < 16 map to cell v (exact); otherwise with
    * b = bitlength(v) − 1 the cell is 16·b + top-4-bits-after-MSB —
    * a base-2^(1/16)-ish bucket whose LOWER BOUND
    * (16 + cell mod 16)·2^(b−4) decodes the estimate, so the estimate
    * under-reads by < 2⁻⁴ relative (6.25% worst case; err_ppm vs the
    * exact arm reports the realized error, SketchQuantilesSpec pins
    * the bound). Quantile = the smallest cell whose cumulative count
    * reaches ceil(q·n) (pure integer ranks: (q_num·n + q_den − 1) div
    * q_den), the same rank definition the exact arm evaluates over the
    * raw cents census — so est vs exact differ only by lattice
    * rounding, never by rank convention. state_cells / state_check
    * (Σ cell·count) gate the full lattice, not just the three decoded
    * quantiles.
    *
    * Scale shape: the state is ≤ 16·64 cells per group no matter the
    * row count, and cell counts are plain SUMS — map-side-combined,
    * mergeable across partitions/days/streams (the [[StreamQuantiles]]
    * face shares this update rule verbatim). The exact arm (a
    * value-census cumulative window) is the measurement, dropped at
    * 100 TB; the sketch arm's only exchange is |groups|·|cells| rows. */
  val sketchQuantiles: CatalogEntry = CatalogEntry(
    "sketch_quantiles",
    """WITH v0 AS (SELECT o_orderstatus AS st,
      |              round(o_totalprice * 100)::BIGINT AS v FROM orders),
      |iv AS (SELECT st, v,
      |         CASE WHEN v < 16 THEN v
      |           ELSE 16 * (length(format('{:b}', v)) - 1)
      |             + ((v >> (length(format('{:b}', v)) - 5)) & 15)
      |         END AS idx
      |       FROM v0),
      |lat AS (SELECT st, idx, count(*)::BIGINT AS cnt
      |        FROM iv GROUP BY 1, 2),
      |n AS (SELECT st, sum(cnt)::BIGINT AS n,
      |        count(*)::BIGINT AS state_cells,
      |        sum(idx * cnt)::BIGINT AS state_check
      |      FROM lat GROUP BY st),
      |cum AS (SELECT st, idx,
      |          sum(cnt) OVER (PARTITION BY st ORDER BY idx) AS cum
      |        FROM lat),
      |qe AS (SELECT c.st,
      |         min(CASE WHEN c.cum >= (n.n + 1) // 2
      |             THEN c.idx END) AS i50,
      |         min(CASE WHEN c.cum >= (9 * n.n + 9) // 10
      |             THEN c.idx END) AS i90,
      |         min(CASE WHEN c.cum >= (99 * n.n + 99) // 100
      |             THEN c.idx END) AS i99
      |       FROM cum c JOIN n ON n.st = c.st GROUP BY c.st),
      |qd AS (SELECT st,
      |         CASE WHEN i50 < 16 THEN i50
      |           ELSE (16 + i50 % 16) << (i50 // 16 - 4)::INT END AS q50_est,
      |         CASE WHEN i90 < 16 THEN i90
      |           ELSE (16 + i90 % 16) << (i90 // 16 - 4)::INT END AS q90_est,
      |         CASE WHEN i99 < 16 THEN i99
      |           ELSE (16 + i99 % 16) << (i99 // 16 - 4)::INT END AS q99_est
      |       FROM qe),
      |ec AS (SELECT st, v, count(*)::BIGINT AS c FROM iv GROUP BY 1, 2),
      |ecum AS (SELECT st, v,
      |           sum(c) OVER (PARTITION BY st ORDER BY v) AS cum
      |         FROM ec),
      |qx AS (SELECT e.st,
      |         min(CASE WHEN e.cum >= (n.n + 1) // 2
      |             THEN e.v END) AS q50_exact,
      |         min(CASE WHEN e.cum >= (9 * n.n + 9) // 10
      |             THEN e.v END) AS q90_exact,
      |         min(CASE WHEN e.cum >= (99 * n.n + 99) // 100
      |             THEN e.v END) AS q99_exact
      |       FROM ecum e JOIN n ON n.st = e.st GROUP BY e.st)
      |SELECT n.st AS o_orderstatus, n.n, n.state_cells, n.state_check,
      |  qd.q50_est::BIGINT AS q50_est, qx.q50_exact::BIGINT AS q50_exact,
      |  ((1000000 * abs(qd.q50_est - qx.q50_exact)) // qx.q50_exact)
      |    ::BIGINT AS q50_err_ppm,
      |  qd.q90_est::BIGINT AS q90_est, qx.q90_exact::BIGINT AS q90_exact,
      |  ((1000000 * abs(qd.q90_est - qx.q90_exact)) // qx.q90_exact)
      |    ::BIGINT AS q90_err_ppm,
      |  qd.q99_est::BIGINT AS q99_est, qx.q99_exact::BIGINT AS q99_exact,
      |  ((1000000 * abs(qd.q99_est - qx.q99_exact)) // qx.q99_exact)
      |    ::BIGINT AS q99_err_ppm
      |FROM n JOIN qd ON qd.st = n.st JOIN qx ON qx.st = n.st
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    import s.implicits._
    val v0 = Tables.orders(s, d).select($"o_orderstatus".as("st"),
      round($"o_totalprice" * 100).cast("long").as("v"))
    val iv = v0.withColumn("idx", latIdx("v"))
    // the lattice feeds THREE consumers (n, the cumulative scan, the
    // final join): localCheckpoint it so the fact scan runs once for
    // the sketch arm, not once per consumer (the multi-consumer
    // recompute trap) — at |groups|·|cells| rows the checkpoint is
    // metadata-sized
    val lat = iv.groupBy($"st", $"idx").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val n = lat.groupBy($"st").agg(sum($"cnt").as("n"),
      count(lit(1)).as("state_cells"),
      sum($"idx" * $"cnt").as("state_check"))
    val wcum = Window.partitionBy($"st").orderBy($"idx")
    val qe = lat.withColumn("cum", sum($"cnt").over(wcum))
      .join(n.select($"st", $"n"), "st")
      .groupBy($"st").agg(
        min(when($"cum" >= ceilRank(1, 2), $"idx")).as("i50"),
        min(when($"cum" >= ceilRank(9, 10), $"idx")).as("i90"),
        min(when($"cum" >= ceilRank(99, 100), $"idx")).as("i99"))
    val qd = qe.select($"st",
      latDecode("i50").as("q50_est"),
      latDecode("i90").as("q90_est"),
      latDecode("i99").as("q99_est"))
    val wv = Window.partitionBy($"st").orderBy($"v")
    val qx = iv.groupBy($"st", $"v").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wv))
      .join(n.select($"st", $"n"), "st")
      .groupBy($"st").agg(
        min(when($"cum" >= ceilRank(1, 2), $"v")).as("q50_exact"),
        min(when($"cum" >= ceilRank(9, 10), $"v")).as("q90_exact"),
        min(when($"cum" >= ceilRank(99, 100), $"v")).as("q99_exact"))
    n.join(qd, "st").join(qx, "st")
      .select($"st".as("o_orderstatus"), $"n", $"state_cells",
        $"state_check",
        $"q50_est", $"q50_exact",
        expr("(1000000 * abs(q50_est - q50_exact)) div q50_exact")
          .as("q50_err_ppm"),
        $"q90_est", $"q90_exact",
        expr("(1000000 * abs(q90_est - q90_exact)) div q90_exact")
          .as("q90_err_ppm"),
        $"q99_est", $"q99_exact",
        expr("(1000000 * abs(q99_est - q99_exact)) div q99_exact")
          .as("q99_err_ppm"))
      .orderBy($"o_orderstatus")
  }

  /** Quantile-lattice UNION across time windows — [[sketchQuantiles]]'
    * analogue of [[distinctHllWindowUnion]], and the property that
    * makes the lattice the 100 TB quantile state: exact `percentile`
    * states DO NOT MERGE (two sorted buffers re-sort), but lattice
    * cells merge by plain cell-wise SUM — and unlike HLL's max-merge
    * estimate, the merged lattice is EXACTLY the lattice a one-shot
    * weekly pass would build, so range-quantile queries (any day span)
    * answer from pre-aggregated per-DAY states with no second pass
    * over raw events and no union-order error term. Weekly q50/q90/q99
    * decode from the summed cells beside the exact weekly
    * rank-quantiles; err stays the lattice's own < 2⁻⁴ bound
    * regardless of how many day-states merged. Day/week ids are pure
    * integer epoch arithmetic (the seasonality-dow lesson).
    *
    * Scale shape: ONE (day, cell) partial agg over events, then
    * everything downstream is lattice metadata (≤ ~640 cells/day);
    * the exact arm is the measurement, dropped at 100 TB. */
  val sketchQuantilesWindowUnion: CatalogEntry = CatalogEntry(
    "sketch_quantiles_window_union",
    """WITH e AS (SELECT epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
      |             round(value * 100)::BIGINT AS v FROM events),
      |iv AS (SELECT day, v,
      |         CASE WHEN v < 16 THEN v
      |           ELSE 16 * (length(format('{:b}', v)) - 1)
      |             + ((v >> (length(format('{:b}', v)) - 5)) & 15)
      |         END AS idx
      |       FROM e),
      |dlat AS (SELECT day, idx, count(*)::BIGINT AS cnt
      |         FROM iv GROUP BY 1, 2),
      |wlat AS (SELECT day // 7 AS week, idx, sum(cnt)::BIGINT AS cnt
      |         FROM dlat GROUP BY 1, 2),
      |n AS (SELECT week, sum(cnt)::BIGINT AS n,
      |        count(*)::BIGINT AS state_cells,
      |        sum(idx * cnt)::BIGINT AS state_check
      |      FROM wlat GROUP BY week),
      |nd AS (SELECT day // 7 AS week,
      |         count(DISTINCT day)::BIGINT AS n_days FROM e GROUP BY 1),
      |cum AS (SELECT week, idx,
      |          sum(cnt) OVER (PARTITION BY week ORDER BY idx) AS cum
      |        FROM wlat),
      |qe AS (SELECT c.week,
      |         min(CASE WHEN c.cum >= (n.n + 1) // 2
      |             THEN c.idx END) AS i50,
      |         min(CASE WHEN c.cum >= (9 * n.n + 9) // 10
      |             THEN c.idx END) AS i90,
      |         min(CASE WHEN c.cum >= (99 * n.n + 99) // 100
      |             THEN c.idx END) AS i99
      |       FROM cum c JOIN n ON n.week = c.week GROUP BY c.week),
      |qd AS (SELECT week,
      |         CASE WHEN i50 < 16 THEN i50
      |           ELSE (16 + i50 % 16) << (i50 // 16 - 4)::INT END AS q50_est,
      |         CASE WHEN i90 < 16 THEN i90
      |           ELSE (16 + i90 % 16) << (i90 // 16 - 4)::INT END AS q90_est,
      |         CASE WHEN i99 < 16 THEN i99
      |           ELSE (16 + i99 % 16) << (i99 // 16 - 4)::INT END AS q99_est
      |       FROM qe),
      |ec AS (SELECT day // 7 AS week, v, count(*)::BIGINT AS c
      |       FROM iv GROUP BY 1, 2),
      |ecum AS (SELECT week, v,
      |           sum(c) OVER (PARTITION BY week ORDER BY v) AS cum
      |         FROM ec),
      |qx AS (SELECT e.week,
      |         min(CASE WHEN e.cum >= (n.n + 1) // 2
      |             THEN e.v END) AS q50_exact,
      |         min(CASE WHEN e.cum >= (9 * n.n + 9) // 10
      |             THEN e.v END) AS q90_exact,
      |         min(CASE WHEN e.cum >= (99 * n.n + 99) // 100
      |             THEN e.v END) AS q99_exact
      |       FROM ecum e JOIN n ON n.week = e.week GROUP BY e.week)
      |SELECT n.week, nd.n_days, n.n, n.state_cells, n.state_check,
      |  qd.q50_est::BIGINT AS q50_est, qx.q50_exact::BIGINT AS q50_exact,
      |  ((1000000 * abs(qd.q50_est - qx.q50_exact)) // qx.q50_exact)
      |    ::BIGINT AS q50_err_ppm,
      |  qd.q90_est::BIGINT AS q90_est, qx.q90_exact::BIGINT AS q90_exact,
      |  ((1000000 * abs(qd.q90_est - qx.q90_exact)) // qx.q90_exact)
      |    ::BIGINT AS q90_err_ppm,
      |  qd.q99_est::BIGINT AS q99_est, qx.q99_exact::BIGINT AS q99_exact,
      |  ((1000000 * abs(qd.q99_est - qx.q99_exact)) // qx.q99_exact)
      |    ::BIGINT AS q99_err_ppm
      |FROM n JOIN nd ON nd.week = n.week
      |JOIN qd ON qd.week = n.week JOIN qx ON qx.week = n.week
      |ORDER BY n.week""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        round($"value" * 100).cast("long").as("v"))
    val iv = e.withColumn("idx", latIdx("v"))
    // the per-DAY states a production layer would persist; weekly =
    // cell-wise SUM of the day states, never a second raw pass
    val dlat = iv.groupBy($"day", $"idx").agg(count(lit(1)).as("cnt"))
    val wlat = dlat
      .groupBy(expr("day div 7").as("week"), $"idx")
      .agg(sum($"cnt").as("cnt"))
      .localCheckpoint() // three consumers; lattice is metadata-sized
    val n = wlat.groupBy($"week").agg(sum($"cnt").as("n"),
      count(lit(1)).as("state_cells"),
      sum($"idx" * $"cnt").as("state_check"))
    val nd = e.groupBy(expr("day div 7").as("week"))
      .agg(countDistinct($"day").as("n_days"))
    val wcum = Window.partitionBy($"week").orderBy($"idx")
    val qe = wlat.withColumn("cum", sum($"cnt").over(wcum))
      .join(n.select($"week", $"n"), "week")
      .groupBy($"week").agg(
        min(when($"cum" >= ceilRank(1, 2), $"idx")).as("i50"),
        min(when($"cum" >= ceilRank(9, 10), $"idx")).as("i90"),
        min(when($"cum" >= ceilRank(99, 100), $"idx")).as("i99"))
    val qd = qe.select($"week",
      latDecode("i50").as("q50_est"),
      latDecode("i90").as("q90_est"),
      latDecode("i99").as("q99_est"))
    val wv = Window.partitionBy($"week").orderBy($"v")
    val qx = iv.groupBy(expr("day div 7").as("week"), $"v")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wv))
      .join(n.select($"week", $"n"), "week")
      .groupBy($"week").agg(
        min(when($"cum" >= ceilRank(1, 2), $"v")).as("q50_exact"),
        min(when($"cum" >= ceilRank(9, 10), $"v")).as("q90_exact"),
        min(when($"cum" >= ceilRank(99, 100), $"v")).as("q99_exact"))
    n.join(nd, "week").join(qd, "week").join(qx, "week")
      .select($"week", $"n_days", $"n", $"state_cells", $"state_check",
        $"q50_est", $"q50_exact",
        expr("(1000000 * abs(q50_est - q50_exact)) div q50_exact")
          .as("q50_err_ppm"),
        $"q90_est", $"q90_exact",
        expr("(1000000 * abs(q90_est - q90_exact)) div q90_exact")
          .as("q90_err_ppm"),
        $"q99_est", $"q99_exact",
        expr("(1000000 * abs(q99_est - q99_exact)) div q99_exact")
          .as("q99_err_ppm"))
      .orderBy($"week")
  }

  /** Arbitrary-span LATTICE SERVING queries — the production read
    * path of [[sketchQuantilesWindowUnion]] (r19 verdict item 5): the
    * per-DAY lattice states a pipeline persists answer an AD-HOC
    * [day_a, day_b] span request by cell-wise SUM of the covered day
    * states — never a second pass over raw events — and the SAME
    * summed cells answer Q-RANGE queries (how much mass sits inside a
    * value band) by summing the cells whose decoded lower bound falls
    * in the band. Spans are three-plus-one literal requests expressed
    * as day OFFSETS from the corpus's first day (a serving query's
    * parameters; offsets keep the entry SF-agnostic), the last
    * deliberately clipped past the data's edge so partial coverage is
    * exercised (n_days < span width). Per span: day coverage, total
    * count, q50/q90 decoded beside the exact arm's rank-quantiles
    * (the [[sketchQuantiles]] ceil-rank convention), and band mass
    * est/exact with err in ppm OF TOTAL MASS (band mass can
    * legitimately be zero; n cannot).
    *
    * Scale shape: the only event-sized work is the ONE (day, cell)
    * partial agg (the layer [[sketchQuantilesWindowUnion]] persists);
    * the span table broadcasts onto the ≤ ~640-cells-per-day lattice
    * (a 4-row BroadcastNestedLoopJoin), and everything downstream is
    * lattice metadata. The exact arm re-scans events per span and is
    * the measurement, dropped at 100 TB. */
  val sketchQuantilesSpan: CatalogEntry = CatalogEntry(
    "sketch_quantiles_span",
    """WITH e AS (SELECT epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
      |             round(value * 100)::BIGINT AS v FROM events),
      |iv AS (SELECT day, v,
      |         CASE WHEN v < 16 THEN v
      |           ELSE 16 * (length(format('{:b}', v)) - 1)
      |             + ((v >> (length(format('{:b}', v)) - 5)) & 15)
      |         END AS idx
      |       FROM e),
      |dlat AS (SELECT day, idx, count(*)::BIGINT AS cnt
      |         FROM iv GROUP BY 1, 2),
      |d0 AS (SELECT min(day) AS d0 FROM dlat),
      |sp AS (SELECT * FROM (VALUES (1, 2, 11), (2, 0, 29), (3, 7, 13),
      |                             (4, 25, 40))
      |       AS t(span_id, off_a, off_b)),
      |spd AS (SELECT span_id, d0 + off_a AS day_a, d0 + off_b AS day_b
      |        FROM sp, d0),
      |sj AS (SELECT s.span_id, l.day, l.idx, l.cnt
      |       FROM dlat l JOIN spd s ON l.day BETWEEN s.day_a AND s.day_b),
      |slat AS (SELECT span_id, idx, sum(cnt)::BIGINT AS cnt
      |         FROM sj GROUP BY 1, 2),
      |nd AS (SELECT span_id, count(DISTINCT day)::BIGINT AS n_days
      |       FROM sj GROUP BY 1),
      |n AS (SELECT span_id, sum(cnt)::BIGINT AS n,
      |        count(*)::BIGINT AS state_cells
      |      FROM slat GROUP BY 1),
      |cum AS (SELECT span_id, idx,
      |          sum(cnt) OVER (PARTITION BY span_id ORDER BY idx) AS cum
      |        FROM slat),
      |qe AS (SELECT c.span_id,
      |         min(CASE WHEN c.cum >= (n.n + 1) // 2
      |             THEN c.idx END) AS i50,
      |         min(CASE WHEN c.cum >= (9 * n.n + 9) // 10
      |             THEN c.idx END) AS i90
      |       FROM cum c JOIN n ON n.span_id = c.span_id
      |       GROUP BY c.span_id),
      |qd AS (SELECT span_id,
      |         CASE WHEN i50 < 16 THEN i50
      |           ELSE (16 + i50 % 16) << (i50 // 16 - 4)::INT END AS q50_est,
      |         CASE WHEN i90 < 16 THEN i90
      |           ELSE (16 + i90 % 16) << (i90 // 16 - 4)::INT END AS q90_est
      |       FROM qe),
      |lb AS (SELECT span_id, cnt,
      |         CASE WHEN idx < 16 THEN idx
      |           ELSE (16 + idx % 16) << (idx // 16 - 4)::INT END AS lb
      |       FROM slat),
      |be AS (SELECT span_id,
      |         coalesce(sum(CASE WHEN lb >= 1000 AND lb < 5000
      |             THEN cnt END), 0)::BIGINT AS band_est
      |       FROM lb GROUP BY span_id),
      |ivs AS (SELECT s.span_id, i.v FROM iv i
      |        JOIN spd s ON i.day BETWEEN s.day_a AND s.day_b),
      |ec AS (SELECT span_id, v, count(*)::BIGINT AS c
      |       FROM ivs GROUP BY 1, 2),
      |ecum AS (SELECT span_id, v,
      |           sum(c) OVER (PARTITION BY span_id ORDER BY v) AS cum
      |         FROM ec),
      |qx AS (SELECT e2.span_id,
      |         min(CASE WHEN e2.cum >= (n.n + 1) // 2
      |             THEN e2.v END) AS q50_exact,
      |         min(CASE WHEN e2.cum >= (9 * n.n + 9) // 10
      |             THEN e2.v END) AS q90_exact
      |       FROM ecum e2 JOIN n ON n.span_id = e2.span_id
      |       GROUP BY e2.span_id),
      |bx AS (SELECT span_id,
      |         coalesce(sum(CASE WHEN v >= 1000 AND v < 5000
      |             THEN 1 END), 0)::BIGINT AS band_exact
      |       FROM ivs GROUP BY span_id)
      |SELECT n.span_id, spd.day_a, spd.day_b, nd.n_days, n.n,
      |  n.state_cells,
      |  qd.q50_est::BIGINT AS q50_est, qx.q50_exact::BIGINT AS q50_exact,
      |  ((1000000 * abs(qd.q50_est - qx.q50_exact)) // qx.q50_exact)
      |    ::BIGINT AS q50_err_ppm,
      |  qd.q90_est::BIGINT AS q90_est, qx.q90_exact::BIGINT AS q90_exact,
      |  ((1000000 * abs(qd.q90_est - qx.q90_exact)) // qx.q90_exact)
      |    ::BIGINT AS q90_err_ppm,
      |  1000::BIGINT AS band_lo, 5000::BIGINT AS band_hi,
      |  be.band_est, bx.band_exact,
      |  ((1000000 * abs(be.band_est - bx.band_exact)) // n.n)
      |    ::BIGINT AS band_err_ppm
      |FROM n JOIN spd ON spd.span_id = n.span_id
      |JOIN nd ON nd.span_id = n.span_id
      |JOIN qd ON qd.span_id = n.span_id
      |JOIN qx ON qx.span_id = n.span_id
      |JOIN be ON be.span_id = n.span_id
      |JOIN bx ON bx.span_id = n.span_id
      |ORDER BY n.span_id""".stripMargin) { (s, d) =>
    import s.implicits._
    latticeSpanStats(
      Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          round($"value" * 100).cast("long").as("v")),
      spans = Seq((1, 2, 11), (2, 0, 29), (3, 7, 13), (4, 25, 40)),
      bandLo = 1000L, bandHi = 5000L)
  }

  /** [[sketchQuantilesSpan]]' operator over any (day, v) frame —
    * extracted so the spec can plant span/band fixtures; reuses
    * [[latIdx]]/[[latDecode]] (single-sourced lattice rules). Spans
    * are (span_id, off_a, off_b) day offsets from min(day). */
  private[queries] def latticeSpanStats(dayVals: DataFrame,
      spans: Seq[(Int, Int, Int)], bandLo: Long,
      bandHi: Long): DataFrame = {
    val s = dayVals.sparkSession
    import s.implicits._
    val iv = dayVals.withColumn("idx", latIdx("v"))
    // the persisted per-day states; every sketch-arm consumer reads
    // these checkpointed metadata-sized blocks, never the fact scan
    val dlat = iv.groupBy($"day", $"idx").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val d0 = dlat.agg(min($"day").as("d0"))
    val spansDf = broadcast(
      spans.toDF("span_id", "off_a", "off_b").crossJoin(broadcast(d0))
        .select($"span_id", ($"d0" + $"off_a").as("day_a"),
          ($"d0" + $"off_b").as("day_b")))
    val sj = dlat.join(spansDf, $"day".between($"day_a", $"day_b"))
    val slat = sj.groupBy($"span_id", $"idx").agg(sum($"cnt").as("cnt"))
      .localCheckpoint() // three consumers, lattice-metadata-sized
    val nd = sj.groupBy($"span_id").agg(countDistinct($"day").as("n_days"))
    val n = slat.groupBy($"span_id").agg(sum($"cnt").as("n"),
      count(lit(1)).as("state_cells"))
    val wcum = Window.partitionBy($"span_id").orderBy($"idx")
    val qe = slat.withColumn("cum", sum($"cnt").over(wcum))
      .join(n.select($"span_id", $"n"), "span_id")
      .groupBy($"span_id").agg(
        min(when($"cum" >= ceilRank(1, 2), $"idx")).as("i50"),
        min(when($"cum" >= ceilRank(9, 10), $"idx")).as("i90"))
    val qd = qe.select($"span_id",
      latDecode("i50").as("q50_est"),
      latDecode("i90").as("q90_est"))
    val be = slat.withColumn("lb", latDecode("idx"))
      .groupBy($"span_id")
      .agg(coalesce(sum(when($"lb" >= bandLo && $"lb" < bandHi,
        $"cnt")), lit(0L)).as("band_est"))
    // exact arm — the measurement, dropped at 100 TB
    val ivs = iv.join(spansDf, $"day".between($"day_a", $"day_b"))
    val wv = Window.partitionBy($"span_id").orderBy($"v")
    val qx = ivs.groupBy($"span_id", $"v").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wv))
      .join(n.select($"span_id", $"n"), "span_id")
      .groupBy($"span_id").agg(
        min(when($"cum" >= ceilRank(1, 2), $"v")).as("q50_exact"),
        min(when($"cum" >= ceilRank(9, 10), $"v")).as("q90_exact"))
    val bx = ivs.groupBy($"span_id")
      .agg(coalesce(sum(when($"v" >= bandLo && $"v" < bandHi,
        lit(1L))), lit(0L)).as("band_exact"))
    n.join(spansDf, "span_id").join(nd, "span_id").join(qd, "span_id")
      .join(qx, "span_id").join(be, "span_id").join(bx, "span_id")
      .select($"span_id", $"day_a", $"day_b", $"n_days", $"n",
        $"state_cells",
        $"q50_est", $"q50_exact",
        expr("(1000000 * abs(q50_est - q50_exact)) div q50_exact")
          .as("q50_err_ppm"),
        $"q90_est", $"q90_exact",
        expr("(1000000 * abs(q90_est - q90_exact)) div q90_exact")
          .as("q90_err_ppm"),
        lit(bandLo).as("band_lo"), lit(bandHi).as("band_hi"),
        $"band_est", $"band_exact",
        expr("(1000000 * abs(band_est - band_exact)) div n")
          .as("band_err_ppm"))
      .orderBy($"span_id")
  }

  def entries: Seq[CatalogEntry] = Seq(
    distinctHllPortable, distinctKmvSetops, sketchCmsBigram,
    sketchAmsF2, distinctHllWindowUnion, sketchQuantiles,
    sketchQuantilesWindowUnion, sketchQuantilesSpan)
}
