package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Sampling

/** Deterministic hash-sampling entries — reproducible corpus sampling
  * for the training-data pipeline (ext/Sampling.scala).
  */
object SampleQueries {

  /** ~10.2% deterministic Bernoulli sample of documents (md5 prefix
    * < "1a" = 26/256). The oracle replays the identical rule through
    * DuckDB's md5 — green means the sample membership is bit-stable
    * across engines, which is the whole point of hash sampling. */
  val sampleHashDeterministic: CatalogEntry = CatalogEntry(
    "sample_hash_deterministic",
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE substring(md5(text), 1, 2) < '1a'
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .filter(Sampling.hashKeep($"text", "1a"))
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Stratified deterministic sample: per-language keep rates
    * (en 25%, fr 50%, es 12.5%, de 12.5%, zh 100%) — the downsample-
    * the-dominant-language operation of corpus curation. Emits
    * per-stratum kept counts so the rate realization is visible. */
  val sampleStratifiedHash: CatalogEntry = CatalogEntry(
    "sample_stratified_hash",
    """SELECT lang, count(*)::BIGINT AS n_kept,
      |  min(doc_id)::BIGINT AS min_doc_id,
      |  max(doc_id)::BIGINT AS max_doc_id
      |FROM documents
      |WHERE (lang = 'en' AND substring(md5(text), 1, 2) < '40')
      |   OR (lang = 'fr' AND substring(md5(text), 1, 2) < '80')
      |   OR (lang = 'es' AND substring(md5(text), 1, 2) < '20')
      |   OR (lang = 'de' AND substring(md5(text), 1, 2) < '20')
      |   OR (lang = 'zh' AND substring(md5(text), 1, 2) < 'gg')
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    import s.implicits._
    val rates = Seq(
      "en" -> "40", "fr" -> "80", "es" -> "20", "de" -> "20",
      "zh" -> "gg") // "gg" > any hex prefix → keep all of zh
    Tables.documents(s, d)
      .filter(Sampling.stratifiedKeep($"text", $"lang", rates))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"),
        min($"doc_id").as("min_doc_id"),
        max($"doc_id").as("max_doc_id"))
      .orderBy($"lang")
  }

  /** Per-source quota cap — "at most K documents per domain", the
    * anti-domain-dominance rule every web-corpus build applies (C4 and
    * successors cap per-host page counts). Selection is deterministic:
    * rank docs within a source by (md5(text), doc_id) and keep the K
    * smallest — re-running on the same corpus keeps the same documents,
    * and the oracle replays the identical rule.
    *
    * Scale shape: a single `row_number` per source sorts EVERY row of a
    * hot domain on one task. The implementation is two-phase: phase 1
    * ranks within (source, salt-of-doc_id) — 16-way split of each hot
    * key — and keeps ≤ K per salt slice, so at most 16·K rows per
    * source survive to phase 2's exact global rank per source. The
    * per-salt top-K is a superset of the global top-K (any global
    * winner is also a winner in its own slice), so the result is
    * IDENTICAL to the one-shot window — which is exactly what the
    * single-window oracle proves. */
  val sampleCapPerSource: CatalogEntry = CatalogEntry(
    "sample_cap_per_source",
    """SELECT doc_id, source, rk
      |FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(text), doc_id)::INT AS rk
      |  FROM documents)
      |WHERE rk <= 10
      |ORDER BY source, rk""".stripMargin) { (s, d) =>
    import s.implicits._
    Sampling.capPerKey(
      Tables.documents(s, d).select($"doc_id", $"source", $"text"),
      keyCols = Seq("source"), content = $"text", tie = $"doc_id", k = 10)
      .select($"doc_id", $"source", $"rk")
      .orderBy($"source", $"rk")
  }

  /** TEMPERATURE-reweighted source mixture — the data-mixing step of an
    * LLM training build: sample sources proportionally to n^alpha
    * (alpha = 0.5 here) instead of raw size, so huge domains stop
    * drowning small ones (the multilingual/mixture trick of the
    * XLM-R/T5 lineage). The corpus is first skewed deterministically
    * (doc_id stride varying by source index) so sources have genuinely
    * different sizes and the reweighting is observable — on a
    * uniform-source fixture every rate would coincide and the entry
    * would prove nothing.
    *
    * Cross-engine determinism: per-source weights q_s = round(sqrt(n_s)
    * ·1e9) are exact BIGINTs (hardware sqrt is correctly rounded), the
    * keep rate K·q_s / (Σq·n_s) is one correctly-rounded division of
    * exact integers, and the per-doc uniform is a 60-bit md5 prefix
    * scaled by the exact power of two 2^-60 — every float either engine
    * computes is the correctly-rounded image of identical integers, so
    * membership is bit-stable (the repo's ratio-of-exact-integers
    * discipline). Scale shape: the rate table is |sources| rows,
    * broadcast; membership is a scan-local predicate — no shuffle
    * beyond the source-count aggregate. */
  val sampleTemperatureMix: CatalogEntry = CatalogEntry(
    "sample_temperature_mix",
    """WITH corpus AS (
      |  SELECT doc_id, source FROM documents
      |  WHERE doc_id % ((substring(source, 4, 10)::INT % 4) + 1) = 0),
      |src AS (SELECT source, count(*)::BIGINT AS n FROM corpus GROUP BY source),
      |qv AS (SELECT source, n,
      |         round(sqrt(n::DOUBLE) * 1e9, 0)::BIGINT AS q FROM src),
      |tot AS (SELECT sum(q)::BIGINT AS sum_q FROM qv),
      |rated AS (
      |  SELECT source, n, (120 * q)::DOUBLE / (sum_q * n)::DOUBLE AS rate
      |  FROM qv, tot)
      |SELECT d.doc_id, d.source, r.n AS n_source, round(r.rate, 6) AS rate
      |FROM corpus d JOIN rated r USING (source)
      |WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE
      |      / 1152921504606846976.0 < r.rate
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val corpus = Tables.documents(s, d)
      .where($"doc_id" %
        ((substring($"source", 4, 10).cast("int") % 4) + 1) === 0)
      .select($"doc_id", $"source")
    val srcCounts = corpus.groupBy($"source").agg(count(lit(1)).as("n"))
      .withColumn("q", round(sqrt($"n".cast("double")) * lit(1e9), 0)
        .cast("long"))
    val tot = srcCounts.agg(sum($"q").as("sum_q"))
    val rated = srcCounts.crossJoin(broadcast(tot))
      .select($"source", $"n",
        ((lit(120L) * $"q").cast("double") /
          ($"sum_q" * $"n").cast("double")).as("rate"))
    // 2^60 exactly; division by a power of two is exact scaling
    val twoPow60 = lit(1152921504606846976.0)
    corpus.join(broadcast(rated), "source")
      .where(conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
        .cast("long").cast("double") / twoPow60 < $"rate")
      .select($"doc_id", $"source", $"n".as("n_source"),
        round($"rate", 6).as("rate"))
      .orderBy($"doc_id")
  }

  /** EPOCH-REPEAT mixture balancing — the UPSAMPLING half of data
    * mixing (the [[sampleTemperatureMix]] rate can only drop docs):
    * with a corpus-relative budget K = 3N/2 tokens-worth of docs and
    * n^0.5 source weights, small sources get per-doc epoch counts
    * ABOVE one (each doc repeated, the "small-domain oversampling" of
    * mixture training builds), large sources sit near one. The
    * fractional epoch is realized per-doc: floor(e_s) guaranteed
    * repeats plus one extra when the doc's md5-uniform falls below the
    * remainder — in expectation exactly e_s, deterministically
    * replayable.
    *
    * Float discipline: e_s is never materialized as a float — its
    * floor and remainder come from exact BIGINT `div`/`%`, and the
    * only float compare is u < rem/den, one correctly-rounded division
    * of exact integers against the 2^-60-scaled md5 prefix. Scale
    * shape: the per-source epoch table is |sources| rows broadcast;
    * the repeat itself is a row-local `sequence` explode — output rows
    * shuffle nowhere new. */
  val sampleRepeatEpochs: CatalogEntry = CatalogEntry(
    "sample_repeat_epochs",
    """WITH corpus AS (
      |  SELECT doc_id, source FROM documents
      |  WHERE doc_id % ((substring(source, 4, 10)::INT % 4) + 1) = 0),
      |src AS (SELECT source, count(*)::BIGINT AS n FROM corpus GROUP BY source),
      |qv AS (SELECT source, n,
      |         round(sqrt(n::DOUBLE) * 1e9, 0)::BIGINT AS q FROM src),
      |tot AS (SELECT sum(q)::BIGINT AS sum_q,
      |               (3 * sum(n)::BIGINT) // 2 AS k FROM qv),
      |rated AS (
      |  SELECT source, n,
      |    (k * q) // (sum_q * n) AS floor_e,
      |    (k * q) % (sum_q * n) AS rem,
      |    sum_q * n AS den
      |  FROM qv, tot),
      |rep AS (
      |  SELECT d.doc_id, d.source,
      |    (r.floor_e + CASE WHEN
      |       ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE
      |       / 1152921504606846976.0 < r.rem::DOUBLE / r.den::DOUBLE
      |     THEN 1 ELSE 0 END)::BIGINT AS n_epochs
      |  FROM corpus d JOIN rated r USING (source))
      |SELECT doc_id, source, n_epochs, e.epoch::BIGINT AS epoch
      |FROM rep, unnest(generate_series(1, n_epochs)) AS e(epoch)
      |ORDER BY doc_id, epoch""".stripMargin) { (s, d) =>
    import s.implicits._
    val corpus = Tables.documents(s, d)
      .where($"doc_id" %
        ((substring($"source", 4, 10).cast("int") % 4) + 1) === 0)
      .select($"doc_id", $"source")
    val srcCounts = corpus.groupBy($"source").agg(count(lit(1)).as("n"))
      .withColumn("q", round(sqrt($"n".cast("double")) * lit(1e9), 0)
        .cast("long"))
    val tot = srcCounts.agg(sum($"q").as("sum_q"),
      expr("(3 * sum(n)) div 2").as("k"))
    val rated = srcCounts.crossJoin(broadcast(tot))
      .withColumn("num", $"k" * $"q")
      .withColumn("den", $"sum_q" * $"n")
      .select($"source", expr("num div den").as("floor_e"),
        ($"num" % $"den").as("rem"), $"den")
    val twoPow60 = lit(1152921504606846976.0)
    corpus.join(broadcast(rated), "source")
      .withColumn("n_epochs", $"floor_e" +
        when(conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long").cast("double") / twoPow60 <
          $"rem".cast("double") / $"den".cast("double"), 1L).otherwise(0L))
      .where($"n_epochs" >= 1) // sequence(1,0) would run DESCENDING
      .select($"doc_id", $"source", $"n_epochs",
        explode(sequence(lit(1L), $"n_epochs")).as("epoch"))
      .orderBy($"doc_id", $"epoch")
  }

  /** Pareto-frontier (skyline) data selection: keep the docs not
    * dominated on the (classifier score, length) plane — the
    * multi-signal version of threshold filtering (a single cutoff per
    * signal discards docs that trade one strength for another). A doc
    * survives iff no other doc is ≥ on both axes and > on one.
    *
    * Scale shape — the O(n²) dominance test is replaced by a two-level
    * prefix scan: (1) collapse to one row per distinct score
    * (`maxc = max chars at that score`; shuffle is |distinct scores|,
    * with map-side partial agg); (2) within 2²⁰-wide score buckets, a
    * bounded-partition window gives the running max over strictly
    * greater scores; (3) across buckets, the per-bucket maxes — a
    * tiny table by construction — take one single-partition window
    * whose cumulative maxes then BROADCAST back. A doc's score is on
    * the frontier iff `maxc` beats every strictly-greater score's max
    * chars; the doc survives iff it also carries its score's `maxc`.
    * The oracle states the contract directly as the quadratic
    * NOT EXISTS — deliberately a different formulation. Note `div`'s
    * truncation (vs floor) keeps bucketing monotone in score, which is
    * all the bucket order needs. */
  val paretoFrontierSelect: CatalogEntry = CatalogEntry(
    "pareto_frontier_select",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |scored AS (
      |  SELECT t.doc_id,
      |    sum((('0x' || substring(md5(w), 1, 15))::BIGINT % 1024 * 2654435761)
      |        % 1048576 - 524288)::BIGINT AS score,
      |    any_value(d.n_chars) AS n_chars
      |  FROM tok t JOIN documents d ON t.doc_id = d.doc_id
      |  WHERE w <> '' GROUP BY t.doc_id)
      |SELECT s.doc_id, s.score, s.n_chars FROM scored s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM scored t
      |  WHERE t.score >= s.score AND t.n_chars >= s.n_chars
      |    AND (t.score > s.score OR t.n_chars > s.n_chars))
      |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val toks = filter(split($"text", " "), w => w =!= "")
    val weight = (w: org.apache.spark.sql.Column) =>
      (conv(substring(md5(w), 1, 15), 16, 10).cast("long") % 1024L *
        lit(2654435761L)) % 1048576L - 524288L
    val scored = Tables.documents(s, d)
      .select($"doc_id",
        aggregate(toks, lit(0L), (acc, w) => acc + weight(w)).as("score"),
        $"n_chars")
    graft.ext.Skyline.frontier(scored, "score", "n_chars")
      .select($"doc_id", $"score", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Named train/val/test split with a per-language census — the
    * reproducible 80/10/10 partition every training run starts from.
    * Assignment is a salted 60-bit md5 uniform mod 100 (salt `|split`
    * decorrelates it from every other hash-sampling entry so a doc's
    * split fate is independent of its sample/shard fate), so
    * membership is bit-stable across engines, input order, and
    * partitioning, and a doc NEVER migrates between splits as the
    * corpus grows — the property a random() split can't give. Scale
    * shape: assignment is scan-local; one partial-agg exchange of
    * |buckets|·|langs| rows. */
  val splitTrainValTest: CatalogEntry = CatalogEntry(
    "split_train_val_test",
    """WITH assigned AS (
      |  SELECT lang,
      |    CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR || '|split'),
      |                1, 15))::BIGINT % 100 < 80 THEN 'train'
      |         WHEN ('0x' || substring(md5(doc_id::VARCHAR || '|split'),
      |                1, 15))::BIGINT % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS bucket
      |  FROM documents)
      |SELECT bucket, lang, count(*)::BIGINT AS n_docs
      |FROM assigned GROUP BY bucket, lang
      |ORDER BY bucket, lang""".stripMargin) { (s, d) =>
    import s.implicits._
    val u = conv(substring(md5(concat($"doc_id".cast("string"),
      lit("|split"))), 1, 15), 16, 10).cast("long") % 100L
    Tables.documents(s, d)
      .select($"lang",
        when(u < 80, "train").when(u < 90, "val").otherwise("test")
          .as("bucket"))
      .groupBy($"bucket", $"lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"bucket", $"lang")
  }

  /** Weighted sample without replacement (Efraimidis–Spirakis): the
    * 100 docs with the largest `ln(u)/n_chars` keys — longer documents
    * are proportionally more likely, no row is drawn twice, and the
    * draw is bit-reproducible across engines/runs because u comes from
    * md5, not rand() (see [[Sampling.weightedKey]]). The oracle replays
    * the identical key arithmetic in DuckDB; `key_micros` pins the key
    * values themselves, not just the membership. Plan: scan-side
    * keying + TakeOrderedAndProject — no full sort, no shuffle. */
  val sampleWeightedEs: CatalogEntry = CatalogEntry(
    "sample_weighted_es",
    """WITH keyed AS (
      |  SELECT doc_id, lang, n_chars,
      |    ln((('0x' || substring(md5(text), 1, 15))::BIGINT + 1)::DOUBLE
      |        / 1152921504606846976.0) / n_chars AS es_key
      |  FROM documents
      |  WHERE n_chars > 0
      |)
      |SELECT doc_id::BIGINT AS doc_id, lang, n_chars::BIGINT AS n_chars,
      |       round(es_key * 1e6)::BIGINT AS key_micros
      |FROM keyed
      |ORDER BY es_key DESC, doc_id
      |LIMIT 100""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .where($"n_chars" > 0)
      .withColumn("es_key", Sampling.weightedKey($"text", $"n_chars"))
      .orderBy($"es_key".desc, $"doc_id")
      .limit(100)
      .select($"doc_id", $"lang", $"n_chars",
        round($"es_key" * 1e6).cast("long").as("key_micros"))
  }

  /** Leakage-safe train/val/test split — the dedup-aware refinement of
    * `split_train_val_test`: hashing each DOCUMENT id sends exact
    * copies of the same text to different sides, leaking training
    * content into eval (the benchmark-contamination failure mode the
    * decontam entries exist to catch). Hashing the GROUP key instead —
    * here md5(text), the exact-dup class — pins every copy to one
    * side by construction. The same pattern upgrades to near-dup
    * safety by substituting any cluster id (e.g.
    * `dedup_cluster_cc`'s component label) as the group key; the
    * split arithmetic is unchanged. `n_groups` counts split units,
    * `n_docs` the documents they carry.
    *
    * Scale shape: ONE digest-keyed aggregate (the shuffle carries
    * 32-byte digests + counts, never text) feeds a 3-group census;
    * the split hash is md5-derived like every sampling entry — no
    * rand(), bit-reproducible across engines, epochs, and reruns. */
  val splitLeakageSafe: CatalogEntry = CatalogEntry(
    "split_leakage_safe",
    """WITH a AS (
      |  SELECT md5(text) AS gkey,
      |    ('0x' || substring(md5(md5(text) || '|split'), 1, 15))::BIGINT
      |      % 100 AS u,
      |    count(*)::BIGINT AS n_copies
      |  FROM documents GROUP BY md5(text))
      |SELECT CASE WHEN u < 80 THEN 'train'
      |            WHEN u < 90 THEN 'val' ELSE 'test' END AS bucket,
      |  count(*)::BIGINT AS n_groups, sum(n_copies)::BIGINT AS n_docs
      |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    import s.implicits._
    val a = Tables.documents(s, d)
      .groupBy(md5($"text").as("gkey"))
      .agg(count(lit(1)).as("n_copies"))
      .select(
        (conv(substring(md5(concat($"gkey", lit("|split"))), 1, 15),
          16, 10).cast("long") % 100L).as("u"),
        $"n_copies")
    a.groupBy(when($"u" < 80, "train").when($"u" < 90, "val")
        .otherwise("test").as("bucket"))
      .agg(count(lit(1)).as("n_groups"), sum($"n_copies").as("n_docs"))
      .orderBy($"bucket")
  }

  /** Curriculum interleave — the deterministic "mix difficulty bands
    * round-robin" ordering a curriculum-training data loader wants:
    * docs are cut into 10 length deciles and emitted cycling
    * 1,2,…,10,1,2,… so every consecutive window of the stream sees
    * the full difficulty spread. Decile assignment is by comparison
    * against BROADCAST percentile cut points — NOT a global
    * `ntile()`, whose empty PARTITION BY plans the whole corpus
    * through one sort task; cuts are identical doubles in both
    * engines (the `agg_percentiles` interpolation precedent), and the
    * strict `cut < n_chars` rank is a per-row integer no float can
    * flip. Output position `(rn−1)·10 + decile` is unique by
    * construction (decile is pos mod 10).
    *
    * Scale shape: one tiny percentile aggregate broadcasts back; the
    * per-decile `row_number` runs 10 window partitions — at 100 TB
    * production two-levels the numbering (row_number within
    * (decile, shard), then add broadcast per-shard offsets) to spread
    * each decile across the cluster; the interleave arithmetic is
    * unchanged. */
  val curriculumInterleave: CatalogEntry = CatalogEntry(
    "curriculum_interleave",
    """WITH cuts AS (
      |  SELECT quantile_cont(n_chars,
      |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n_chars,
      |    (1 + len(list_filter(cs, c -> c < n_chars)))::BIGINT AS decile
      |  FROM documents, cuts),
      |r AS (
      |  SELECT doc_id, n_chars, decile,
      |    row_number() OVER (PARTITION BY decile ORDER BY doc_id) AS rn
      |  FROM b)
      |SELECT doc_id, n_chars, decile,
      |  ((rn - 1) * 10 + decile)::BIGINT AS pos
      |FROM r ORDER BY pos LIMIT 1000""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val cuts = docs.agg(percentile($"n_chars",
      array((1 to 9).map(i => lit(i / 10.0)): _*)).as("cs"))
    val deciled = docs.crossJoin(broadcast(cuts))
      .select($"doc_id", $"n_chars",
        (lit(1) + size(filter($"cs", c => c < $"n_chars")))
          .cast("bigint").as("decile"))
    deciled
      .withColumn("rn", row_number().over(
        Window.partitionBy($"decile").orderBy($"doc_id")))
      .select($"doc_id", $"n_chars", $"decile",
        (($"rn" - 1) * 10 + $"decile").cast("bigint").as("pos"))
      .orderBy($"pos")
      .limit(1000)
  }

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every raw-pool document by how target-like its unigram profile is
    * — the per-doc sum of log(p_target(w)/p_raw(w)) under add-one-
    * smoothed unigram models trained on the two pools (target =
    * `src0`, raw = every other source; both smoothed over the JOINT
    * vocabulary so the ratio is defined for every token). The weights
    * feed importance resampling: rank/sample raw docs by `lr_sum_nano`
    * to skew a web-scale crawl toward the curated target domain.
    *
    * Cross-engine exactness (the [[graft.queries.TextQueries]] LM
    * discipline): both models' log-probs are `ln` of ratios of EXACT
    * integer counts — identical IEEE inputs, identical doubles — and
    * each token's log-RATIO is nano-quantized to BIGINT before the
    * per-doc sum, so the sum is order-free; `lr_avg` divides the exact
    * sum by the exact token count and rounds once.
    *
    * Scale shape: ONE corpus token exchange builds both pools' censuses
    * (conditional partial aggs over the same groupBy — the target/raw
    * split never re-scans); totals and vocabulary size reduce FROM the
    * census; the log-ratio table is vocab-sized (broadcast while it
    * fits, else an equi-join on token with frequency-skew salting);
    * the per-doc aggregate is the only corpus-keyed shuffle. */
  val sampleDsirWeights: CatalogEntry = CatalogEntry(
    "sample_dsir_weights",
    """WITH tok AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
      |census AS (
      |  SELECT token,
      |    count(*) FILTER (WHERE source = 'src0')::BIGINT AS n_t,
      |    count(*) FILTER (WHERE source <> 'src0')::BIGINT AS n_r
      |  FROM tok GROUP BY token),
      |tot AS (
      |  SELECT sum(n_t)::BIGINT AS tt, sum(n_r)::BIGINT AS tr,
      |    count(*)::BIGINT AS vs
      |  FROM census),
      |lq AS (
      |  SELECT token,
      |    round((ln((n_t + 1)::DOUBLE / (tt + vs)::DOUBLE)
      |         - ln((n_r + 1)::DOUBLE / (tr + vs)::DOUBLE)) * 1e9, 0)::BIGINT
      |      AS lq
      |  FROM census, tot),
      |scored AS (
      |  SELECT t.doc_id, t.source, lq.lq
      |  FROM tok t JOIN lq USING (token) WHERE t.source <> 'src0')
      |SELECT doc_id, source, count(*)::BIGINT AS n_tokens,
      |  sum(lq)::BIGINT AS lr_sum_nano,
      |  round((sum(lq)::DOUBLE / 1e9) / count(*), 6) AS lr_avg
      |FROM scored GROUP BY doc_id, source ORDER BY doc_id""".stripMargin) {
    (s, d) =>
      import s.implicits._
      import graft.ext.TextOps
      val tok = Tables.documents(s, d)
        .where($"text".isNotNull && length($"text") > 0)
        .select($"doc_id", $"source",
          explode(TextOps.tokens($"text")).as("token"))
      val census = tok.groupBy($"token").agg(
        sum(when($"source" === "src0", 1L).otherwise(0L)).as("n_t"),
        sum(when($"source" =!= "src0", 1L).otherwise(0L)).as("n_r"))
      val tot = census.agg(sum($"n_t").as("tt"), sum($"n_r").as("tr"),
        count(lit(1)).as("vs"))
      val lq = census.crossJoin(broadcast(tot))
        .select($"token",
          round((log(($"n_t" + 1).cast("double") /
              ($"tt" + $"vs").cast("double")) -
            log(($"n_r" + 1).cast("double") /
              ($"tr" + $"vs").cast("double"))) * lit(1e9), 0)
            .cast("long").as("lq"))
      tok.where($"source" =!= "src0")
        .join(lq, Seq("token"))
        .groupBy($"doc_id", $"source")
        .agg(count(lit(1)).as("n_tokens"),
          sum($"lq").as("lr_sum_nano"),
          round((sum($"lq").cast("double") / lit(1e9)) / count(lit(1)), 6)
            .as("lr_avg"))
        .orderBy($"doc_id")
  }

  /** IPF / RAKING of the (source × lang) mixture — iterative
    * proportional fitting (Deming & Stephan 1940; "raking" in the
    * survey-sampling literature): find per-cell sampling weights whose
    * SOURCE margins are uniform (no domain dominates) while the LANG
    * margins follow a √n temperature target (the multilingual
    * up-weighting of the XLM-R lineage) — the two-constraint version
    * of [[sampleTemperatureMix]], which can balance only one margin at
    * a time. Two full IPF iterations (4 unrolled margin scalings:
    * source, lang, source, lang), which is within ~1% of the fixpoint
    * on this census.
    *
    * Cross-engine exactness: weights live on an integer lattice
    * (10⁻⁶-doc units); every scaling step is `(w · target) div
    * margin-sum` with the product in DECIMAL(38,0)/HUGEINT (w·target
    * tops ~10²⁰), every margin-sum an exact BIGINT window sum, and the
    * lang targets come from `round(sqrt(n)·1e9)` (hardware sqrt of an
    * exact integer is correctly rounded — the temperature-mix
    * discipline). Both engines walk the identical lattice; zero float
    * reaches the output.
    *
    * Scale shape: the ONLY corpus-sized work is the (source, lang)
    * census — one partial-agg exchange; the IPF rounds run on the
    * cells table (|sources|·|langs| rows — broadcast-scale metadata),
    * windows partitioned by source / lang over those same few rows,
    * and the 1-row mass/target scalars join as broadcasts. At 100 TB
    * the cell table is still kilobytes: raking cost is independent of
    * corpus size by construction. */
  val sampleIpfRaking: CatalogEntry = CatalogEntry(
    "sample_ipf_raking",
    """WITH cells AS (
      |  SELECT source, lang, count(*)::BIGINT AS n
      |  FROM documents GROUP BY source, lang),
      |m AS (SELECT sum(n)::BIGINT * 1000000 AS mass,
      |             count(DISTINCT source)::BIGINT AS ns FROM cells),
      |lt AS (SELECT lang, round(sqrt(sum(n)::DOUBLE) * 1e9, 0)::BIGINT AS q
      |       FROM cells GROUP BY lang),
      |ls AS (SELECT sum(q)::BIGINT AS qs FROM lt),
      |tgt_l AS (SELECT lang, ((q::HUGEINT * (SELECT mass FROM m))
      |                        // (SELECT qs FROM ls))::BIGINT AS cl FROM lt),
      |tgt_s AS (SELECT ((SELECT mass FROM m) // ns)::BIGINT AS ts FROM m),
      |w0 AS (SELECT source, lang, n, n * 1000000 AS w FROM cells),
      |r1 AS (SELECT source, lang, n,
      |         ((w::HUGEINT * (SELECT ts FROM tgt_s))
      |          // sum(w) OVER (PARTITION BY source))::BIGINT AS w
      |       FROM w0),
      |r2 AS (SELECT r1.source, r1.lang, r1.n,
      |         ((r1.w::HUGEINT * t.cl)
      |          // sum(r1.w) OVER (PARTITION BY r1.lang))::BIGINT AS w
      |       FROM r1 JOIN tgt_l t ON r1.lang = t.lang),
      |r3 AS (SELECT source, lang, n,
      |         ((w::HUGEINT * (SELECT ts FROM tgt_s))
      |          // sum(w) OVER (PARTITION BY source))::BIGINT AS w
      |       FROM r2),
      |r4 AS (SELECT r3.source, r3.lang, r3.n,
      |         ((r3.w::HUGEINT * t.cl)
      |          // sum(r3.w) OVER (PARTITION BY r3.lang))::BIGINT AS w
      |       FROM r3 JOIN tgt_l t ON r3.lang = t.lang)
      |SELECT source, lang, n, w AS weight_u,
      |  (w // greatest(n, 1))::BIGINT AS per_doc_u
      |FROM r4 ORDER BY source, lang""".stripMargin) { (s, d) =>
    import s.implicits._
    val cells = Tables.documents(s, d)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
    val m = cells.agg((sum($"n") * lit(1000000L)).as("mass"),
      countDistinct($"source").as("ns"))
    val lt = cells.groupBy($"lang")
      .agg(round(sqrt(sum($"n").cast("double")) * lit(1e9), 0)
        .cast("long").as("q"))
    val ls = lt.agg(sum($"q").as("qs"))
    val tgtL = lt.crossJoin(broadcast(m.select($"mass")))
      .crossJoin(broadcast(ls))
      .select($"lang",
        expr("cast((cast(q as decimal(38,0)) * cast(mass as decimal(38,0)))" +
          " div cast(qs as decimal(38,0)) as bigint)").as("cl"))
    val tgtS = m.select(expr("mass div ns").cast("long").as("ts"))
    val wSrc = Window.partitionBy($"source")
    val wLang = Window.partitionBy($"lang")
    def scaleSrc(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rs", sum($"w").over(wSrc))
      .withColumn("w",
        expr("cast((cast(w as decimal(38,0)) * cast(ts as decimal(38,0)))" +
          " div cast(rs as decimal(38,0)) as bigint)"))
      .drop("rs")
    def scaleLang(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ks", sum($"w").over(wLang))
      .withColumn("w",
        expr("cast((cast(w as decimal(38,0)) * cast(cl as decimal(38,0)))" +
          " div cast(ks as decimal(38,0)) as bigint)"))
      .drop("ks")
    val w0 = cells
      .withColumn("w", $"n" * lit(1000000L))
      .crossJoin(broadcast(tgtS))
      .join(broadcast(tgtL), Seq("lang"))
    val r4 = scaleLang(scaleSrc(scaleLang(scaleSrc(w0))))
    r4.select($"source", $"lang", $"n", $"w".as("weight_u"),
        expr("w div greatest(n, 1)").cast("long").as("per_doc_u"))
      .orderBy($"source", $"lang")
  }

  /** GREEDY K-CENTER CORESET (farthest-first traversal, Gonzalez '85;
    * the k-Center-Greedy of Sener & Savarese ICLR'18 active-learning
    * coresets): select 5 embedding-space centers where each pick is
    * the vector FARTHEST from everything already selected — the
    * maximally-diverse subset selection that anchors data-pruning and
    * annotation-budget pipelines (the opposite pole from
    * `embed_outlier_centroid`'s prune-the-edge rule: here the edge is
    * exactly what gets KEPT). The greedy gives the classic 2-approx
    * of the optimal k-center cover, and the selection trace emits
    * each pick's distance-to-cover — the coverage-radius curve that
    * says when more centers stop paying.
    *
    * Exactness: distances are the kmeans-assign lattice (per-dim
    * squared diffs nano-quantized before the order-free BIGINT sum);
    * every argmax is (d² DESC, vec_id) over integers — no IEEE
    * boundary picks a different center. Oracle replays the identical
    * unrolled rounds as chained CTEs.
    *
    * Scale shape: each round is ONE corpus pass against the ≤5
    * selected centers as a literal (row-local distance, min over ≤5
    * values per row) + a TakeOrdered(1) argmax collected to the
    * driver — no shuffle, no join, no per-round checkpoint. At
    * 100 TB the k·n work is the known cost of k-center greedy — for
    * large k the standard move is the same pass over an
    * `embedding_centroids` summary instead of raw vectors. */
  val sampleKcenterCoreset: CatalogEntry = {
    val d2Sql = (a: String, b: String) =>
      s"""list_sum([round((($a[i]::DOUBLE) - ($b[i]::DOUBLE))
         |                * (($a[i]::DOUBLE) - ($b[i]::DOUBLE)) * 1e9,
         |                0)::BIGINT
         |          for i in range(1, len($a) + 1)])::BIGINT""".stripMargin
    val rounds = (1 to 4).map { r =>
      s""",
         |d$r AS (
         |  SELECT e.vec_id, min(${d2Sql("e.embedding", "s.v")}) AS dmin
         |  FROM embeddings e, sel${r - 1} s
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |  GROUP BY e.vec_id),
         |m$r AS (SELECT vec_id, dmin FROM d$r
         |        ORDER BY dmin DESC, vec_id LIMIT 1),
         |sel$r AS (
         |  SELECT rnk, vec_id, v FROM sel${r - 1}
         |  UNION ALL
         |  SELECT $r::INT AS rnk, m.vec_id, e.embedding AS v
         |  FROM m$r m JOIN embeddings e USING (vec_id))""".stripMargin
    }.mkString
    val sql =
      s"""WITH sel0 AS (
         |  SELECT 0::INT AS rnk, vec_id, embedding AS v
         |  FROM embeddings WHERE vec_id = 0)$rounds
         |SELECT rnk, vec_id, d2q_sel FROM (
         |  SELECT 0::INT AS rnk, (SELECT vec_id FROM sel0) AS vec_id,
         |    0::BIGINT AS d2q_sel
         |  UNION ALL SELECT 1, vec_id, dmin FROM m1
         |  UNION ALL SELECT 2, vec_id, dmin FROM m2
         |  UNION ALL SELECT 3, vec_id, dmin FROM m3
         |  UNION ALL SELECT 4, vec_id, dmin FROM m4)
         |ORDER BY rnk""".stripMargin
    CatalogEntry("sample_kcenter_coreset", sql) { (s, d) =>
      import s.implicits._
      val embT = graft.Tables.embeddings(s, d)
      // selected centers (rnk, vec_id, embedding, d2q_sel), in pick order
      val sel0 = embT.where($"vec_id" === 0).select($"vec_id", $"embedding")
        .collect().map(r => (0, r.getLong(0), r.getSeq[Float](1), 0L))
      val sel = (1 to 4).foldLeft(sel0.toSeq) { (sel, r) =>
        if (sel.isEmpty) sel
        else sel ++ embT.where(!$"vec_id".isin(sel.map(_._2): _*))
          .select($"vec_id", $"embedding", array_min(transform(typedLit(sel.map(_._3)),
            c => DriverMath.l2Nano($"embedding", c))).as("dmin"))
          .orderBy($"dmin".desc, $"vec_id").limit(1)
          .collect().map(c => (r, c.getLong(0), c.getSeq[Float](1), c.getLong(2)))
      }
      sel.map { case (rnk, id, _, d2) => (rnk, id, d2) }
        .toDF("rnk", "vec_id", "d2q_sel")
    }
  }

  def entries: Seq[CatalogEntry] = Seq(
    sampleHashDeterministic, sampleStratifiedHash, sampleCapPerSource,
    sampleTemperatureMix, sampleRepeatEpochs, paretoFrontierSelect,
    splitTrainValTest, sampleWeightedEs, curriculumInterleave,
    splitLeakageSafe, sampleDsirWeights, sampleIpfRaking,
    sampleKcenterCoreset)
}
