package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec

/** Catalog-wide scale-killer lint: NO entry may plan a CartesianProduct,
  * and BroadcastNestedLoopJoin is allowed only where the build side is a
  * broadcast 1-row scalar / single query vector (the documented
  * pattern) — enumerated here so any future entry that accidentally
  * introduces an all-pairs join fails this suite instead of surviving
  * until a 100 TB run.
  */
class CatalogPlanLintSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** Entries whose plan legitimately carries a BroadcastNestedLoopJoin:
    * every one is a crossJoin against a broadcast ≤1-row aggregate or a
    * single query vector — O(n) work, not O(n²). */
  private val scalarBroadcastAllowlist = Set(
    "earliest_in_window",    // broadcast data-max "now" scalar
    "dedup_ngram_jaccard",   // broadcast 1 query shingle-set
    "tfidf_top_terms",       // broadcast 1-row corpus count N
    "resample_ffill",        // broadcast (min_day, max_day) bounds row
    "sim_cosine_topk",       // broadcast 1 query embedding
    "sim_quantized_topk",    // broadcast 1 query embedding (rescore ANN)
    "sim_ivf",               // centroid table (|clusters| rows) x 1 query row
    "sim_ivf_recall_curve",  // 3 IVF arms, same centroid x 1-query cross
    "sketch_quantiles_span", // 4-row broadcast span table (day BETWEEN)
    "events_grouping_sets",  // grouping-sets expand over broadcast scalar
    "decontam_bloom_prefilter", // broadcast 1-row bloom-filter sketch
    "vocab_coverage",        // broadcast 1-row corpus token total
    "doc_lm_score",          // broadcast 1-row corpus token total
    "heavy_hitters_exact",   // broadcast 1-row corpus token total
    "sample_temperature_mix", // broadcast 1-row Σq scalar
    "sample_repeat_epochs",  // broadcast 1-row (Σq, K) scalar
    "bm25_topk",             // broadcast 1-row (N, Σlen) corpus scalar
    "basket_cooccur_lift",   // broadcast 1-row basket-count N scalar
    "dedup_graph_triangles", // 4 broadcast 1-row census scalars joined
    "graph_pagerank_copurchase", // broadcast 1-row node-count N scalar
    "events_interarrival_histogram", // broadcast 1-row delta-total scalar
    "retrieval_hybrid_rrf",  // broadcast 1 query embedding (dense ranker)
    "curriculum_interleave", // broadcast 1-row percentile-cuts scalar
    "sim_recall_at_k",       // composes sim_cosine_topk's 1-query cross
    "q22_global_sales",      // broadcast 1-row global-average scalar
    "corpus_kl_drift",       // broadcast 1-row (N1,N2,V) totals scalar
    "q15_top_supplier",      // broadcast 1-row global-max scalar
    "stats_chisq_lang_source", // |langs| x broadcast |sources| grid + N scalar
    "stats_cohen_kappa",     // two broadcast 1-row census scalars joined
    "quality_calibration_bins", // broadcast 1-row corpus-count scalar
    "embed_matryoshka_recall", // 3 arms x broadcast 1 query prefix
    "doc_lm_excess_rank",    // broadcast 1-row corpus-total scalars (both LMs)
    "embed_kmeans_assign",   // corpus x broadcast k=8 centroid rows, O(k·n)
    "dedup_semantic_embed",  // same k=8 centroid assign feeds the prune
    "dedup_layer_agreement", // composes dedup_semantic_embed's centroid cross
    "embed_kmeans_update",   // same coarse-assign shape as above
    "embed_outlier_centroid", // same coarse-assign shape as above
    "sim_hard_negatives",    // corpus x broadcast 5 query rows
    "doc_lm_bigram_score",   // broadcast 1-row vocabulary-size scalar
    "sample_dsir_weights",   // vocab x broadcast 1-row totals scalar
    "sample_ipf_raking",     // cells x broadcast 1-row mass/target scalars
    "quality_ppl_buckets",   // broadcast 1-row corpus token total
    "corpus_heaps_fit",      // gram vocab x broadcast 8 checkpoint rows
    "sim_ndcg_eval",         // composes sim_cosine_topk + IVF 1-query cross
    "decontam_semantic_embed", // corpus x broadcast eval-suite rows
    "sim_pq_recall",         // composes sim_cosine_topk's 1-query cross
    "corpus_novelty_curve",  // gram stream x broadcast 1-row doc-count scalar
    "tfidf_per_doc_topk",    // broadcast 1-row corpus doc-count N
    "q11_value_share",       // broadcast 1-row global-total scalar
    "graph_kcore_copurchase", // broadcast 1-row converged flag
    "dedup_threshold_sensitivity", // composes dedup_semantic_embed's
                             // centroid cross + broadcast 1-row doc count
    "sketch_cms_bigram",     // broadcast 1-row corpus occurrence total N
    "distinct_kmv_setops")   // 20-row theta table x broadcast 20-row
                             // theta table source-pair grid (the
                             // stats_chisq metadata-grid shape: pair
                             // count is source-cardinality², corpus-
                             // size-independent)

  /** Every catalog entry's query at sf0.001, as `CatalogEntry.query`
    * returns it, with its executed plan already planned: built once
    * and shared by the catalog-wide rows below. */
  private lazy val catalogPlans: Seq[(String, QueryExecution)] =
    SparkEntry.catalog.toSeq.sortBy(_._1).map { case (name, entry) =>
      val qe = entry.query(spark, "/root/testdata/sf0.001").queryExecution
      qe.executedPlan
      name -> qe
    }

  /** Shuffle (non-broadcast) Exchange nodes in an executed plan,
    * counted per tree line so only nodes whose operator IS a shuffle
    * `Exchange` count: `BroadcastExchange` isn't the full-shuffle cost
    * being linted, and a `ReusedExchange` line re-reads an existing
    * shuffle's output (its description quotes the reused `Exchange
    * hashpartitioning(...)`, so a substring count would bill the same
    * shuffle twice). */
  private def shuffleCount(plan: String): Int =
    plan.linesIterator.count { line =>
      // strip the tree-drawing prefix (`+- `, `:  `, `*(n) ` ...) down
      // to the first letter: that word is the operator name
      line.dropWhile(c => !c.isLetter).startsWith("Exchange ")
    }

  /** KEYED shuffle exchanges only: round-robin repartitions (the
    * documents reader's scan spread — pure scan-parallelism, a no-op on
    * a warehouse-scale multi-file scan) are excluded, so a budget
    * stated in keyed shuffles can stay tight: loosening the TOTAL
    * count to absorb the spread would also absorb a genuine keyed
    * shuffle regressing into a sketch kernel. */
  private def keyedShuffleCount(plan: String): Int =
    plan.linesIterator.count { line =>
      val op = line.dropWhile(c => !c.isLetter)
      op.startsWith("Exchange ") &&
        !op.startsWith("Exchange RoundRobinPartitioning") &&
        !op.startsWith("Exchange roundrobinpartitioning")
    }

  test("custom join operators stay single-shuffle; their catalog entries " +
      "add at most the determinism sort") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"

    // the raw operator: union + one window partitionBy — exactly ONE
    // exchange; a second one would mean the formulation regressed to a
    // shuffle-per-stage shape that doubles cost at 100 TB
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    val rawAsOf = graft.operators.AsOfJoin.leftAsOf(
      ev.select($"event_id", $"user_id", $"ts"), purchases,
      "user_id", "user_id", "ts", "ts", Seq("event_id", "value"), "event_id")
    // KEYED exchanges only: the events reader's round-robin spread
    // (pure scan parallelism, a no-op at warehouse scale) is excluded,
    // same rationale as the sketch-kernel budget below
    val rawPlan = rawAsOf.queryExecution.executedPlan.toString
    assert(keyedShuffleCount(rawPlan) == 1,
      s"AsOfJoin must plan exactly one keyed shuffle exchange:\n$rawPlan")

    // the catalog entries carry a global ORDER BY purely for oracle
    // determinism — at most one extra range exchange (none where
    // `CatalogEntry.query` plans a small query as one partition)
    for (name <- Seq("asof_join", "range_join_window_agg",
        "asof_join_tolerance", "asof_join_forward")) {
      val plan = SparkEntry.catalog(name).query(spark, sf)
        .queryExecution.executedPlan.toString
      assert(keyedShuffleCount(plan) <= 2,
        s"$name: operator + determinism sort allow at most 2 keyed " +
          s"shuffle exchanges, got ${keyedShuffleCount(plan)}:\n$plan")
    }
  }

  test("native sketch entries: no shuffle beyond the determinism sort, " +
      "kernel evaluated exactly once per row") {
    // the whole point of the single-pass expressions: the signature /
    // fingerprint stage of a 100 TB dedup must plan ZERO shuffles, and
    // no optimizer rewrite (CollapseProject, filter pushdown) may
    // silently duplicate the kernel into multiple per-row evaluations
    val sf = "/root/testdata/sf0.001"
    for ((name, kernel) <- Seq(
        "text_simhash" -> "simhash63",
        "dedup_minhash_lsh" -> "minhash_bands",
        "doc_winnow_fingerprint" -> "winnow_fps",
        "dedup_simhash_hamming" -> "simhash63",
        "dedup_minhash_portable" -> "minhash_bands_md5",
        "text_simhash_portable" -> "simhash63_md5",
        "doc_winnow_portable" -> "winnow_fps_md5",
        "doc_quality_filter" -> "token_stats",
        "doc_repetition_stats" -> "rep_stats",
        "doc_strip_repeated_spans" -> "strip_repeated_spans")) {
      val df = SparkEntry.catalog(name).query(spark, sf)
      val physical = df.queryExecution.executedPlan.toString
      // At most ONE keyed exchange — the determinism sort (none where
      // the query is planned as one partition). The documents
      // reader's round-robin spread is excluded by
      // keyedShuffleCount, so a future keyed shuffle sneaking into a
      // sketch kernel still fails here (a total-count budget of 2
      // would have absorbed it unnoticed).
      assert(keyedShuffleCount(physical) <= 1,
        s"$name: sketch + determinism sort allow at most 1 KEYED " +
          s"shuffle exchange, got ${keyedShuffleCount(physical)}:\n$physical")
      val optimized = df.queryExecution.optimizedPlan.toString
      val evals = kernel.r.findAllMatchIn(optimized).size
      assert(evals == 1,
        s"$name: kernel $kernel must appear exactly once in the " +
          s"optimized plan, found $evals:\n$optimized")
    }
    // multi-shuffle pipelines that embed a kernel: only the
    // single-evaluation guard applies (filter pushdown through the
    // kernel projection would inline it once per referenced field)
    for ((name, kernel) <- Seq("corpus_curation_e2e" -> "token_stats")) {
      val optimized = SparkEntry.catalog(name).query(spark, sf)
        .queryExecution.optimizedPlan.toString
      val evals = kernel.r.findAllMatchIn(optimized).size
      assert(evals == 1,
        s"$name: kernel $kernel must appear exactly once in the " +
          s"optimized plan, found $evals:\n$optimized")
    }
  }

  test("single-keyed-exchange family: window chains and their group-bys " +
      "share one shuffle; only the determinism sort adds another") {
    // gaps-and-islands: both window passes AND the (user_id, island_id)
    // group-by must ride the user_id exchange — a second keyed exchange
    // means the grouping stopped reusing the window partitioning and
    // the operator doubled its shuffle volume at scale. window nav and
    // SCD2: same single-exchange claim (+1 asof exchange for the
    // point-in-time composition). Each budget is an upper bound: a
    // small query planned as one partition has no exchange at all.
    val sf = "/root/testdata/sf0.001"
    // KEYED exchanges only (the readers' round-robin spreads are
    // scan parallelism, not shuffle volume — excluded so the budgets
    // can stay tight)
    for ((name, maxShuffles) <- Seq(
        "events_merge_intervals" -> 2, // user_id exchange + sort
        "window_first_last" -> 2,      // custkey exchange + sort
        "scd2_from_history" -> 2,      // user_id exchange + sort
        "scd2_point_in_time" -> 3,     // versions + asof union + sort
        "events_value_histogram" -> 2, // partial-agg exchange + sort
        "events_bitwise_agg" -> 2,     // partial-agg exchange + sort
        "sample_cap_per_source" -> 3)) { // salt + exact + sort
      val plan = SparkEntry.catalog(name).query(spark, sf)
        .queryExecution.executedPlan.toString
      assert(keyedShuffleCount(plan) <= maxShuffles,
        s"$name: at most $maxShuffles keyed shuffle exchanges, " +
          s"got ${keyedShuffleCount(plan)}:\n$plan")
    }
  }

  test("spreadScan contract: CPU-dense pipelines over the single-file " +
      "test tables never inherit a byte-sized 1-task scan") {
    // The defect class the r13 bench flagged (json_props_extract 3.28x):
    // `events.parquet` is one file at test SFs, so a per-row JSON parse
    // inherits a single-task scan unless the reader spreads it. The
    // readers carry the guard; these asserts make REVERTING it (or
    // bypassing Tables.* with a raw spark.read) a test failure instead
    // of a bench surprise.
    val sf = "/root/testdata/sf0.001"
    val shufN = spark.sessionState.conf.numShufflePartitions
    // (a) the reader mechanism itself — the dense accessors carry the
    // guard (Tables.table() serves the raw scan for generic callers).
    // Tables.events is deliberately NOT here: the r14 blanket events
    // spread taxed every cheap events aggregation 1.5-1.8x against
    // baseline denominators recorded without it (r14 verdict finding
    // 3); dense events consumers read through Tables.eventsDense and
    // part (b) below fails any that don't.
    for ((t, df) <- Seq(
        "eventsDense" -> Tables.eventsDense(spark, sf),
        "documents" -> Tables.documents(spark, sf),
        "embeddings" -> Tables.embeddings(spark, sf))) {
      val parts = df.rdd.getNumPartitions
      assert(parts >= shufN,
        s"Tables.$t must spread its scan to >= $shufN partitions " +
          s"(got $parts) — the reader's scan spread is missing")
    }
    // the cheap-consumer default stays the raw byte-sized scan — a
    // future blanket re-spread re-introduces the r14 tax silently, so
    // pin the default reader's shape too
    assert(Tables.events(spark, sf).queryExecution.executedPlan.toString
        .toLowerCase.indexOf("roundrobinpartitioning") < 0,
      "Tables.events must serve the RAW scan (spread is scoped to " +
        "Tables.eventsDense per the r14 verdict)")
    // (b) per-entry plan shape: every catalog entry that scans one of
    // the single-file tables into CPU-dense per-row work must carry
    // the round-robin spread in its executed plan
    val denseMarkers = Seq("get_json_object", "from_json", "json_tuple",
      "regexp_extract", "simhash", "minhash", "winnow_fps",
      "token_stats", "rep_stats", "vec_dot", "sentences(",
      "bow_score", "boot_pois")
    val tablesRe = "(events|documents|embeddings)\\.parquet".r
    val violations = catalogPlans.flatMap {
      case (name, qe) =>
        val physical = qe.executedPlan.toString
        val optimized = qe.optimizedPlan.toString
        val dense = denseMarkers.exists(optimized.contains)
        val scansSingleFile = tablesRe.findFirstIn(physical).isDefined
        val spread = physical.contains("RoundRobinPartitioning") ||
          physical.toLowerCase.contains("roundrobinpartitioning")
        if (dense && scansSingleFile && !spread)
          Some(s"$name: CPU-dense work over a single-file scan with no " +
            "round-robin spread")
        else None
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("single-task scale-defect guards: the hot stages of the entries " +
      "the r10-r12 benches caught stay parallel") {
    // The defect class: a CPU-heavy stage collapsing onto ONE task —
    // AQE byte-coalescing a small-bytes window/join (r10: the 466 s CC
    // stage; r12: anomaly_zscore_topk's 5-key window), or a 1-file
    // input making a sink single-task (r11: roundtrip_csv, 65 s). The
    // bench's "single_task" artifact field detects it at sf0.1 per
    // round; these asserts pin the two fixed plans so a regression
    // fails in `sbt test` before burning a bench round.
    val sf = "/root/testdata/sf0.001"

    // anomaly_zscore_topk: the corpus-sized top-5 window must ride the
    // explicit salted repartition — partitioned by event_type alone it
    // has ~5 key values and AQE folds the sort onto one task
    val azPlan = SparkEntry.catalog("anomaly_zscore_topk").query(spark, sf)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(event_type#\\d+[^)]*salt#".r
        .findFirstIn(azPlan).isDefined,
      s"anomaly_zscore_topk: salted (event_type, salt) repartition " +
        s"missing from the plan:\n$azPlan")

    // roundtrip_csv: `part` is ONE parquet file, so without the
    // repartition the CSV write — and the inferSchema read-back over
    // the single file it produces — each run as one task. The entry's
    // eager write happens inside query(); count its output files.
    SparkEntry.catalog("roundtrip_csv").query(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val csvDir = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_csv_roundtrip_" +
        spark.sparkContext.applicationId)
    val partFiles = Option(csvDir.listFiles())
      .map(_.count(_.getName.startsWith("part-"))).getOrElse(0)
    val shufN = spark.sessionState.conf.numShufflePartitions
    assert(partFiles >= shufN,
      s"roundtrip_csv: CSV sink must fan out across the session's " +
        s"parallelism ($shufN), found $partFiles part files in $csvDir")
  }

  test("filter family reaches the parquet scan: non-empty PushedFilters " +
      "in every filter entry's plan") {
    // structural guard for SURVEY §4's pushdown claim — a reader-option
    // or column-derivation change that silently un-pushes the predicate
    // (full scan + post-filter at 100 TB) fails here, not in a bench
    val sf = "/root/testdata/sf0.001"
    for (name <- Seq("filter_eq", "filter_conj_eq", "filter_range_ts")) {
      val plan = SparkEntry.catalog(name).query(spark, sf)
        .queryExecution.executedPlan.toString
      assert("""PushedFilters: \[[^\]]""".r.findFirstIn(plan).isDefined,
        s"$name: scan has no non-empty PushedFilters:\n$plan")
    }
  }

  test("no catalog entry plans a cartesian product; nested-loop joins " +
      "only against broadcast scalars") {
    val violations = catalogPlans.flatMap {
      case (name, qe) =>
        val plan = qe.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
          !scalarBroadcastAllowlist(name)
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else None
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  /** Entries whose executed plan holds a window with no PARTITION BY,
    * which Spark runs on ONE task over every row that reaches it. Each
    * is listed with what reaches the window: safe where that is a
    * small bounded table, a scale-killer where it is a whole table. */
  private val unpartitionedWindows = Map(
    "corpus_novelty_curve" -> "8 octile rows",
    "corpus_zipf_fit" -> "the top-1000 token census",
    "doc_lm_excess_rank" -> "the top-50 docs",
    "events_cumulative_uniques" -> "one row per day",
    "events_rolling_corr" -> "one row per day (4 windows)",
    "ntile_buckets" -> "WHOLE orders table: exact ntile is one global sort",
    "pareto_frontier_select" -> "one row per 2^20-wide score bucket",
    "quality_calibration_bins" -> "one row per distinct classifier score",
    "rank_distribution" -> "WHOLE orders table: exact percent_rank/cume_dist",
    "retrieval_hybrid_rrf" -> "the two rankers' top-50 rows (2 windows)",
    "scalar_pct_change" -> "the ~dozen rows of one filtered key",
    "sim_ndcg_eval" -> "the top-10 rows of each arm (3 windows)",
    "vocab_coverage" -> "the top-100 token slice",
    "vocab_encode_docs" -> "the 16-row vocabulary")

  test("unpartitioned windows: exactly the listed entries move every row " +
      "of a window to one task") {
    val found = catalogPlans.collect {
      case (name, qe) if collectWithSubqueries(qe.executedPlan) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.nonEmpty => name
    }.toSet
    assert(found == unpartitionedWindows.keySet,
      s"new: ${(found -- unpartitionedWindows.keySet).toSeq.sorted.mkString(", ")}; " +
        s"gone: ${(unpartitionedWindows.keySet -- found).toSeq.sorted.mkString(", ")}")
  }
}
