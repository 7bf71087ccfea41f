package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Load, Transform}
import graft.sources.Fetch

/** The reference pipeline END TO END as one oracled catalog entry
  * (fetch_transform_load_dag.py:190 — fetch → transform → load →
  * current snapshot), composed from the real stage functions over an
  * inline JSON fixture: `Fetch.parseLive` (success check, quotes-map
  * pivot, pair split, stamping) → `Transform` (dropna on rate, schema
  * align) → `Load.latestPerKey`/`upsertLatest` (the MERGE with the
  * strict `S.ts > T.ts` late-data guard, load_to_bigquery.py:102).
  *
  * The fixture exercises every semantic branch in one pass: a failed
  * payload (filtered by the success flag), a null rate (dropped), an
  * update (newer EGP wins), a late row (older EUR must NOT clobber),
  * and an insert (new JPY). The oracle replays the chain in DuckDB
  * from the same JSON literals with an INDEPENDENT merge formulation
  * (FULL OUTER JOIN, like the merge_upsert oracle) — so the hash gate
  * checks the pipeline's composition, not just its stages.
  */
object PipelineQueries {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  private val batch1Json = Seq(
    """{"success":true,"source":"USD","timestamp":1704153600,"quotes":{"USDEGP":48.0,"USDEUR":0.92}}""")
  private val batch2Json = Seq(
    """{"success":true,"source":"USD","timestamp":1704240000,"quotes":{"USDEGP":49.0,"USDJPY":148.0,"USDNUL":null}}""",
    """{"success":true,"source":"USD","timestamp":1704067200,"quotes":{"USDEUR":0.85}}""",
    """{"success":false,"source":"USD","timestamp":1704326400,"quotes":{"USDBAD":1.0}}""")

  private val warehouseSchema: Seq[(String, DataType)] = Seq(
    "base_currency" -> StringType, "target_currency" -> StringType,
    "rate" -> DoubleType, "timestamp" -> TimestampType,
    "retrieved_at" -> TimestampType)

  val pipelineE2e: CatalogEntry = CatalogEntry(
    "pipeline_e2e",
    """WITH b1raw(j) AS (VALUES
      |  ('{"success":true,"source":"USD","timestamp":1704153600,"quotes":{"USDEGP":48.0,"USDEUR":0.92}}')),
      |b2raw(j) AS (VALUES
      |  ('{"success":true,"source":"USD","timestamp":1704240000,"quotes":{"USDEGP":49.0,"USDJPY":148.0,"USDNUL":null}}'),
      |  ('{"success":true,"source":"USD","timestamp":1704067200,"quotes":{"USDEUR":0.85}}'),
      |  ('{"success":false,"source":"USD","timestamp":1704326400,"quotes":{"USDBAD":1.0}}')),
      |b1 AS (
      |  SELECT 'USD' AS base_currency, substring(k, 4) AS target_currency,
      |    (j::JSON -> 'quotes' ->> k)::DOUBLE AS rate,
      |    make_timestamp((j::JSON ->> 'timestamp')::BIGINT * 1000000) AS ts,
      |    TIMESTAMP '2024-01-02 06:00:00' AS retrieved_at
      |  FROM b1raw, unnest(json_keys(j::JSON, '$.quotes')) AS t(k)
      |  WHERE (j::JSON ->> 'success')::BOOLEAN
      |    AND (j::JSON -> 'quotes' ->> k) IS NOT NULL),
      |b2 AS (
      |  SELECT 'USD' AS base_currency, substring(k, 4) AS target_currency,
      |    (j::JSON -> 'quotes' ->> k)::DOUBLE AS rate,
      |    make_timestamp((j::JSON ->> 'timestamp')::BIGINT * 1000000) AS ts,
      |    TIMESTAMP '2024-01-03 06:00:00' AS retrieved_at
      |  FROM b2raw, unnest(json_keys(j::JSON, '$.quotes')) AS t(k)
      |  WHERE (j::JSON ->> 'success')::BOOLEAN
      |    AND (j::JSON -> 'quotes' ->> k) IS NOT NULL),
      |inc AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY base_currency, target_currency
      |      ORDER BY ts DESC, rate DESC) AS rn FROM b2) WHERE rn = 1),
      |m AS (
      |  SELECT coalesce(c.base_currency, i.base_currency) AS base_currency,
      |    coalesce(c.target_currency, i.target_currency) AS target_currency,
      |    CASE WHEN c.target_currency IS NULL
      |              OR (i.target_currency IS NOT NULL AND i.ts > c.ts)
      |         THEN i.rate ELSE c.rate END AS rate,
      |    CASE WHEN c.target_currency IS NULL
      |              OR (i.target_currency IS NOT NULL AND i.ts > c.ts)
      |         THEN i.ts ELSE c.ts END AS ts,
      |    CASE WHEN c.target_currency IS NULL
      |              OR (i.target_currency IS NOT NULL AND i.ts > c.ts)
      |         THEN i.retrieved_at ELSE c.retrieved_at END AS retrieved_at
      |  FROM b1 c FULL OUTER JOIN inc i
      |    ON c.base_currency = i.base_currency
      |   AND c.target_currency = i.target_currency)
      |SELECT base_currency, target_currency, rate,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  strftime(retrieved_at, '%Y-%m-%d %H:%M:%S') AS retrieved_s
      |FROM m ORDER BY target_currency""".stripMargin) { (s, _) =>
    import s.implicits._
    // fetch + transform, per batch (retrieved_at injected per run —
    // deterministic stand-in for the reference's wall clock)
    def stage(json: Seq[String], retrievedAt: String): DataFrame = {
      val fetched = Fetch.parseLive(json.toDF("j"), "j", "USD",
        target = None, now = lit(retrievedAt).cast("timestamp"))
      Transform.alignSchema(
        Transform.dropNullOn(fetched, "rate"), warehouseSchema)
    }
    val keys = Seq("base_currency", "target_currency")
    val current = Load.latestPerKey(
      stage(batch1Json, "2024-01-02 06:00:00"), keys, "timestamp", "rate")
    Load.upsertLatest(current,
      stage(batch2Json, "2024-01-03 06:00:00"), keys, "timestamp", "rate")
      .select($"base_currency", $"target_currency", $"rate",
        date_format($"timestamp", fmt).as("ts_s"),
        date_format($"retrieved_at", fmt).as("retrieved_s"))
      .orderBy($"target_currency")
  }

  /** The TRAINING-DATA pipeline end to end as one oracled plan: exact
    * dedup (min-id survivor) → Gopher-style quality gate → 75%
    * deterministic hash sample → per-language corpus stats. Each stage
    * is the same code the standalone entries use (`Dedup.exact`, the
    * `doc_quality_filter` rules, `Sampling.hashKeep`), so a green hash
    * here checks their COMPOSITION — one lazy plan, no intermediate
    * materialization, every stage shuffle-efficient (dedup groups on
    * the 32-byte digest; the quality gate is one explode + two aggs;
    * the sample is a scan-side filter). */
  val corpusCurationE2e: CatalogEntry = CatalogEntry(
    "corpus_curation_e2e",
    """WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
      |sd AS (SELECT d.* FROM documents d JOIN surv USING (doc_id)),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM sd),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
      |q AS (
      |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
      |    round(sum(length(term) * c)::DOUBLE / sum(c), 4) AS mwl,
      |    round(count(*)::DOUBLE / sum(c), 4) AS ttr,
      |    round(max(c)::DOUBLE / sum(c), 4) AS twf
      |  FROM tf GROUP BY doc_id),
      |kept AS (
      |  SELECT sd.* FROM sd JOIN q USING (doc_id)
      |  WHERE q.n_tokens BETWEEN 20 AND 100000 AND q.ttr >= 0.2
      |    AND q.twf <= 0.2 AND q.mwl BETWEEN 3 AND 10),
      |samp AS (SELECT * FROM kept WHERE substring(md5(text), 1, 2) < 'c0')
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |  round(avg(n_chars), 4) AS avg_chars,
      |  sum(n_chars)::BIGINT AS total_chars
      |FROM samp GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.Tables
    import graft.ext.{Dedup, Sampling, TextOps}
    val docs = Tables.documents(s, d)
      // null text: every downstream stage (dedup digest, token_stats
      // kernel, md5 sample hash) treats null differently from ''; the
      // oracle's tokenize CTE drops such docs — drop them at the scan
      .where($"text".isNotNull)
    val surv = Dedup.exact(docs, "doc_id", "text").select($"doc_id")
    val sdocs = docs.join(surv, "doc_id")
    // quality moments from the one-pass token_stats kernel — the
    // curation gate shuffles no tokens (SketchExprSpec proves the
    // integer moments equal the explode + double-groupBy formulation)
    val q = sdocs
      .select($"doc_id", call_function("token_stats", $"text", lit("")).as("ts"))
      .select($"doc_id",
        $"ts.n_tokens".as("n_tokens"),
        round($"ts.sum_len".cast("double") / $"ts.n_tokens", 4).as("mwl"),
        round($"ts.n_uniq".cast("double") / $"ts.n_tokens", 4).as("ttr"),
        round($"ts.max_c".cast("double") / $"ts.n_tokens", 4).as("twf"))
    // typed filter, deliberately: a Column predicate here gets
    // substituted through the projection by PushDownPredicates,
    // re-inlining the token_stats kernel once per referenced field
    // (10 evaluations/row — the plan lint pins this at 1); the typed
    // barrier keeps the gate above the single kernel projection at the
    // cost of deserializing 5 fields per doc
    val kept = sdocs.join(
      q.filter { (r: org.apache.spark.sql.Row) =>
        // by-name access: a select-order change must not silently
        // re-bind a threshold to a different moment
        val nTok = r.getAs[Long]("n_tokens")
        nTok >= 20 && nTok <= 100000 &&
          r.getAs[Double]("ttr") >= 0.2 &&
          r.getAs[Double]("twf") <= 0.2 &&
          r.getAs[Double]("mwl") >= 3 && r.getAs[Double]("mwl") <= 10
      }
        .select($"doc_id"),
      "doc_id")
    kept.filter(Sampling.hashKeep($"text", "c0"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 4).as("avg_chars"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"lang")
  }

  /** Output-shard manifest — the bookkeeping record a training-data
    * writer emits per shard (WebDataset/TFRecord-style): docs are
    * hash-assigned to 16 shards by a 60-bit md5 uniform (so shard
    * membership is reproducible and independent of input order /
    * partitioning), and each shard row carries its census (doc count,
    * char volume, id range) plus an order-independent content checksum
    * (Σ of per-doc md5-prefix mod a Mersenne-ish prime) for
    * end-to-end copy validation. Scale shape: assignment is scan-local;
    * one partial-agg exchange of 16·|tasks| rows. A real writer would
    * `repartition(shard)` + `partitionBy(shard)` on write — the
    * manifest aggregate here is the verification artifact of that
    * write. */
  val shardManifest: CatalogEntry = CatalogEntry(
    "shard_manifest",
    """WITH assigned AS (
      |  SELECT doc_id, n_chars,
      |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16
      |      AS shard,
      |    ('0x' || substring(md5(text), 1, 15))::BIGINT AS content_h
      |  FROM documents)
      |SELECT shard, count(*)::BIGINT AS n_docs,
      |  sum(n_chars)::BIGINT AS total_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  sum(content_h % 1000000007)::BIGINT AS checksum
      |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.Tables
    Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        (conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 16L).as("shard"),
        conv(substring(md5($"text"), 1, 15), 16, 10).cast("long")
          .as("content_h"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
        sum($"content_h" % 1000000007L).as("checksum"))
      .orderBy($"shard")
  }

  /** Small-file COMPACTION PLAN — the bin-packing step every 100 TB
    * table needs (the "OPTIMIZE" of Delta/Iceberg lineage): an
    * ingest that commits a file per micro-batch per source leaves
    * thousands of kilobyte files whose per-file open/footer cost
    * dominates the scan; the compactor reads the file-level manifest
    * and assigns files to ~target-size output groups. The file table
    * here is derived deterministically from the corpus (one "file"
    * per 50-doc-id stripe per source, bytes = chars + 64/doc record
    * overhead — the shape a micro-batch writer produces); the plan
    * is sequential fill in file order: group = exclusive-prefix-sum
    * div 64 KiB — the same size-ordered sequential packing production
    * compactors use, and exactly reproducible (pure BIGINT prefix
    * sums, no float).
    *
    * Scale shape: the window runs over FILE METADATA partitioned by
    * `source` (the partition dir) — manifest-scale (millions of rows
    * at 100 TB), never corpus-scale, and each partition's file list
    * is independent; the corpus-sized work is the one census
    * aggregate building the file table, a single partial-agg
    * exchange on (source, stripe). */
  val shardCompactionPlan: CatalogEntry = CatalogEntry(
    "shard_compaction_plan",
    """WITH files AS (
      |  SELECT source, doc_id // 50 AS file_id,
      |    count(*)::BIGINT AS n_docs,
      |    (sum(n_chars) + 64 * count(*))::BIGINT AS bytes
      |  FROM documents GROUP BY source, doc_id // 50),
      |planned AS (
      |  SELECT source, file_id, n_docs, bytes,
      |    ((sum(bytes) OVER (PARTITION BY source ORDER BY file_id
      |        ROWS UNBOUNDED PRECEDING) - bytes) // 65536)::BIGINT AS grp
      |  FROM files)
      |SELECT source, grp, count(*)::INT AS n_files,
      |  sum(n_docs)::BIGINT AS n_docs, sum(bytes)::BIGINT AS bytes,
      |  min(file_id)::BIGINT AS first_file,
      |  max(file_id)::BIGINT AS last_file
      |FROM planned GROUP BY source, grp
      |ORDER BY source, grp""".stripMargin) { (s, d) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val files = graft.Tables.documents(s, d)
      .groupBy($"source", expr("doc_id div 50").as("file_id"))
      .agg(count(lit(1)).as("n_docs"),
        (sum($"n_chars") + lit(64L) * count(lit(1))).as("bytes"))
    val cum = Window.partitionBy($"source").orderBy($"file_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("csum", sum($"bytes").over(cum))
      .withColumn("grp", expr("(csum - bytes) div 65536"))
      .groupBy($"source", $"grp")
      .agg(count(lit(1)).cast("int").as("n_files"),
        sum($"n_docs").as("n_docs"), sum($"bytes").as("bytes"),
        min($"file_id").as("first_file"), max($"file_id").as("last_file"))
      .orderBy($"source", $"grp")
  }

  def entries: Seq[CatalogEntry] =
    Seq(pipelineE2e, corpusCurationE2e, shardManifest, shardCompactionPlan)
}
