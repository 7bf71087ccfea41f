package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Transform
import graft.sources.FsUtil

/** The reference's ETL transform chain (SURVEY.md §2.2) as catalog
  * queries over testdata. Every step is a narrow, codegen'd column
  * expression — the whole chain fuses into the scan's single
  * whole-stage-codegen pass; nothing here shuffles.
  */
object TransformQueries {

  private val fmt = "yyyy-MM-dd HH:mm:ss"
  private val dfmt = "%Y-%m-%d %H:%M:%S"

  /** One entry covering the load-side derivation chain
    * (load_to_bigquery.py:38-54 + fetch.py:41-44 + transform.py:39-46):
    * lit column, split+element_at, coercing casts (string→int,
    * string→timestamp: invalid → null, pandas errors="coerce"),
    * substring, regex pair extract, cast-to-string, dropna on a subset,
    * and the final select/reorder. */
  val transformChain: CatalogEntry = CatalogEntry(
    "transform_chain",
    s"""SELECT 'part' AS src,
       |  p_partkey,
       |  try_cast(string_split(p_brand, '#')[2] AS INTEGER) AS brand_num,
       |  substring(p_name, 1, 5) AS name_head,
       |  nullif(regexp_extract(upper(substring(p_name, 1, 3)) || substring(p_type, 1, 3),
       |                        '([A-Z]{3})([A-Z]{3})', 1), '') AS pair_base,
       |  nullif(regexp_extract(upper(substring(p_name, 1, 3)) || substring(p_type, 1, 3),
       |                        '([A-Z]{3})([A-Z]{3})', 2), '') AS pair_target,
       |  p_size::VARCHAR AS size_str,
       |  strftime(try_cast(printf('2020-01-%02d', p_size % 40 + 1) AS TIMESTAMP),
       |           '$dfmt') AS parsed_ts_s,
       |  round(p_retailprice, 2) AS retail_r
       |FROM part
       |WHERE try_cast(string_split(p_brand, '#')[2] AS INTEGER) IS NOT NULL
       |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val pairCol = concat(upper(substring($"p_name", 1, 3)),
      substring($"p_type", 1, 3))
    val chained = Tables.part(s, d)
      .withColumn("src", lit("part"))
      .withColumn("brand_num",
        element_at(split($"p_brand", "#"), 2).try_cast("int"))
      .withColumn("name_head", substring($"p_name", 1, 5))
      .withColumn("pair_base", Transform.pairBase(pairCol))
      .withColumn("pair_target", Transform.pairTarget(pairCol))
      .withColumn("size_str", $"p_size".cast("string"))
      .withColumn("parsed_ts_s", date_format(
        Transform.coerceTimestamp(
          format_string("2020-01-%02d", $"p_size" % 40 + 1)), fmt))
      .withColumn("retail_r", round($"p_retailprice", 2))
    Transform.dropNullOn(chained, "brand_num")
      .select($"src", $"p_partkey", $"brand_num", $"name_head",
        $"pair_base", $"pair_target", $"size_str", $"parsed_ts_s",
        $"retail_r")
      .orderBy($"p_partkey")
  }

  /** CSV sink + inferred-schema source round-trip (fetch.py:63-76 →
    * transform.py:31-36): write `part` as headered CSV, read it back
    * with inference, aggregate. The oracle runs on the original parquet,
    * so a green row proves the round-trip is lossless. */
  val roundtripCsv: CatalogEntry = CatalogEntry(
    "roundtrip_csv",
    """SELECT p_brand,
      |  count(*)::BIGINT AS n_parts,
      |  round(sum(p_retailprice), 2) AS sum_retail,
      |  max(p_size)::INT AS max_size
      |FROM part GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin) { (s, d) =>
    import s.implicits._
    // per-session dir: concurrent Verify/bench runs must not clobber
    // each other mid-read (stable within a session so re-runs reuse it)
    val tmp = FsUtil.scratchDir(s"graft_csv_roundtrip_${s.sparkContext.applicationId}")
    // `part` at sf0.1 is ONE parquet file, so without a repartition
    // the CSV write — and therefore the inferSchema read-back over the
    // single file it produces — each run as ONE task (r11 bench:
    // 11.1 s + 9.7 s of single-core CPU). Spread the write across the
    // session's parallelism; the read-back then parallelizes over the
    // many output files, and the oracle (which reads the original
    // parquet) is unaffected.
    val shufN = s.sessionState.conf.numShufflePartitions
    Tables.part(s, d).repartition(shufN)
      .write.mode("overwrite").option("header", true).csv(tmp)
    s.read.option("header", true).option("inferSchema", true).csv(tmp)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        round(sum($"p_retailprice"), 2).as("sum_retail"),
        max($"p_size").cast("int").as("max_size"))
      .orderBy($"p_brand")
  }

  /** Column profiling (the standard ingestion data-quality sweep):
    * melt columns to long form, then count rows / non-nulls / distinct
    * per column in one pass. The oracle is an independent UNION ALL of
    * per-column aggregates. */
  val profileColumns: CatalogEntry = CatalogEntry(
    "profile_columns",
    """SELECT 'l_linestatus' AS column_name, count(*)::BIGINT AS n_rows,
      |  count(l_linestatus)::BIGINT AS n_nonnull,
      |  count(DISTINCT l_linestatus)::BIGINT AS n_distinct FROM lineitem
      |UNION ALL
      |SELECT 'l_quantity', count(*)::BIGINT, count(l_quantity)::BIGINT,
      |  count(DISTINCT l_quantity)::BIGINT FROM lineitem
      |UNION ALL
      |SELECT 'l_returnflag', count(*)::BIGINT, count(l_returnflag)::BIGINT,
      |  count(DISTINCT l_returnflag)::BIGINT FROM lineitem
      |ORDER BY column_name""".stripMargin) { (s, d) =>
    import s.implicits._
    val cols = Seq("l_linestatus", "l_quantity", "l_returnflag")
    Tables.lineitem(s, d)
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
      .unpivot(Array.empty, cols.map(col).toArray, "column_name", "v")
      .groupBy($"column_name")
      .agg(count(lit(1)).as("n_rows"),
        count($"v").as("n_nonnull"),
        countDistinct($"v").as("n_distinct"))
      .orderBy($"column_name")
  }

  /** Schema-evolution union: a legacy extract (no priority column, its
    * own column order) unions with the current schema by NAME, missing
    * columns null-filled — `unionByName(allowMissingColumns = true)`,
    * the append-new-schema-partitions operation of a long-lived table.
    * Oracle: DuckDB `UNION ALL BY NAME`, an independent implementation
    * of the same resolution rule. */
  val unionByNameEvolve: CatalogEntry = CatalogEntry(
    "union_by_name_evolve",
    """WITH u AS (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT o_orderpriority, o_orderkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT coalesce(o_orderpriority, '<legacy>') AS priority,
      |  count(*)::BIGINT AS n,
      |  round(sum(o_totalprice), 2) AS sum_price_r
      |FROM u GROUP BY priority
      |ORDER BY priority""".stripMargin) { (s, d) =>
    import s.implicits._
    val o = Tables.orders(s, d)
    val legacy = o.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_totalprice")
    val modern = o.filter($"o_orderkey" % 2 === 1)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
    legacy.unionByName(modern, allowMissingColumns = true)
      .groupBy(coalesce($"o_orderpriority", lit("<legacy>")).as("priority"))
      .agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("sum_price_r"))
      .orderBy($"priority")
  }

  /** Date-function surface (§2.8 breadth): truncation, month-end,
    * calendar arithmetic (clamped add-months in both engines), day
    * difference, quarter, ISO week — all codegen'd scan-fused
    * expressions, string-formatted per the determinism contract. */
  val dateFunctions: CatalogEntry = CatalogEntry(
    "date_functions",
    """SELECT o_orderkey,
      |  strftime(date_trunc('month', o_orderdate::TIMESTAMP), '%Y-%m-%d')
      |    AS month_start,
      |  strftime(last_day(o_orderdate::TIMESTAMP::DATE), '%Y-%m-%d')
      |    AS month_end,
      |  strftime(o_orderdate::TIMESTAMP::DATE + INTERVAL 3 MONTH, '%Y-%m-%d')
      |    AS plus3m,
      |  date_diff('day', DATE '2024-01-01', o_orderdate::TIMESTAMP::DATE)::INT
      |    AS days_since,
      |  quarter(o_orderdate::TIMESTAMP)::INT AS qtr,
      |  weekofyear(o_orderdate::TIMESTAMP)::INT AS wk
      |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin) { (s, d) =>
    import s.implicits._
    val day = to_date($"o_orderdate")
    Tables.orders(s, d)
      .select($"o_orderkey",
        date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM-dd")
          .as("month_start"),
        date_format(last_day(day), "yyyy-MM-dd").as("month_end"),
        date_format(add_months(day, 3), "yyyy-MM-dd").as("plus3m"),
        datediff(day, lit("2024-01-01")).as("days_since"),
        quarter($"o_orderdate").as("qtr"),
        weekofyear($"o_orderdate").as("wk"))
      .orderBy($"o_orderkey")
      .limit(1000)
  }

  /** JSON-lines sink + source roundtrip (§2.1 format breadth): write
    * supplier as JSONL, read back with the EXPLICIT original schema (at
    * scale inference is a second full scan — never infer in
    * production), aggregate, compare to the parquet truth. */
  val roundtripJson: CatalogEntry = CatalogEntry(
    "roundtrip_json",
    """SELECT s_nationkey,
      |  count(*)::BIGINT AS n_suppliers,
      |  round(sum(s_acctbal), 2) AS sum_acctbal
      |FROM supplier GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val src = Tables.supplier(s, d)
    val tmp = FsUtil.scratchDir(s"graft_json_roundtrip_${s.sparkContext.applicationId}")
    src.write.mode("overwrite").json(tmp)
    s.read.schema(src.schema).json(tmp)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        round(sum($"s_acctbal"), 2).as("sum_acctbal"))
      .orderBy($"s_nationkey")
  }

  /** ORC sink + source roundtrip — the columnar alternative container;
    * schema travels with the file, so no inference and no explicit
    * schema needed on read. */
  val roundtripOrc: CatalogEntry = CatalogEntry(
    "roundtrip_orc",
    """SELECT n_regionkey,
      |  count(*)::BIGINT AS n_nations
      |FROM nation GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val tmp = FsUtil.scratchDir(s"graft_orc_roundtrip_${s.sparkContext.applicationId}")
    Tables.nation(s, d).write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy($"n_regionkey")
      .agg(count(lit(1)).as("n_nations"))
      .orderBy($"n_regionkey")
  }

  /** XML sink + source roundtrip — Spark 4's built-in XML data source
    * (the spark-xml connector folded into core). Row-per-element
    * layout under an explicit rowTag; read back with the writer's
    * schema (XML carries no types, so inference would have to guess —
    * same discipline as the JSON roundtrip). Verified like the other
    * roundtrips: the aggregate over the re-read data must hash-match
    * the oracle's aggregate over the ORIGINAL parquet, proving the
    * container lossless for the projected columns. */
  val roundtripXml: CatalogEntry = CatalogEntry(
    "roundtrip_xml",
    """SELECT c_mktsegment,
      |  count(*)::BIGINT AS n_customers,
      |  round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    import s.implicits._
    val src = Tables.customer(s, d)
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
    val tmp = FsUtil.scratchDir(s"graft_xml_roundtrip_${s.sparkContext.applicationId}")
    src.write.mode("overwrite").option("rowTag", "customer").xml(tmp)
    s.read.schema(src.schema).option("rowTag", "customer").xml(tmp)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        round(sum($"c_acctbal"), 2).as("sum_acctbal"))
      .orderBy($"c_mktsegment")
  }

  /** Sketch-based column profile — the 100 TB path for
    * `profile_columns`: ONE pass over the melted columns with
    * `approx_count_distinct` (HLL) instead of an exact distinct
    * (whose shuffle is distinct-value-sized per column). HLL is
    * engine-specific → rows-only; `ProfileApproxSpec` bounds the
    * sketch against the exact profile. */
  val profileColumnsApprox: CatalogEntry = CatalogEntry.noOracle(
    "profile_columns_approx") { (s, d) =>
    import s.implicits._
    val cols = Seq("l_linestatus", "l_quantity", "l_returnflag")
    Tables.lineitem(s, d)
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
      .unpivot(Array.empty, cols.map(col).toArray, "column_name", "v")
      .groupBy($"column_name")
      .agg(count(lit(1)).as("n_rows"),
        count($"v").as("n_nonnull"),
        approx_count_distinct($"v").as("n_distinct_approx"))
      .orderBy($"column_name")
  }

  /** Pairwise Pearson correlation matrix over the four lineitem
    * numeric measures — the dataset-profiling step feature selection
    * starts from. ONE full-table pass computes every raw moment
    * (n, Σx, Σx², Σxy for all 6 pairs) as exact DECIMAL(38,0) integers
    * with map-side partial aggregation; the 6 output rows then explode
    * from the single aggregate row, so the fact table is scanned once
    * (never 6×). Cross-engine float discipline follows
    * `events_rolling_corr`: the only float ops are two IEEE sqrts and
    * one division applied to identical exact integers — bit-identical
    * on both engines; a raw float `corr()` would differ by summation
    * order. */
  val statsCorrMatrix: CatalogEntry = {
    // (label_x, sum_x, sum_xx, label_y, sum_y, sum_yy, sum_xy)
    val pairs = Seq(
      ("quantity", "sq", "sqq", "extendedprice", "sp", "spp", "sqp"),
      ("quantity", "sq", "sqq", "discount", "sd", "sdd", "sqd"),
      ("quantity", "sq", "sqq", "tax", "st", "stt", "sqt"),
      ("discount", "sd", "sdd", "extendedprice", "sp", "spp", "spd2"),
      ("extendedprice", "sp", "spp", "tax", "st", "stt", "spt"),
      ("discount", "sd", "sdd", "tax", "st", "stt", "sdt"))
    val oracleArms = pairs.map { case (a, sx, sxx, b, sy, syy, sxy) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y,
         |  round((n*$sxy - $sx*$sy)::DOUBLE /
         |    (sqrt((n*$sxx - $sx*$sx)::DOUBLE) *
         |     sqrt((n*$syy - $sy*$sy)::DOUBLE)), 6) AS corr_r FROM s"""
        .stripMargin
    }.mkString("\n UNION ALL \n")
    CatalogEntry(
      "stats_corr_matrix",
      s"""WITH c AS (SELECT l_quantity::BIGINT q,
        |  round(l_extendedprice*100)::BIGINT p,
        |  round(l_discount*100)::BIGINT d,
        |  round(l_tax*100)::BIGINT t FROM lineitem),
        |s AS (SELECT count(*)::HUGEINT n,
        |  sum(q)::HUGEINT sq, sum(p)::HUGEINT sp,
        |  sum(d)::HUGEINT sd, sum(t)::HUGEINT st,
        |  sum(q*q)::HUGEINT sqq, sum(p*p)::HUGEINT spp,
        |  sum(d*d)::HUGEINT sdd, sum(t*t)::HUGEINT stt,
        |  sum(q*p)::HUGEINT sqp, sum(q*d)::HUGEINT sqd,
        |  sum(q*t)::HUGEINT sqt, sum(p*d)::HUGEINT spd2,
        |  sum(p*t)::HUGEINT spt, sum(d*t)::HUGEINT sdt
        |  FROM c)
        |SELECT * FROM (
        |$oracleArms
        |) ORDER BY col_x, col_y""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.Column
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      val moments = Tables.lineitem(s, d)
        .select($"l_quantity".cast("long").as("q"),
          round($"l_extendedprice" * 100).cast("long").as("p"),
          round($"l_discount" * 100).cast("long").as("d"),
          round($"l_tax" * 100).cast("long").as("t"))
        .agg(dec(count(lit(1))).as("n"),
          sum(dec($"q")).as("sq"), sum(dec($"p")).as("sp"),
          sum(dec($"d")).as("sd"), sum(dec($"t")).as("st"),
          sum(dec($"q" * $"q")).as("sqq"), sum(dec($"p" * $"p")).as("spp"),
          sum(dec($"d" * $"d")).as("sdd"), sum(dec($"t" * $"t")).as("stt"),
          sum(dec($"q" * $"p")).as("sqp"), sum(dec($"q" * $"d")).as("sqd"),
          sum(dec($"q" * $"t")).as("sqt"), sum(dec($"p" * $"d")).as("spd2"),
          sum(dec($"p" * $"t")).as("spt"), sum(dec($"d" * $"t")).as("sdt"))
      def corr6(sx: String, sxx: String, sy: String, syy: String,
          sxy: String): Column =
        round((col("n") * col(sxy) - col(sx) * col(sy)).cast("double") /
          (sqrt((col("n") * col(sxx) - col(sx) * col(sx)).cast("double")) *
            sqrt((col("n") * col(syy) - col(sy) * col(sy)).cast("double"))),
          6)
      moments
        .select(explode(array(pairs.map {
          case (a, sx, sxx, b, sy, syy, sxy) =>
            struct(lit(a).as("col_x"), lit(b).as("col_y"),
              corr6(sx, sxx, sy, syy, sxy).as("corr_r"))
        }: _*)).as("kv"))
        .select($"kv.col_x", $"kv.col_y", $"kv.corr_r")
        .orderBy($"col_x", $"col_y")
    }
  }

  /** CHI-SQUARED INDEPENDENCE CENSUS over the (lang × source)
    * contingency table — the statistical test behind "is language mix
    * a property of the source?" that decides whether per-source
    * sampling caps need language stratification. Every cell of the
    * FULL grid (zero cells included — a LEFT JOIN from the row-total ×
    * column-total grid, since absent combinations carry χ² mass too)
    * emits the observed count, the expected count in exact milli
    * (10³·R·C div N), and the χ² contribution (O·N − R·C)²·10⁶ div
    * (R·C·N) — the classic statistic rescaled by N so every term is
    * exact integer arithmetic. The squared numerator overflows int64
    * at corpus scale (already ~6·10²⁰ at sf0.1), so the product runs
    * in DECIMAL(38,0) — Spark's non-ANSI long multiply would wrap
    * SILENTLY while DuckDB promotes to HUGEINT (the events_ema16 /
    * CUSUM overflow discipline).
    *
    * Scale shape: ONE partial-agg exchange over |langs|·|sources|
    * cells; row/column totals re-aggregate the tiny cell table; the
    * grid is a broadcast cross of two ≤|distinct| aggregates and the
    * N scalar — no second pass over the corpus. */
  val statsChisqLangSource: CatalogEntry = CatalogEntry(
    "stats_chisq_lang_source",
    """WITH cells AS (SELECT lang, source, count(*)::BIGINT AS n
      |               FROM documents GROUP BY lang, source),
      |rt AS (SELECT lang, sum(n)::BIGINT AS r FROM cells GROUP BY lang),
      |ct AS (SELECT source, sum(n)::BIGINT AS c FROM cells GROUP BY source),
      |tot AS (SELECT sum(n)::BIGINT AS nn FROM cells),
      |grid AS (SELECT rt.lang, ct.source, rt.r, ct.c
      |         FROM rt CROSS JOIN ct)
      |SELECT g.lang, g.source, coalesce(cells.n, 0)::BIGINT AS n_obs,
      |  ((1000::HUGEINT * g.r * g.c) // t.nn)::BIGINT AS expected_milli,
      |  ((1000000::HUGEINT
      |    * (coalesce(cells.n, 0)::HUGEINT * t.nn - g.r::HUGEINT * g.c)
      |    * (coalesce(cells.n, 0)::HUGEINT * t.nn - g.r::HUGEINT * g.c))
      |   // (g.r::HUGEINT * g.c::HUGEINT * t.nn::HUGEINT))::BIGINT
      |    AS chi2_contrib_micro
      |FROM grid g CROSS JOIN tot t
      |LEFT JOIN cells ON cells.lang = g.lang AND cells.source = g.source
      |ORDER BY g.lang, g.source""".stripMargin) { (s, d) =>
    import s.implicits._
    val cells = Tables.documents(s, d)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
    val rt = cells.groupBy($"lang").agg(sum($"n").as("r"))
    val ct = cells.groupBy($"source").agg(sum($"n").as("c"))
    val tot = cells.agg(sum($"n").as("nn"))
    rt.crossJoin(broadcast(ct))
      .join(cells, Seq("lang", "source"), "left")
      .crossJoin(broadcast(tot))
      .select($"lang", $"source",
        coalesce($"n", lit(0L)).as("n_obs"), $"r", $"c", $"nn")
      .select($"lang", $"source", $"n_obs",
        expr("(cast(1000 as decimal(38,0)) * r * c) div nn")
          .cast("long").as("expected_milli"),
        expr("""(cast(1000000 as decimal(38,0))
          | * (cast(n_obs as decimal(38,0)) * nn
          |    - cast(r as decimal(38,0)) * c)
          | * (cast(n_obs as decimal(38,0)) * nn
          |    - cast(r as decimal(38,0)) * c))
          | div (cast(r as decimal(38,0)) * cast(c as decimal(38,0))
          |      * cast(nn as decimal(38,0)))""".stripMargin)
          .cast("long").as("chi2_contrib_micro"))
      .orderBy($"lang", $"source")
  }

  def entries: Seq[CatalogEntry] = Seq(
    statsCorrMatrix, statsChisqLangSource,
    transformChain, roundtripCsv, profileColumns, unionByNameEvolve,
    dateFunctions, roundtripJson, roundtripOrc, roundtripXml,
    profileColumnsApprox)
}
