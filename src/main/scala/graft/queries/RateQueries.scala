package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Load
import graft.sources.FsUtil

/** Reference-parity rate queries (SURVEY.md §2.4–§2.6), recast over the
  * testdata star schema: `orders` stands in for `historical_rates`
  * (o_custkey ≈ the currency pair key, o_orderdate ≈ observation
  * timestamp, o_totalprice ≈ rate), `events` for the timestamped feed.
  *
  * Scale notes: below `spark.sql.files.openCostInBytes` (4 MB) per plan
  * node, `CatalogEntry.query` plans these queries as one partition
  * with no exchange ([[graft.plans.OnePartition]]), so each runs as one
  * job (`earliest_in_window` two, for its broadcast); at sf0.01 every
  * one but `cdc_snapshot_diff`, whose join estimate is the product of
  * its inputs, is that small; the three top-k queries plan no exchange
  * either way and are left as built. Above the bound these shapes
  * apply: the filter+top-1 family plans as a pushed-down filter +
  * `TakeOrderedAndProject` (no global sort, no shuffle of non-winners);
  * the per-key family shuffles once on the key; `latest_per_key_maxby`
  * is the 100 TB path — partial `max(struct)` aggregation map-side, so
  * shuffle volume is |keys| not |rows|, and no per-partition row sort.
  */
object RateQueries {

  private val fmt = "yyyy-MM-dd HH:mm:ss"
  private val dfmt = "%Y-%m-%d %H:%M:%S"

  /** The reference's most-repeated query (3×): latest rate for one pair
    * (fetch_transform_load_dag.py:113-119, app.py:154-160, app.py:109-110).
    * Filter + orderBy desc + limit 1 → TakeOrderedAndProject. */
  val topkLatestPerPair: CatalogEntry = CatalogEntry(
    "topk_latest_per_pair",
    s"""SELECT o_custkey, o_orderkey,
       |  strftime(o_orderdate, '$dfmt') AS o_orderdate_s,
       |  round(o_totalprice, 2) AS o_totalprice_r
       |FROM orders WHERE o_custkey = 7
       |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_custkey" === 7)
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      .limit(1)
      .select($"o_custkey", $"o_orderkey",
        date_format($"o_orderdate", fmt).as("o_orderdate_s"),
        round($"o_totalprice", 2).as("o_totalprice_r"))
  }

  /** Earliest observation in the trailing 24 h window
    * (fetch_transform_load_dag.py:128-136). "Now" is max(ts) in the data
    * (SURVEY.md §7.5 — current_timestamp() would flake vs the oracle);
    * the scalar max is broadcast back, keeping one distributed plan. */
  val earliestInWindow: CatalogEntry = CatalogEntry(
    "earliest_in_window",
    s"""SELECT event_id, event_type,
       |  strftime(ts::TIMESTAMP, '$dfmt') AS ts_s, value
       |FROM events
       |WHERE ts::TIMESTAMP >=
       |  (SELECT max(ts::TIMESTAMP) - INTERVAL 24 HOUR FROM events)
       |ORDER BY ts::TIMESTAMP ASC, event_id ASC LIMIT 1""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val now = ev.agg(max($"ts").as("max_ts"))
    ev.crossJoin(broadcast(now))
      .filter($"ts" >= $"max_ts" - expr("INTERVAL 24 HOURS"))
      .orderBy($"ts".asc, $"event_id".asc)
      .limit(1)
      .select($"event_id", $"event_type",
        date_format($"ts", fmt).as("ts_s"), $"value")
  }

  /** Dashboard history load (app.py:44-48): ORDER BY ts DESC LIMIT 5000.
    * Plans as TakeOrderedAndProject — per-partition top-k then a k-row
    * merge on one reducer; never a full global sort, at any scale. */
  val sortLimit5000: CatalogEntry = CatalogEntry(
    "sort_limit_5000",
    s"""SELECT o_orderkey, o_custkey,
       |  strftime(o_orderdate, '$dfmt') AS o_orderdate_s,
       |  round(o_totalprice, 2) AS o_totalprice_r, o_orderstatus
       |FROM orders
       |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 5000""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.orders(s, d)
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      .limit(5000)
      .select($"o_orderkey", $"o_custkey",
        date_format($"o_orderdate", fmt).as("o_orderdate_s"),
        round($"o_totalprice", 2).as("o_totalprice_r"), $"o_orderstatus")
  }

  /** Time-RANGE window frame (SURVEY.md §2.5 extension): trailing
    * 1-hour average/count per event type — the time-based sibling of
    * the row-frame `moving_avg`. `rangeBetween` on epoch micros keeps
    * the frame boundary exact integer math; peers at the same
    * timestamp are all in-frame (RANGE semantics) in both engines, so
    * ties can't diverge. The in-frame average is PURE integer math:
    * exact cents (values are 2-decimal) summed, scaled to 1e-4 units,
    * floor-divided by the frame count — a float avg once landed
    * EXACTLY on a round(4) half-way point, where Spark (rounds the
    * shortest-decimal form) and DuckDB (rounds the binary double)
    * disagree by construction. One shuffle on the type key; the frame
    * scan is linear per partition. */
  val movingAvgTimeRange: CatalogEntry = CatalogEntry(
    "moving_avg_time_range",
    """SELECT event_id,
      |  ((sum(round(value * 100)::BIGINT) OVER w * 100)
      |   // (count(*) OVER w))::BIGINT AS avg_scaled_1e4,
      |  (count(*) OVER w)::BIGINT AS n_1h
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY ts::TIMESTAMP
      |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy(unix_micros($"ts"))
      .rangeBetween(-3600000000L, 0)
    graft.Tables.events(s, d)
      .select($"event_id",
        (sum(round($"value" * 100).cast("long")).over(w) * 100)
          .as("cents100"),
        count(lit(1)).over(w).as("n_1h"))
      .withColumn("avg_scaled_1e4", expr("cents100 div n_1h"))
      .select($"event_id", $"avg_scaled_1e4", $"n_1h")
      .orderBy($"event_id")
  }

  /** Single equality filter (fetch.py:47-48), pushed to the parquet scan. */
  val filterEq: CatalogEntry = CatalogEntry(
    "filter_eq",
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice_r
      |FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_custkey",
        round($"o_totalprice", 2).as("o_totalprice_r"))
      .orderBy($"o_orderkey")
  }

  /** Conjunctive equality filter (app.py:91; SQL WHERE at
    * fetch_transform_load_dag.py:116). Both conjuncts reach PushedFilters. */
  val filterConjEq: CatalogEntry = CatalogEntry(
    "filter_conj_eq",
    """SELECT l_orderkey, l_linenumber, l_quantity,
      |  round(l_extendedprice, 2) AS l_extendedprice_r
      |FROM lineitem
      |WHERE l_returnflag = 'R' AND l_linestatus = 'F'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_returnflag" === "R" && $"l_linestatus" === "F")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        round($"l_extendedprice", 2).as("l_extendedprice_r"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Time-range predicate (fetch_transform_load_dag.py:128-136), with
    * literal bounds so the oracle is deterministic. Range reaches the
    * scan as min/max row-group filters. */
  val filterRangeTs: CatalogEntry = CatalogEntry(
    "filter_range_ts",
    s"""SELECT l_orderkey, l_linenumber,
       |  strftime(l_shipdate, '$dfmt') AS l_shipdate_s
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1997-01-01'
       |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_linenumber",
        date_format($"l_shipdate", fmt).as("l_shipdate_s"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** 24 h percent-change generalized to lag-per-key
    * (fetch_transform_load_dag.py:144-148): prev via lag, the reference's
    * `prev != 0` division guard preserved. One shuffle on the key. */
  val windowLagPctChange: CatalogEntry = CatalogEntry(
    "window_lag_pct_change",
    s"""SELECT o_custkey, o_orderkey,
       |  strftime(o_orderdate, '$dfmt') AS o_orderdate_s,
       |  round(o_totalprice, 2) AS price,
       |  round(prev, 2) AS prev_price,
       |  CASE WHEN prev IS NOT NULL AND prev <> 0
       |       THEN round((o_totalprice - prev) / prev * 100, 4) END AS pct_change
       |FROM (
       |  SELECT *, lag(o_totalprice) OVER (
       |    PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey) AS prev
       |  FROM orders)
       |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    Tables.orders(s, d)
      .withColumn("prev", lag($"o_totalprice", 1).over(w))
      .select($"o_custkey", $"o_orderkey",
        date_format($"o_orderdate", fmt).as("o_orderdate_s"),
        round($"o_totalprice", 2).as("price"),
        round($"prev", 2).as("prev_price"),
        when($"prev".isNotNull && $"prev" =!= 0,
          round(($"o_totalprice" - $"prev") / $"prev" * 100, 4)).as("pct_change"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Trailing moving average (dashboard trend line, app.py:99-107
    * generalized): rowsBetween frame, deterministic unique ordering. */
  val movingAvg: CatalogEntry = CatalogEntry(
    "moving_avg",
    s"""SELECT o_custkey, o_orderkey,
       |  strftime(o_orderdate, '$dfmt') AS o_orderdate_s,
       |  round(avg(o_totalprice) OVER (
       |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
       |FROM orders
       |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(-2, Window.currentRow)
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey",
        date_format($"o_orderdate", fmt).as("o_orderdate_s"),
        round(avg($"o_totalprice").over(w), 4).as("ma3"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** The email-summary scalar block (fetch_transform_load_dag.py:144-148)
    * verbatim: latest vs previous observation for one key, diff / pct /
    * direction, `prev != 0` guard. The unpartitioned window is safe: it
    * runs on the ~dozen rows surviving the key filter. */
  val scalarPctChange: CatalogEntry = CatalogEntry(
    "scalar_pct_change",
    """SELECT round(price, 2) AS latest_price,
      |  format('{:,}', trunc(price)::BIGINT) || '.' ||
      |    lpad(((round(price, 2) * 100)::BIGINT % 100)::VARCHAR, 2, '0')
      |    AS latest_price_fmt,
      |  round(prev, 2) AS prev_price,
      |  round(price - prev, 2) AS diff,
      |  round(abs(price - prev), 2) AS abs_diff,
      |  round(CASE WHEN prev <> 0 THEN (price - prev) / prev * 100 ELSE 0 END, 4) AS pct_change,
      |  CASE WHEN price > prev THEN 'up'
      |       WHEN price < prev THEN 'down' ELSE 'flat' END AS direction
      |FROM (
      |  SELECT o_totalprice AS price,
      |    lead(o_totalprice) OVER (ORDER BY o_orderdate DESC, o_orderkey DESC) AS prev,
      |    row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders WHERE o_custkey = 7)
      |WHERE rn = 1""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    Tables.orders(s, d)
      .filter($"o_custkey" === 7)
      .withColumn("prev", lead($"o_totalprice", 1).over(w))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select(round($"o_totalprice", 2).as("latest_price"),
        // the reference's %.2f display string (app.py:110,174) with
        // format_number's thousands grouping; oracle rebuilds the same
        // grouped string from DuckDB primitives (its float format('{:,}')
        // lacks separators)
        format_number($"o_totalprice", 2).as("latest_price_fmt"),
        round($"prev", 2).as("prev_price"),
        round($"o_totalprice" - $"prev", 2).as("diff"),
        round(abs($"o_totalprice" - $"prev"), 2).as("abs_diff"),
        round(when($"prev" =!= 0, ($"o_totalprice" - $"prev") / $"prev" * 100)
          .otherwise(0.0), 4).as("pct_change"),
        when($"o_totalprice" > $"prev", "up")
          .when($"o_totalprice" < $"prev", "down")
          .otherwise("flat").as("direction"))
  }

  /** 100 TB path for "latest per key": one-pass partial `max(struct)`
    * aggregation — no per-partition row sort, shuffle volume = |keys|.
    * Same semantics as `latest_per_key_all` because (o_orderdate,
    * o_orderkey) is unique per key; the oracle is the row_number
    * formulation, proving the equivalence. */
  val latestPerKeyMaxby: CatalogEntry = CatalogEntry(
    "latest_per_key_maxby",
    s"""SELECT o_custkey,
       |  o_orderkey AS latest_orderkey,
       |  strftime(o_orderdate, '$dfmt') AS latest_orderdate,
       |  round(o_totalprice, 2) AS latest_totalprice
       |FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY o_custkey
       |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |  FROM orders)
       |WHERE rn = 1
       |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(max(struct($"o_orderdate", $"o_orderkey", $"o_totalprice")).as("m"))
      .select($"o_custkey",
        $"m.o_orderkey".as("latest_orderkey"),
        date_format($"m.o_orderdate", fmt).as("latest_orderdate"),
        round($"m.o_totalprice", 2).as("latest_totalprice"))
      .orderBy($"o_custkey")
  }

  /** The reference's MERGE upsert (load_to_bigquery.py:98-111) as a
    * catalog query: "current" = snapshot built from even orderkeys,
    * "incoming" = the odd-orderkey batch; `Load.upsertLatest` preserves
    * the strict `S.ts > T.ts` guard (line 102) and tie-keeps-stored.
    * The oracle is the *independent* FULL OUTER JOIN formulation of
    * MERGE, not a mirror of our window implementation. */
  val mergeUpsert: CatalogEntry = CatalogEntry(
    "merge_upsert",
    s"""WITH cur AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |    FROM orders WHERE o_orderkey % 2 = 0) WHERE rn = 1),
       |inc AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |    FROM orders WHERE o_orderkey % 2 = 1) WHERE rn = 1),
       |m AS (
       |  SELECT coalesce(c.o_custkey, i.o_custkey) AS o_custkey,
       |    CASE WHEN c.o_custkey IS NULL
       |              OR (i.o_custkey IS NOT NULL AND i.o_orderdate > c.o_orderdate)
       |         THEN i.o_orderkey ELSE c.o_orderkey END AS chosen_orderkey,
       |    CASE WHEN c.o_custkey IS NULL
       |              OR (i.o_custkey IS NOT NULL AND i.o_orderdate > c.o_orderdate)
       |         THEN i.o_orderdate ELSE c.o_orderdate END AS chosen_orderdate,
       |    CASE WHEN c.o_custkey IS NULL
       |              OR (i.o_custkey IS NOT NULL AND i.o_orderdate > c.o_orderdate)
       |         THEN i.o_totalprice ELSE c.o_totalprice END AS chosen_totalprice
       |  FROM cur c FULL OUTER JOIN inc i ON c.o_custkey = i.o_custkey)
       |SELECT o_custkey, chosen_orderkey,
       |  strftime(chosen_orderdate, '$dfmt') AS chosen_orderdate_s,
       |  round(chosen_totalprice, 2) AS chosen_totalprice_r,
       |  (chosen_orderkey % 2 = 1)::INT AS from_incoming
       |FROM m ORDER BY o_custkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val o = Tables.orders(s, d)
    val current = Load.latestPerKey(o.filter($"o_orderkey" % 2 === 0),
      Seq("o_custkey"), "o_orderdate", "o_orderkey")
    val incoming = o.filter($"o_orderkey" % 2 === 1)
    Load.upsertLatest(current, incoming, Seq("o_custkey"),
      "o_orderdate", "o_orderkey")
      .select($"o_custkey",
        $"o_orderkey".as("chosen_orderkey"),
        date_format($"o_orderdate", fmt).as("chosen_orderdate_s"),
        round($"o_totalprice", 2).as("chosen_totalprice_r"),
        ($"o_orderkey" % 2 === 1).cast("int").as("from_incoming"))
      .orderBy($"o_custkey")
  }

  /** Partition-scoped MERGE ([[graft.etl.Load.upsertLatestPartitioned]]
    * — the `replaceWhere` shape of load_to_bigquery.py:98-111 at
    * warehouse scale): the current snapshot is WRITTEN partitioned by
    * a key-hash bucket (o_custkey % 16), the incoming odd-orderkey
    * batch is restricted to customers with o_custkey % 4 = 1 (so only
    * 4 of the 16 buckets are touched), and the upsert reads + rewrites
    * ONLY the touched partitions through the dynamic
    * partition-overwrite commit. The entry's output is the FULL table
    * read back from disk — untouched buckets must surface their
    * original rows byte-for-byte, touched buckets the merged rows.
    * The oracle is the independent FULL OUTER JOIN formulation of
    * MERGE restricted to the same batch — logically, partition-scoped
    * merge and whole-table merge must agree EXACTLY (that equivalence
    * is the correctness claim of the partition optimization).
    * UpsertPartitionedSpec additionally proves idempotence and that
    * untouched partition FILES are physically untouched. */
  val mergeUpsertPartitioned: CatalogEntry = CatalogEntry(
    "merge_upsert_partitioned",
    s"""WITH cur AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |    FROM orders WHERE o_orderkey % 2 = 0) WHERE rn = 1),
       |inc AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |    FROM orders
       |    WHERE o_orderkey % 2 = 1 AND o_custkey % 4 = 1) WHERE rn = 1),
       |m AS (
       |  SELECT coalesce(c.o_custkey, i.o_custkey) AS o_custkey,
       |    CASE WHEN c.o_custkey IS NULL
       |              OR (i.o_custkey IS NOT NULL AND i.o_orderdate > c.o_orderdate)
       |         THEN i.o_orderkey ELSE c.o_orderkey END AS chosen_orderkey,
       |    CASE WHEN c.o_custkey IS NULL
       |              OR (i.o_custkey IS NOT NULL AND i.o_orderdate > c.o_orderdate)
       |         THEN i.o_orderdate ELSE c.o_orderdate END AS chosen_orderdate,
       |    CASE WHEN c.o_custkey IS NULL
       |              OR (i.o_custkey IS NOT NULL AND i.o_orderdate > c.o_orderdate)
       |         THEN i.o_totalprice ELSE c.o_totalprice END AS chosen_totalprice
       |  FROM cur c FULL OUTER JOIN inc i ON c.o_custkey = i.o_custkey)
       |SELECT o_custkey, chosen_orderkey,
       |  strftime(chosen_orderdate, '$dfmt') AS chosen_orderdate_s,
       |  round(chosen_totalprice, 2) AS chosen_totalprice_r,
       |  (o_custkey % 16)::INT AS bucket
       |FROM m ORDER BY o_custkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val tablePath =
      FsUtil.scratchDir(s"graft_upsert_part_${s.sparkContext.applicationId}")
    val o = Tables.orders(s, d)
    // base snapshot rebuilt from scratch each run (static overwrite
    // wipes every partition), so repeated executions are deterministic
    Load.latestPerKey(o.filter($"o_orderkey" % 2 === 0),
        Seq("o_custkey"), "o_orderdate", "o_orderkey")
      .withColumn("bucket", ($"o_custkey" % 16).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tablePath)
    val incoming = o
      .filter($"o_orderkey" % 2 === 1 && $"o_custkey" % 4 === 1)
      .withColumn("bucket", ($"o_custkey" % 16).cast("int"))
    Load.upsertLatestPartitioned(s, tablePath, incoming,
      Seq("o_custkey"), "o_orderdate", "o_orderkey", "bucket")
    Tables.read(s, tablePath)
      .select($"o_custkey",
        $"o_orderkey".as("chosen_orderkey"),
        date_format($"o_orderdate", fmt).as("chosen_orderdate_s"),
        round($"o_totalprice", 2).as("chosen_totalprice_r"),
        $"bucket")
      .orderBy($"o_custkey")
  }

  /** Row-count action (fetch.py:58) as a 1-row aggregate. */
  val countRows: CatalogEntry = CatalogEntry(
    "count_rows",
    "SELECT count(*)::BIGINT AS n_rows FROM lineitem") { (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows"))
  }

  /** `df.head()` preview (fetch.py:80) made deterministic: top-5 by key. */
  val previewHead: CatalogEntry = CatalogEntry(
    "preview_head",
    """SELECT o_orderkey, o_custkey, o_orderstatus
      |FROM orders ORDER BY o_orderkey LIMIT 5""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.orders(s, d)
      .orderBy($"o_orderkey".asc)
      .limit(5)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
  }

  /** Window navigation surface: `first_value` / `last_value` /
    * `nth_value` over the full per-key frame — one summary row per key
    * with its first, second, and latest observation (the "how did this
    * series start vs where is it now" dashboard shape). The frame must
    * be UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING: `last_value` over the
    * default running frame is the current row, the classic window-nav
    * bug. One shuffle + per-key sort; the rn=1 filter collapses to one
    * row per key with no second exchange (filter, not group-by). */
  val windowFirstLast: CatalogEntry = CatalogEntry(
    "window_first_last",
    s"""SELECT o_custkey,
       |  first_key, round(first_price, 2) AS first_price,
       |  second_key,
       |  last_key, round(last_price, 2) AS last_price
       |FROM (
       |  SELECT o_custkey,
       |    first_value(o_orderkey) OVER w AS first_key,
       |    first_value(o_totalprice) OVER w AS first_price,
       |    nth_value(o_orderkey, 2) OVER w AS second_key,
       |    last_value(o_orderkey) OVER w AS last_key,
       |    last_value(o_totalprice) OVER w AS last_price,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate, o_orderkey) AS rn
       |  FROM orders
       |  WINDOW w AS (PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |WHERE rn = 1
       |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val ord = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val w = ord.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select($"o_custkey",
        first($"o_orderkey").over(w).as("first_key"),
        first($"o_totalprice").over(w).as("first_price"),
        nth_value($"o_orderkey", 2).over(w).as("second_key"),
        last($"o_orderkey").over(w).as("last_key"),
        last($"o_totalprice").over(w).as("last_price"),
        row_number().over(ord).as("rn"))
      .where($"rn" === 1)
      .select($"o_custkey",
        $"first_key", round($"first_price", 2).as("first_price"),
        $"second_key",
        $"last_key", round($"last_price", 2).as("last_price"))
      .orderBy($"o_custkey")
  }

  /** CDC by snapshot diff — the inverse of `merge_upsert`: two
    * latest-per-key snapshot versions (the feed window moved between
    * exports) diff into the row-level insert/update/delete changelog
    * that transforms one into the other (`etl/Cdc.diff`). Unchanged
    * keys are dropped row-locally before anything shuffles onward, so
    * the changelog costs |changes|, not |table|. Both snapshots build
    * with the `max(struct)` scale path (shuffle volume = |keys|), and
    * the full outer join reuses their key partitioning. The oracle
    * replays both snapshot builds (row_number formulation — also an
    * equivalence check on max(struct)) and the IS DISTINCT FROM
    * classification. */
  val cdcSnapshotDiff: CatalogEntry = CatalogEntry(
    "cdc_snapshot_diff",
    """WITH pv AS (
      |  SELECT o_custkey, o_totalprice FROM (
      |    SELECT o_custkey, o_totalprice, row_number() OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01') WHERE rn = 1),
      |nv AS (
      |  SELECT o_custkey, o_totalprice FROM (
      |    SELECT o_custkey, o_totalprice, row_number() OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
      |      AND o_orderdate >= TIMESTAMP '1995-06-01') WHERE rn = 1),
      |d AS (
      |  SELECT coalesce(n.o_custkey, p.o_custkey) AS o_custkey,
      |    CASE WHEN p.o_custkey IS NULL THEN 'insert'
      |         WHEN n.o_custkey IS NULL THEN 'delete'
      |         WHEN p.o_totalprice IS DISTINCT FROM n.o_totalprice
      |           THEN 'update' END AS op,
      |    round(p.o_totalprice, 2) AS old_o_totalprice,
      |    round(n.o_totalprice, 2) AS new_o_totalprice
      |  FROM pv p FULL OUTER JOIN nv n USING (o_custkey))
      |SELECT * FROM d WHERE op IS NOT NULL
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    import s.implicits._
    def snapshot(filter: org.apache.spark.sql.Column) =
      Tables.orders(s, d).where(filter)
        .groupBy($"o_custkey")
        .agg(max(struct($"o_orderdate", $"o_orderkey", $"o_totalprice"))
          .as("m"))
        .select($"o_custkey", $"m.o_totalprice".as("o_totalprice"))
    val prev = snapshot($"o_orderdate" < "1997-01-01")
    val next = snapshot($"o_orderdate" < "1999-01-01" &&
      $"o_orderdate" >= "1995-06-01")
    graft.etl.Cdc.diff(prev, next, Seq("o_custkey"), Seq("o_totalprice"))
      .select($"o_custkey", $"op",
        round($"old_o_totalprice", 2).as("old_o_totalprice"),
        round($"new_o_totalprice", 2).as("new_o_totalprice"))
      .orderBy($"o_custkey")
  }

  def entries: Seq[CatalogEntry] = Seq(
    topkLatestPerPair, earliestInWindow, sortLimit5000, filterEq,
    filterConjEq, filterRangeTs, windowLagPctChange, movingAvg,
    movingAvgTimeRange, scalarPctChange, latestPerKeyMaxby, mergeUpsert,
    mergeUpsertPartitioned,
    countRows, previewHead, windowFirstLast, cdcSnapshotDiff)
}
