package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsOfJoin, RangeJoin, SaltedAgg, SaltedJoin}
import graft.plans.{SummaryRewrite, SummarySpec}
import graft.sources.FsUtil

/** Catalog entries for the custom whole-operator semantics
  * (operators/): as-of join and skew-salted aggregation.
  */
object OperatorQueries {

  private val fmt = "yyyy-MM-dd HH:mm:ss"
  private val dfmt = "%Y-%m-%d %H:%M:%S"

  /** As-of join: every event gets the same user's latest purchase at or
    * before it. The oracle is DuckDB's *native* ASOF LEFT JOIN — a
    * fully independent implementation of the semantics our union+window
    * formulation must reproduce. */
  val asofJoin: CatalogEntry = CatalogEntry(
    "asof_join",
    s"""WITH p AS (
       |  SELECT user_id, ts::TIMESTAMP AS pts, event_id AS pid, value AS pval
       |  FROM events WHERE event_type = 'purchase')
       |SELECT e.event_id, e.user_id,
       |  strftime(e.ts::TIMESTAMP, '$dfmt') AS ts_s,
       |  p.pid AS purchase_event_id,
       |  p.pval AS purchase_value
       |FROM events e ASOF LEFT JOIN p
       |  ON e.user_id = p.user_id AND e.ts::TIMESTAMP >= p.pts
       |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    AsOfJoin.leftAsOf(
      probe = ev.select($"event_id", $"user_id", $"ts"),
      build = purchases,
      probeKey = "user_id", buildKey = "user_id",
      probeTs = "ts", buildTs = "ts",
      payload = Seq("event_id", "value"), buildTie = "event_id")
      .select($"event_id", $"user_id",
        date_format($"ts", fmt).as("ts_s"),
        $"asof_event_id".as("purchase_event_id"),
        $"asof_value".as("purchase_value"))
      .orderBy($"event_id")
  }

  /** Salted two-phase aggregation over a genuinely skewed key (3 status
    * values ≈ |rows|/3 each). Oracle is the plain one-phase GROUP BY —
    * green proves the salting is semantics-preserving. */
  val aggSaltedSkew: CatalogEntry = CatalogEntry(
    "agg_salted_skew",
    """SELECT o_orderstatus,
      |  count(*)::BIGINT AS n,
      |  round(sum(o_totalprice), 2) AS sum_totalprice_r
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    import s.implicits._
    SaltedAgg.sumCount(Tables.orders(s, d), Seq("o_orderstatus"),
      "o_totalprice", uniqueCol = "o_orderkey", salt = 16)
      .select($"o_orderstatus", $"n",
        round($"sum_o_totalprice", 2).as("sum_totalprice_r"))
      .orderBy($"o_orderstatus")
  }

  /** Range (interval) join: every purchase defines a ±5-minute window;
    * count/sum ALL events falling inside each window. Both sides are
    * the full events table (≈2k windows × 10k points at sf0.01), so the
    * naive BETWEEN join would be a nested loop; RangeJoin's bin
    * expansion (bin = the 10-min window span → ≤2 bins/interval) keeps
    * it an equi-join. The oracle is DuckDB's inequality join — an
    * independent execution of the same semantics. */
  val rangeJoinWindowAgg: CatalogEntry = CatalogEntry(
    "range_join_window_agg",
    """WITH w AS (
      |  SELECT event_id AS w_id,
      |    epoch_us(ts::TIMESTAMP) - 300000000 AS w_start,
      |    epoch_us(ts::TIMESTAMP) + 300000000 AS w_end
      |  FROM events WHERE event_type = 'purchase')
      |SELECT w_id, count(*)::BIGINT AS n_events,
      |  round(sum(e.value), 2) AS sum_value_r
      |FROM events e JOIN w
      |  ON epoch_us(e.ts::TIMESTAMP) >= w.w_start
      | AND epoch_us(e.ts::TIMESTAMP) <= w.w_end
      |GROUP BY w_id ORDER BY w_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val halfSpanUs = 300000000L // 5 min
    val points = ev.select($"event_id".as("e_id"), $"value".as("e_value"),
      unix_micros($"ts").as("e_us"))
    val windows = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("w_id"),
        (unix_micros($"ts") - halfSpanUs).as("w_start"),
        (unix_micros($"ts") + halfSpanUs).as("w_end"))
    RangeJoin.pointInInterval(points, windows, "e_us", "w_start", "w_end",
      binWidth = 2 * halfSpanUs)
      .groupBy($"w_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"e_value"), 2).as("sum_value_r"))
      .orderBy($"w_id")
  }

  /** Resample + forward-fill: daily close value per event type on a
    * complete daily calendar — the gap-fill operation of time-series
    * prep. Composition of existing operators: daily close =
    * `max(struct)` one-pass latest-per-(type, day); the calendar =
    * `sequence` explode over the data's own min/max day (broadcast
    * scalars, no collect); the fill = the AsOfJoin operator (grid day ≥
    * observation day, same key). Days before a type's first observation
    * stay null — ffill never invents data. Oracle: DuckDB
    * generate_series calendar + native ASOF LEFT JOIN. */
  val resampleFfill: CatalogEntry = CatalogEntry(
    "resample_ffill",
    s"""WITH daily AS (
       |  SELECT event_type, day, value AS close_value FROM (
       |    SELECT event_type, ts::TIMESTAMP::DATE AS day, value,
       |      row_number() OVER (PARTITION BY event_type, ts::TIMESTAMP::DATE
       |        ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn
       |    FROM events WHERE value > 220)
       |  WHERE rn = 1),
       |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
       |grid AS (
       |  SELECT t.event_type,
       |    unnest(generate_series(bounds.d0::TIMESTAMP,
       |      bounds.d1::TIMESTAMP, INTERVAL 1 DAY))::DATE AS day
       |  FROM (SELECT DISTINCT event_type FROM daily) t, bounds)
       |SELECT g.event_type, strftime(g.day, '%Y-%m-%d') AS day_s,
       |  d.close_value
       |FROM grid g ASOF LEFT JOIN daily d
       |  ON g.event_type = d.event_type AND g.day >= d.day
       |ORDER BY g.event_type, day_s""".stripMargin) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .filter($"value" > 220)
      .withColumn("day", to_date($"ts"))
      .groupBy($"event_type", $"day")
      .agg(max(struct($"ts", $"event_id", $"value")).as("m"))
      .select($"event_type", $"day", $"m.value".as("close_value"),
        unix_date($"day").as("obs_epoch"))
    val bounds = daily.agg(min($"day").as("d0"), max($"day").as("d1"))
    val grid = daily.select($"event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select($"event_type",
        explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    AsOfJoin.leftAsOf(
      probe = grid, build = daily,
      probeKey = "event_type", buildKey = "event_type",
      probeTs = "day", buildTs = "day",
      payload = Seq("close_value"), buildTie = "obs_epoch")
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day_s"),
        $"asof_close_value".as("close_value"))
      .orderBy($"event_type", $"day_s")
  }

  /** Morton (z-order) clustering key over (customer, order day) — the
    * native codegen'd `z_order2` expression (functions/ZOrderKey) that
    * `Layout.writeZOrdered` clusters by; file-level pruning is proven
    * in ZOrderKeySpec. The oracle recomputes the interleave bit-by-bit
    * in DuckDB list algebra (31 bits/dim — both inputs are far below
    * 2^31, where the formulations provably agree). */
  val zorderKeyCluster: CatalogEntry = CatalogEntry(
    "zorder_key_cluster",
    """WITH d AS (
      |  SELECT o_orderkey, o_custkey,
      |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS day_n
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, day_n,
      |  list_sum([((o_custkey >> i) & 1) * (1::BIGINT << (2 * i))
      |            + ((day_n >> i) & 1) * (1::BIGINT << (2 * i + 1))
      |            for i in range(0, 31)])::BIGINT AS zkey
      |FROM d ORDER BY zkey, o_orderkey LIMIT 20""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey",
        unix_date(to_date($"o_orderdate")).cast("long").as("day_n"))
      .withColumn("zkey", call_function("z_order2", $"o_custkey", $"day_n"))
      .orderBy($"zkey", $"o_orderkey")
      .limit(20)
  }

  /** Skew-salted equi-join (operators/SaltedJoin): lineitem ⋈ orders
    * with the probe spread over 8 salt sub-keys and the build
    * replicated 8× — the deterministic alternative to AQE's runtime
    * skew split. The oracle is the PLAIN join + aggregate: a green
    * hash proves salting is invisible to semantics. */
  val joinSaltedSkew: CatalogEntry = CatalogEntry(
    "join_salted_skew",
    """SELECT o_orderpriority,
      |  count(*)::BIGINT AS n,
      |  round(sum(l_extendedprice), 2) AS sum_price_r
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey", $"l_extendedprice")
    val o = Tables.orders(s, d)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    SaltedJoin.saltedEquiJoin(li, o, "l_orderkey",
      probeSaltCol = "l_partkey", salt = 8)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum($"l_extendedprice"), 2).as("sum_price_r"))
      .orderBy($"o_orderpriority")
  }

  /** As-of join with a 10-minute staleness tolerance: a matched
    * purchase older than the tolerance is rejected back to null —
    * pandas `merge_asof(tolerance=...)` semantics, the "only join
    * reference data that is still fresh" rule of feature pipelines.
    * The oracle is DuckDB's native ASOF LEFT JOIN with the identical
    * integer-microsecond guard applied on top, so green proves the
    * tolerance rejects exactly the stale matches and nothing else.
    * Plan-wise this is the asof_join plan (one shuffle) — the guard is
    * a row-local projection. */
  val asofJoinTolerance: CatalogEntry = CatalogEntry(
    "asof_join_tolerance",
    s"""WITH p AS (
       |  SELECT user_id, ts::TIMESTAMP AS pts, event_id AS pid, value AS pval
       |  FROM events WHERE event_type = 'purchase')
       |SELECT e.event_id, e.user_id,
       |  strftime(e.ts::TIMESTAMP, '$dfmt') AS ts_s,
       |  CASE WHEN epoch_us(e.ts::TIMESTAMP) - epoch_us(p.pts) <= 600000000
       |       THEN p.pid END AS purchase_event_id,
       |  CASE WHEN epoch_us(e.ts::TIMESTAMP) - epoch_us(p.pts) <= 600000000
       |       THEN p.pval END AS purchase_value
       |FROM events e ASOF LEFT JOIN p
       |  ON e.user_id = p.user_id AND e.ts::TIMESTAMP >= p.pts
       |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    AsOfJoin.leftAsOfTolerance(
      probe = ev.select($"event_id", $"user_id", $"ts"),
      build = purchases,
      probeKey = "user_id", buildKey = "user_id",
      probeTs = "ts", buildTs = "ts",
      payload = Seq("event_id", "value"), buildTie = "event_id",
      toleranceUs = 600000000L)
      .select($"event_id", $"user_id",
        date_format($"ts", fmt).as("ts_s"),
        $"asof_event_id".as("purchase_event_id"),
        $"asof_value".as("purchase_value"))
      .orderBy($"event_id")
  }

  /** FORWARD as-of join: every event gets the same user's NEXT purchase
    * at or after it — time-to-next-conversion, next-maintenance-window
    * lookups. Runs the one-shuffle union+window machinery on negated
    * microsecond time; the oracle replays the same direction flip
    * through DuckDB's native ASOF on negated epoch columns (ASOF is
    * inherently backward, so the negation trick IS the independent
    * formulation). The matched purchase's own timestamp rides the
    * payload, proving the join picked the first-at-or-after row, not
    * merely some row. */
  val asofJoinForward: CatalogEntry = CatalogEntry(
    "asof_join_forward",
    s"""WITH e AS (
       |  SELECT event_id, user_id, ts::TIMESTAMP AS tsx,
       |    -epoch_us(ts::TIMESTAMP) AS nts
       |  FROM events),
       |p AS (
       |  SELECT user_id, -epoch_us(ts::TIMESTAMP) AS nts,
       |    ts::TIMESTAMP AS pts, event_id AS pid, value AS pval
       |  FROM events WHERE event_type = 'purchase')
       |SELECT e.event_id, e.user_id,
       |  strftime(e.tsx, '$dfmt') AS ts_s,
       |  p.pid AS next_purchase_id,
       |  strftime(p.pts, '$dfmt') AS next_purchase_ts_s,
       |  p.pval AS next_purchase_value
       |FROM e ASOF LEFT JOIN p
       |  ON e.user_id = p.user_id AND e.nts >= p.nts
       |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    AsOfJoin.leftAsOfForward(
      probe = ev.select($"event_id", $"user_id", $"ts"),
      build = purchases,
      probeKey = "user_id", buildKey = "user_id",
      probeTs = "ts", buildTs = "ts",
      payload = Seq("ts", "event_id", "value"), buildTie = "event_id")
      .select($"event_id", $"user_id",
        date_format($"ts", fmt).as("ts_s"),
        $"asof_event_id".as("next_purchase_id"),
        date_format($"asof_ts", fmt).as("next_purchase_ts_s"),
        $"asof_value".as("next_purchase_value"))
      .orderBy($"event_id")
  }

  /** NEAREST as-of join — every event gets the same user's CLOSEST
    * purchase in either time direction (equal distance resolves to
    * the at-or-before row). DuckDB has no nearest ASOF, so the oracle
    * composes its native backward ASOF with the negated-micros
    * forward ASOF (the `asof_join_forward` device) and replays the
    * identical integer-microsecond winner pick — two independent
    * one-sided engines agreeing on the composition is exactly what
    * gates [[graft.operators.AsOfJoin.leftAsOfNearest]]'s row-local
    * distance arithmetic. */
  val asofJoinNearest: CatalogEntry = CatalogEntry(
    "asof_join_nearest",
    s"""WITH e AS (
       |  SELECT event_id, user_id, ts::TIMESTAMP AS tsx,
       |    -epoch_us(ts::TIMESTAMP) AS nts
       |  FROM events),
       |pb AS (
       |  SELECT user_id, ts::TIMESTAMP AS pts, event_id AS pid,
       |    value AS pval
       |  FROM events WHERE event_type = 'purchase'),
       |pf AS (
       |  SELECT user_id, -epoch_us(ts::TIMESTAMP) AS nts,
       |    ts::TIMESTAMP AS pts, event_id AS pid, value AS pval
       |  FROM events WHERE event_type = 'purchase'),
       |b AS (
       |  SELECT e.event_id, pb.pid AS b_pid, pb.pts AS b_pts,
       |    pb.pval AS b_pval
       |  FROM e ASOF LEFT JOIN pb
       |    ON e.user_id = pb.user_id AND e.tsx >= pb.pts),
       |f AS (
       |  SELECT e.event_id, pf.pid AS f_pid, pf.pts AS f_pts,
       |    pf.pval AS f_pval
       |  FROM e ASOF LEFT JOIN pf
       |    ON e.user_id = pf.user_id AND e.nts >= pf.nts),
       |w AS (
       |  SELECT e.event_id, e.user_id, e.tsx,
       |    (b_pts IS NOT NULL AND (f_pts IS NULL OR
       |       epoch_us(e.tsx) - epoch_us(b_pts)
       |         <= epoch_us(f_pts) - epoch_us(e.tsx))) AS use_b,
       |    b_pid, b_pts, b_pval, f_pid, f_pts, f_pval
       |  FROM e JOIN b USING (event_id) JOIN f USING (event_id))
       |SELECT event_id, user_id, strftime(tsx, '$dfmt') AS ts_s,
       |  CASE WHEN use_b THEN b_pid ELSE f_pid END
       |    AS nearest_purchase_id,
       |  strftime(CASE WHEN use_b THEN b_pts ELSE f_pts END, '$dfmt')
       |    AS nearest_purchase_ts_s,
       |  CASE WHEN use_b THEN b_pval ELSE f_pval END
       |    AS nearest_purchase_value
       |FROM w ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    AsOfJoin.leftAsOfNearest(
      probe = ev.select($"event_id", $"user_id", $"ts"),
      build = purchases,
      probeKey = "user_id", buildKey = "user_id",
      probeTs = "ts", buildTs = "ts",
      payload = Seq("ts", "event_id", "value"), buildTie = "event_id")
      .select($"event_id", $"user_id",
        date_format($"ts", fmt).as("ts_s"),
        $"asof_event_id".as("nearest_purchase_id"),
        date_format($"asof_ts", fmt).as("nearest_purchase_ts_s"),
        $"asof_value".as("nearest_purchase_value"))
      .orderBy($"event_id")
  }

  /** The AGGREGATE NAVIGATOR end-to-end: a (lang, source)-keyed
    * (cnt, sum, min, max) summary of `documents` is materialized (the
    * layout `streaming/IncrementalAgg` maintains per micro-batch), and
    * the dashboard aggregate — count/sum/min/max of n_chars by lang,
    * under a dim-only source filter — is issued against the BASE table.
    * [[graft.plans.SummaryRewrite]] re-plans it onto the summary given
    * to it with the query (the filter commutes and rebases; the
    * rewrite is asserted scan-level in SummaryRewriteSpec), and the
    * oracle computes the same aggregate over the base table in DuckDB —
    * identical results IS the materialized-view contract. At 100 TB
    * this is the difference between a dashboard query scanning a
    * |langs×sources| summary and re-scanning the corpus. The base is
    * snapshotted to an application-scoped dir, and the rewrite sees
    * only this entry's query, so no other entry's scan of the shared
    * documents table can be re-planned. */
  val summaryRewriteAgg: CatalogEntry = CatalogEntry(
    "summary_rewrite_agg",
    """SELECT lang,
      |  count(*)::BIGINT AS n_docs,
      |  sum(n_chars)::BIGINT AS sum_chars,
      |  min(n_chars)::BIGINT AS min_chars,
      |  max(n_chars)::BIGINT AS max_chars
      |FROM documents
      |WHERE source <> 'src0'
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    import s.implicits._
    val tmp = FsUtil.scratchDir(s"graft_summary_nav_${s.sparkContext.applicationId}")
    val basePath = s"$tmp/base"
    val summaryPath = s"$tmp/summary"
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source", $"n_chars")
    docs.write.mode("overwrite").parquet(basePath)
    docs.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("cnt"), sum($"n_chars").as("sum"),
        min($"n_chars").as("min"), max($"n_chars").as("max"))
      .write.mode("overwrite").parquet(summaryPath)
    val dashboard = Tables.read(s, basePath)
      .where($"source" =!= "src0")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
      .orderBy($"lang")
    SummaryRewrite.rewrite(dashboard,
      SummarySpec(basePath, summaryPath, Seq("lang", "source"), "n_chars"))
  }

  /** Market-basket co-occurrence with lift — association-rule mining's
    * support/lift core over (order, part) baskets. Shape that
    * survives 100 TB: pairs are generated WITHIN a basket only (the
    * self-join is equi-keyed on the order, so a basket of k items
    * emits C(k,2) pairs — bounded by order size, never |parts|²), the
    * pair census is a map-side-combinable count, and lift is computed
    * in exact integer parts-per-million: lift = P(ab)/(P(a)·P(b)) =
    * n_ab·N / (n_a·n_b), all BIGINTs, `div`-scaled — no float ratio
    * to diverge cross-engine. Top-30 under a total order.
    *
    * Megabasket guard (the `maxDf` analogue from sharedGramPairs):
    * baskets with more than 1000 items are excluded from PAIR
    * generation — one 10⁵-item basket is 5·10⁹ pairs landing on a
    * single order key, the classic last-reducer kill. Item supports
    * and the basket total stay EXACT (computed before the cap); only
    * pair counts lose the megabaskets' contribution — the documented
    * recall tradeoff, and the right one: a basket with 1000+ items
    * carries no association signal (every pair in it co-occurs). The
    * oracle applies the identical cap, and BasketLiftGuardSpec proves
    * the top-30 is unchanged by the guard on the test data (TPC-H
    * baskets max out at 7 items). */
  val basketLift: CatalogEntry = CatalogEntry(
    "basket_cooccur_lift",
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ord, pk FROM (
      |    SELECT ord, pk, count(*) OVER (PARTITION BY ord) AS bsz
      |    FROM baskets)
      |  WHERE bsz <= 1000),
      |nb AS (SELECT count(DISTINCT ord) AS n FROM baskets),
      |item AS (SELECT pk, count(*)::BIGINT AS cnt FROM baskets GROUP BY pk),
      |pairs AS (
      |  SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS n_ab
      |  FROM capped a JOIN capped b ON a.ord = b.ord AND a.pk < b.pk
      |  GROUP BY 1, 2)
      |SELECT pa, pb, n_ab, ia.cnt AS n_a, ib.cnt AS n_b,
      |  (n_ab * (SELECT n FROM nb) * 1000000) // (ia.cnt * ib.cnt)
      |    AS lift_ppm
      |FROM pairs JOIN item ia ON ia.pk = pa JOIN item ib ON ib.pk = pb
      |WHERE n_ab >= 2
      |ORDER BY n_ab DESC, lift_ppm DESC, pa, pb
      |LIMIT 30""".stripMargin) { (s, d) =>
    import s.implicits._
    val baskets = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ord"), $"l_partkey".as("pk")).distinct()
    val nBaskets = baskets.agg(
      countDistinct($"ord").as("n")) // 1 row, broadcast below
    val item = baskets.groupBy($"pk").agg(count(lit(1)).as("cnt"))
    // basket-size window shares the self-join's ord partitioning, so
    // the guard adds no extra exchange
    val capped = baskets
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"ord")))
      .where($"bsz" <= 1000)
      .select($"ord", $"pk")
    val pairs = capped.as("a")
      .join(capped.as("b"),
        $"a.ord" === $"b.ord" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("pa"), $"b.pk".as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .where($"n_ab" >= 2)
    pairs
      .join(item.select($"pk".as("pa"), $"cnt".as("n_a")), "pa")
      .join(item.select($"pk".as("pb"), $"cnt".as("n_b")), "pb")
      .crossJoin(broadcast(nBaskets))
      .select($"pa", $"pb", $"n_ab", $"n_a", $"n_b",
        expr("(n_ab * n * 1000000) div (n_a * n_b)").as("lift_ppm"))
      .orderBy($"n_ab".desc, $"lift_ppm".desc, $"pa", $"pb")
      .limit(30)
  }

  /** Shared co-purchase edge generation for the graph family (r21):
    * the distinct (order, part) baskets table is built ONCE —
    * ord-repartitioned so the `distinct` rides the same exchange
    * (subset clustering) — and localCheckpointed, so the self-join's
    * two branches read one materialization with co-partitioned sides
    * (zero join exchange) instead of each branch re-running the
    * lineitem scan + distinct and re-exchanging on the order key (the
    * r20 shape: 2 scans + 4 exchanges per entry; now 1 scan + 1
    * exchange + the pair aggregate). `minShared` adds the
    * ≥-n-distinct-orders sparsification kcore/LPA use; the pair
    * groupBy's own exchange partial-aggregates map-side. Row output
    * is identical to the inline r20 construction — the consuming
    * entries' oracles are unchanged and re-verified. */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String, minShared: Option[Long]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val shufN = s.sessionState.conf.numShufflePartitions
    val baskets = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ord"), $"l_partkey".as("pk"))
      .repartition(shufN, $"ord")
      .distinct()
      .localCheckpoint()
    val joined = baskets.as("a")
      .join(baskets.as("b"), $"a.ord" === $"b.ord" && $"a.pk" =!= $"b.pk")
    minShared match {
      case Some(m) =>
        joined.groupBy($"a.pk".as("src"), $"b.pk".as("dst"))
          .agg(count(lit(1)).as("n_ab"))
          .where($"n_ab" >= m)
          .select($"src", $"dst")
      case None =>
        joined.select($"a.pk".as("src"), $"b.pk".as("dst"))
    }
  }

  /** Exact-integer PageRank over the part co-purchase graph (parts
    * linked when they share an order) — graph centrality as a data-
    * quality/recommendation signal, via
    * [[graft.ext.Graph.pageRankInt]]: 3 unrolled iterations, damping
    * 85/100, ranks in parts-per-trillion BIGINTs. Integer arithmetic
    * makes the iteration bit-reproducible across engines and runs
    * (float PR depends on partial-agg summation order); the oracle
    * replays the identical unrolled steps as chained CTEs. Top-20
    * under a total order. */
  val pagerankCoPurchase: CatalogEntry = CatalogEntry(
    "graph_pagerank_copurchase",
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS pk FROM lineitem),
      |eu AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
      |       FROM baskets a JOIN baskets b
      |         ON a.ord = b.ord AND a.pk <> b.pk),
      |deg AS (SELECT src AS id, count(*)::BIGINT AS deg FROM eu GROUP BY 1),
      |n AS (SELECT count(*)::BIGINT AS n FROM deg),
      |pr0 AS (SELECT id, deg,
      |        (1000000000000 // (SELECT n FROM n))::BIGINT AS r FROM deg),
      |pr1 AS (SELECT d.id, d.deg,
      |    ((15 * 1000000000000) // (100 * (SELECT n FROM n))
      |     + (85 * sum(p.r // p.deg)) // 100)::BIGINT AS r
      |  FROM deg d JOIN eu e ON e.dst = d.id JOIN pr0 p ON p.id = e.src
      |  GROUP BY d.id, d.deg),
      |pr2 AS (SELECT d.id, d.deg,
      |    ((15 * 1000000000000) // (100 * (SELECT n FROM n))
      |     + (85 * sum(p.r // p.deg)) // 100)::BIGINT AS r
      |  FROM deg d JOIN eu e ON e.dst = d.id JOIN pr1 p ON p.id = e.src
      |  GROUP BY d.id, d.deg),
      |pr3 AS (SELECT d.id, d.deg,
      |    ((15 * 1000000000000) // (100 * (SELECT n FROM n))
      |     + (85 * sum(p.r // p.deg)) // 100)::BIGINT AS r
      |  FROM deg d JOIN eu e ON e.dst = d.id JOIN pr2 p ON p.id = e.src
      |  GROUP BY d.id, d.deg)
      |SELECT id AS part_id, deg, r AS rank_ppt
      |FROM pr3 ORDER BY r DESC, id LIMIT 20""".stripMargin) { (s, d) =>
    import s.implicits._
    val edges = coPurchaseEdges(s, d, minShared = None)
    graft.ext.Graph.pageRankInt(edges, "src", "dst", iters = 3)
      .select($"id".as("part_id"), $"deg", $"rank".as("rank_ppt"))
      .orderBy($"rank_ppt".desc, $"part_id")
      .limit(20)
  }

  /** k-core of the co-purchase graph ([[graft.ext.Graph.kcorePeel]]):
    * parts in the dense repeated-co-purchase backbone — the
    * community/recommendation sibling of `graph_pagerank_copurchase`
    * on the same graph, sparsified to edges co-occurring in ≥2
    * distinct orders (one incidental shared basket links nothing).
    * Bounded 6-round peel with a `converged` flag so the oracle
    * replays the IDENTICAL unrolled rounds as chained MATERIALIZED
    * CTEs (plain CTEs re-derive the edge join per reference); k=2,
    * converged=true at both test SFs. */
  val kcoreCoPurchase: CatalogEntry = {
    val roundCtes = (1 to 6).map { r =>
      val prev = if (r == 1) "v0" else s"r${r - 1}"
      s"""r$r AS MATERIALIZED (
         |  SELECT e.src AS id FROM eu e
         |  JOIN $prev a ON e.src = a.id JOIN $prev b ON e.dst = b.id
         |  GROUP BY 1 HAVING count(*) >= 2)""".stripMargin
    }.mkString(",\n")
    CatalogEntry(
      "graph_kcore_copurchase",
      s"""WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS pk FROM lineitem),
        |eu AS MATERIALIZED (
        |  SELECT a.pk AS src, b.pk AS dst
        |  FROM baskets a JOIN baskets b ON a.ord = b.ord AND a.pk <> b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |v0 AS (SELECT DISTINCT src AS id FROM eu),
        |$roundCtes,
        |deg AS (SELECT e.src AS id, count(*)::BIGINT AS deg FROM eu e
        |        JOIN r6 a ON e.src = a.id JOIN r6 b ON e.dst = b.id
        |        GROUP BY 1)
        |SELECT id AS part_id, deg,
        |  ((SELECT count(*) FROM r5) = (SELECT count(*) FROM r6))
        |    AS converged
        |FROM deg ORDER BY part_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val edges = coPurchaseEdges(s, d, minShared = Some(2L))
      graft.ext.Graph.kcorePeel(edges, "src", "dst", k = 2, rounds = 6)
        .select($"id".as("part_id"), $"deg", $"converged")
        .orderBy($"part_id")
    }
  }

  /** Label-propagation communities over the sparsified co-purchase
    * graph ([[graft.ext.Graph.labelPropagate]]) — the fourth graph
    * operator beside components / k-core / PageRank: 4 synchronous
    * rounds of most-frequent-neighbor-label with (count DESC, label)
    * integer tie-break on the same ≥2-shared-orders edge set as
    * `graph_kcore_copurchase`. Top-20 communities under a total
    * order; the oracle replays the IDENTICAL unrolled rounds as
    * chained MATERIALIZED CTEs. */
  val lpaCoPurchase: CatalogEntry = {
    val roundCtes = (1 to 4).map { r =>
      s"""c$r AS (SELECT e.dst AS id, p.lbl, count(*)::BIGINT AS cnt
         |  FROM eu e JOIN lab${r - 1} p ON p.id = e.src
         |  GROUP BY e.dst, p.lbl),
         |lab$r AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl,
         |      row_number() OVER (PARTITION BY id
         |                         ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    CatalogEntry(
      "graph_lpa_communities",
      s"""WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS pk FROM lineitem),
        |eu AS MATERIALIZED (
        |  SELECT a.pk AS src, b.pk AS dst
        |  FROM baskets a JOIN baskets b ON a.ord = b.ord AND a.pk <> b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |lab0 AS (SELECT DISTINCT src AS id, src AS lbl FROM eu),
        |$roundCtes
        |SELECT lbl AS community, count(*)::BIGINT AS n_members,
        |  min(id)::BIGINT AS min_member, max(id)::BIGINT AS max_member
        |FROM lab4 GROUP BY lbl
        |ORDER BY n_members DESC, community LIMIT 20""".stripMargin) { (s, d) =>
      import s.implicits._
      val edges = coPurchaseEdges(s, d, minShared = Some(2L))
      graft.ext.Graph.labelPropagate(edges, "src", "dst", rounds = 4)
        .groupBy($"lbl".as("community"))
        .agg(count(lit(1)).as("n_members"),
          min($"id").as("min_member"), max($"id").as("max_member"))
        .orderBy($"n_members".desc, $"community")
        .limit(20)
    }
  }

  def entries: Seq[CatalogEntry] = Seq(
    asofJoin, aggSaltedSkew, rangeJoinWindowAgg, resampleFfill,
    zorderKeyCluster, joinSaltedSkew, asofJoinTolerance, asofJoinForward,
    asofJoinNearest,
    summaryRewriteAgg, basketLift, pagerankCoPurchase, kcoreCoPurchase,
    lpaCoPurchase)
}
