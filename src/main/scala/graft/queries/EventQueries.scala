package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Transform

/** Event-stream queries: the JSON/map surface (fetch.py:39-40's quotes
  * pivot, recast over `events.props`) and the tumbling-window aggregate
  * (SURVEY.md §2.9 extension over the micro-batch feed).
  *
  * Scale notes: `from_json`/`get_json_object` are codegen'd row-local
  * work fused into the scan; the tumbling window is a plain group-by on
  * (bucket, type) with map-side partial aggregation — the streaming
  * variant of the same plan just adds a watermark.
  */
object EventQueries {

  private val fmt = "yyyy-MM-dd HH:mm:ss"
  private val dfmt = "%Y-%m-%d %H:%M:%S"

  /** The fetch step's `{pair: rate}` map pivot (fetch.py:39-40): parse
    * the JSON object into a map column, explode to one row per entry. */
  val pivotMapToRows: CatalogEntry = CatalogEntry(
    "pivot_map_to_rows",
    """SELECT event_id, 'k' AS map_key, (props->>'$.k')::BIGINT AS map_value
      |FROM events
      |ORDER BY event_id, map_key""".stripMargin) { (s, d) =>
    import s.implicits._
    Transform.pivotMapToRows(
      Tables.eventsDense(s, d)
        .select($"event_id", from_json($"props",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)).as("m")),
      "m", "map_key", "map_value")
      .orderBy($"event_id", $"map_key")
  }

  /** Scalar JSON path extraction + aggregate (events.props → $.k). */
  val jsonPropsExtract: CatalogEntry = CatalogEntry(
    "json_props_extract",
    """SELECT event_type,
      |  count(*)::BIGINT AS n,
      |  round(avg((props->>'$.k')::BIGINT), 4) AS avg_k,
      |  max((props->>'$.k')::BIGINT)::BIGINT AS max_k
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.eventsDense(s, d)
      .withColumn("k", get_json_object($"props", "$.k").cast("bigint"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(avg($"k"), 4).as("avg_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** Tumbling 1 h window count+sum per event type (SURVEY.md §2.9):
    * `window()` buckets are epoch-aligned, exactly DuckDB's
    * time_bucket. */
  val eventsTumblingWindow: CatalogEntry = CatalogEntry(
    "events_tumbling_window",
    s"""SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '$dfmt') AS window_start,
       |  event_type,
       |  count(*)::BIGINT AS n,
       |  round(sum(value), 2) AS sum_value
       |FROM events GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select(date_format($"w.start", fmt).as("window_start"),
        $"event_type", $"n", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }

  /** Batch sessionization: per user, a new session starts after a
    * >30 min gap; sessions aggregate to (count, start, end). The
    * lag→flag→cumulative-sum shape is the standard session-window
    * formulation; gap math in integer microseconds (exact in both
    * engines). Streaming-wise this is `session_window()` /
    * `flatMapGroupsWithState` — same plan per key. */
  val eventsSessionize: CatalogEntry = CatalogEntry(
    "events_sessionize",
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts::TIMESTAMP AS tsx,
       |    CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
       |              OR epoch_us(ts::TIMESTAMP) - epoch_us(lag(ts::TIMESTAMP) OVER w)
       |                 > 1800000000
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)),
       |sessions AS (
       |  SELECT *, sum(new_session) OVER (
       |    PARTITION BY user_id ORDER BY tsx, event_id
       |    ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id,
       |  count(*)::BIGINT AS n_events,
       |  strftime(min(tsx), '$dfmt') AS session_start,
       |  strftime(max(tsx), '$dfmt') AS session_end
       |FROM sessions GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val flagged = Tables.events(s, d)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    flagged.groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        date_format(min($"ts"), fmt).as("session_start"),
        date_format(max($"ts"), fmt).as("session_end"))
      .orderBy($"user_id", $"session_id")
  }

  /** Conversion funnel: per user, first signup and first purchase at or
    * after it, with time-to-convert — two `min` aggregations and one
    * equi-join on user_id (the range condition is a post-join filter on
    * co-partitioned rows, never a nested loop). Users who never
    * purchase after signing up keep null conversion columns. */
  val eventsFunnel: CatalogEntry = CatalogEntry(
    "events_funnel",
    s"""WITH s AS (
       |  SELECT user_id, min(ts::TIMESTAMP) AS signup_ts
       |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
       |p AS (
       |  SELECT e.user_id, min(e.ts::TIMESTAMP) AS conv_ts
       |  FROM events e JOIN s ON e.user_id = s.user_id
       |    AND e.ts::TIMESTAMP >= s.signup_ts
       |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
       |SELECT s.user_id,
       |  strftime(s.signup_ts, '$dfmt') AS signup_ts_s,
       |  strftime(p.conv_ts, '$dfmt') AS conv_ts_s,
       |  round(date_diff('microsecond', s.signup_ts, p.conv_ts)
       |        / 3600000000.0, 4) AS hours_to_convert,
       |  (p.conv_ts IS NOT NULL) AS converted
       |FROM s LEFT JOIN p ON s.user_id = p.user_id
       |ORDER BY s.user_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val signups = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
    val conv = ev.filter($"event_type" === "purchase")
      .join(signups, Seq("user_id"))
      .filter($"ts" >= $"signup_ts")
      .groupBy($"user_id").agg(min($"ts").as("conv_ts"))
    signups.join(conv, Seq("user_id"), "left")
      .select($"user_id",
        date_format($"signup_ts", fmt).as("signup_ts_s"),
        date_format($"conv_ts", fmt).as("conv_ts_s"),
        round((unix_micros($"conv_ts") - unix_micros($"signup_ts"))
          / lit(3600000000.0), 4).as("hours_to_convert"),
        $"conv_ts".isNotNull.as("converted"))
      .orderBy($"user_id")
  }

  /** Weekly cohort retention — the classic engagement matrix: users
    * bucketed by the week of their first event (the cohort), then each
    * cohort's share of users still active N weeks later. Week buckets
    * are `date_trunc('week', ...)` in both engines (Monday start), so
    * the offset arithmetic is exact day-multiples-of-7 — no
    * calendar-library drift to reconcile.
    *
    * Scale shape: one shuffle builds per-user first-event times, one
    * builds the distinct (user, week) activity set — both partial-agg
    * on user_id before exchanging, so the wire carries one row per
    * user(+week), never raw events. The cohort-size side is
    * weeks-not-users cardinality; Spark broadcasts it into the final
    * join on its own (the plan lint's no-cartesian guard holds). The
    * retention ratio divides two exact integers → bit-stable 4dp
    * round. */
  val eventsCohortRetention: CatalogEntry = CatalogEntry(
    "events_cohort_retention",
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', min(ts::TIMESTAMP)) AS cohort_week
      |  FROM events GROUP BY user_id),
      |w AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts::TIMESTAMP) AS week
      |  FROM events),
      |sz AS (SELECT cohort_week, count(DISTINCT user_id)::BIGINT AS cohort_size
      |       FROM f GROUP BY 1),
      |j AS (
      |  SELECT f.cohort_week,
      |    (date_diff('day', f.cohort_week, w.week) // 7)::INT AS week_offset,
      |    w.user_id
      |  FROM w JOIN f USING (user_id))
      |SELECT strftime(j.cohort_week, '%Y-%m-%d') AS cohort_week_s,
      |  week_offset,
      |  count(DISTINCT j.user_id)::BIGINT AS n_active,
      |  sz.cohort_size,
      |  round(count(DISTINCT j.user_id)::DOUBLE / sz.cohort_size, 4)
      |    AS retention_r
      |FROM j JOIN sz USING (cohort_week)
      |GROUP BY j.cohort_week, week_offset, sz.cohort_size
      |ORDER BY cohort_week_s, week_offset""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val first = ev.groupBy($"user_id").agg(min($"ts").as("first_ts"))
      .select($"user_id", date_trunc("week", $"first_ts").as("cohort_week"))
    val weekly = ev
      .select($"user_id", date_trunc("week", $"ts").as("week")).distinct()
    val sizes = first.groupBy($"cohort_week")
      .agg(countDistinct($"user_id").as("cohort_size"))
    weekly.join(first, Seq("user_id"))
      .groupBy($"cohort_week",
        (datediff($"week", $"cohort_week") / 7).cast("int").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .join(sizes, Seq("cohort_week"))
      .select(date_format($"cohort_week", "yyyy-MM-dd").as("cohort_week_s"),
        $"week_offset", $"n_active", $"cohort_size",
        round($"n_active".cast("double") / $"cohort_size", 4)
          .as("retention_r"))
      .orderBy($"cohort_week_s", $"week_offset")
  }

  /** Grouped top-k: the 3 highest-revenue days per event type — the
    * per-group ranking that at scale must stay one shuffle (partial agg
    * on (type, day)) + one window, never a global sort. */
  val eventsTopDays: CatalogEntry = CatalogEntry(
    "events_top_days",
    """SELECT event_type, strftime(day, '%Y-%m-%d') AS day_s, rev_r,
      |  rk::INT AS rk
      |FROM (
      |  SELECT event_type, day, rev_r,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY rev_r DESC, day) AS rk
      |  FROM (
      |    SELECT event_type, ts::TIMESTAMP::DATE AS day,
      |      round(sum(value), 2) AS rev_r
      |    FROM events GROUP BY event_type, day))
      |WHERE rk <= 3
      |ORDER BY event_type, rk""".stripMargin) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(round(sum($"value"), 2).as("rev_r"))
    val w = Window.partitionBy($"event_type")
      .orderBy($"rev_r".desc, $"day".asc)
    daily.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day_s"),
        $"rev_r", $"rk")
      .orderBy($"event_type", $"rk")
  }

  /** Sessionization via Spark's NATIVE `session_window` operator — the
    * third formulation of the same semantics (lag→cumsum batch entry,
    * flatMapGroupsWithState streaming, and this built-in). Boundary
    * rule: events merge while the gap is STRICTLY below 30 min (a new
    * session starts at gap ≥ 30 min), which is `session_window`'s
    * published contract — the oracle encodes exactly that. */
  val eventsSessionWindowNative: CatalogEntry = CatalogEntry(
    "events_session_window_native",
    s"""WITH flagged AS (
       |  SELECT user_id, ts::TIMESTAMP AS tsx,
       |    CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
       |              OR epoch_us(ts::TIMESTAMP) - epoch_us(lag(ts::TIMESTAMP) OVER w)
       |                 >= 1800000000
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)),
       |sessions AS (
       |  SELECT *, sum(new_session) OVER (
       |    PARTITION BY user_id ORDER BY tsx
       |    ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
       |  FROM flagged)
       |SELECT user_id,
       |  strftime(min(tsx), '$dfmt') AS session_start,
       |  count(*)::BIGINT AS n_events
       |FROM sessions GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        date_format($"session_window.start", fmt).as("session_start"),
        $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  /** GROUPING SETS (the general form rollup/cube specialize): totals by
    * (type, day-of-week), by type alone, and grand total in one pass. */
  val eventsGroupingSets: CatalogEntry = CatalogEntry(
    "events_grouping_sets",
    """SELECT coalesce(event_type, '<all>') AS event_type,
      |  coalesce(dow, -1)::INT AS dow,
      |  count(*)::BIGINT AS n,
      |  round(sum(value), 2) AS sum_value_r
      |FROM (SELECT event_type,
      |        (dayofweek(ts::TIMESTAMP) + 1)::INT AS dow, value
      |      FROM events)
      |GROUP BY GROUPING SETS ((event_type, dow), (event_type), ())
      |ORDER BY event_type, dow""".stripMargin) { (s, d) =>
    import s.implicits._
    val base = Tables.events(s, d)
      .select($"event_type", dayofweek($"ts").as("dow"), $"value")
    base.createOrReplaceTempView("graft_events_gs")
    s.sql("""
      SELECT coalesce(event_type, '<all>') AS event_type,
        coalesce(dow, -1) AS dow,
        count(1) AS n,
        round(sum(value), 2) AS sum_value_r
      FROM graft_events_gs
      GROUP BY GROUPING SETS ((event_type, dow), (event_type), ())
      ORDER BY event_type, dow""")
  }

  /** Statistical aggregates (§2.4 extension): correlation, sample
    * stddev/variance, covariance of quantity vs price per return flag.
    *
    * Engine-exact formulation: `corr`/`stddev_samp` in Spark and DuckDB
    * use different one-pass moment updates, so their doubles diverge as
    * early as the 3rd decimal (catastrophic cancellation on large means)
    * — `round(x, 3)` cannot absorb that (round-3 advice). Instead both
    * engines sum EXACT integer moments (quantity is integer-valued,
    * price is 2-decimal → scale ×100; Σp² ≈ 7e18 exceeds Long, so the
    * big sums ride Decimal(38,0) here / HUGEINT in DuckDB) and derive
    * the statistics from those identical integers with an identical
    * float expression tree — every op (cast, *, /, sqrt) is IEEE
    * exactly-rounded, so the outputs are bit-equal, no rounding needed.
    * At 100 TB the shuffle is 6 numbers per group (plain partial agg);
    * every multi-word product (n·Σp² is the largest, ≈ 8e35 at ~100 TB)
    * rides Decimal(38,0) — exact up to ~10^37, comfortably past 100 TB
    * with ~100× headroom before ANSI Decimal overflow would surface.
    * Verified vs native corr/stddev to ~1e-11 at sf0.1. */
  val statsAgg: CatalogEntry = CatalogEntry(
    "stats_agg",
    """WITH m AS (
      |  SELECT l_returnflag,
      |    count(*)::BIGINT AS n,
      |    sum(round(l_quantity)::BIGINT) AS sq,
      |    sum(round(l_extendedprice*100)::BIGINT) AS sp,
      |    sum(round(l_quantity)::BIGINT * round(l_quantity)::BIGINT) AS sqq,
      |    sum((round(l_extendedprice*100)::BIGINT
      |         * round(l_extendedprice*100)::BIGINT)::HUGEINT) AS spp,
      |    sum((round(l_quantity)::BIGINT
      |         * round(l_extendedprice*100)::BIGINT)::HUGEINT) AS sqp
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  (n*sqp - sq*sp)::DOUBLE
      |    / sqrt((n*sqq - sq*sq)::DOUBLE * (n*spp - sp*sp)::DOUBLE) AS corr_qp,
      |  sqrt((n*sqq - sq*sq)::DOUBLE / (n*(n-1))::DOUBLE) AS sd_qty,
      |  (n*sqq - sq*sq)::DOUBLE / (n*(n-1))::DOUBLE AS var_qty,
      |  (n*sqp - sq*sp)::DOUBLE / (n*(n-1))::DOUBLE / 100.0 AS cov_qp
      |FROM m ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    import s.implicits._
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = round($"l_quantity").cast("long")
    val p = round($"l_extendedprice" * 100).cast("long")
    val m = Tables.lineitem(s, d)
      .select($"l_returnflag", q.as("q"), p.as("p"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"q").as("sq"), sum($"p").as("sp"),
        sum($"q" * $"q").as("sqq"),
        sum(($"p" * $"p").cast(dec38)).as("spp"),
        sum(($"q" * $"p").cast(dec38)).as("sqp"))
    val n38 = $"n".cast(dec38)
    val covNum =
      (n38 * $"sqp" - ($"sq".cast(dec38) * $"sp".cast(dec38))).cast("double")
    val vqNum =
      (n38 * $"sqq".cast(dec38) - ($"sq".cast(dec38) * $"sq".cast(dec38)))
        .cast("double")
    val vpNum = (n38 * $"spp" - ($"sp".cast(dec38) * $"sp".cast(dec38)))
      .cast("double")
    val denom = (n38 * ($"n" - 1).cast(dec38)).cast("double")
    m.select($"l_returnflag",
        (covNum / sqrt(vqNum * vpNum)).as("corr_qp"),
        sqrt(vqNum / denom).as("sd_qty"),
        (vqNum / denom).as("var_qty"),
        (covNum / denom / lit(100.0)).as("cov_qp"))
      .orderBy($"l_returnflag")
  }

  /** Hopping (sliding) 1 h window, 30 min slide — the overlapping-window
    * counterpart of `events_tumbling_window`: every event lands in
    * exactly size/slide = 2 windows. Spark's `window(ts, size, slide)`
    * expands each row into its covering windows before the group-by, so
    * the plan is the tumbling plan with a 2× pre-aggregation fanout —
    * at 100 TB the fanout happens map-side and partial aggregation
    * collapses it before the (bucket, type) exchange. The oracle
    * replays the expansion as a 2-row cross join of 30 min buckets
    * shifted by the slide. */
  val eventsSlidingWindow: CatalogEntry = CatalogEntry(
    "events_sliding_window",
    s"""SELECT strftime(ws, '$dfmt') AS window_start, event_type,
       |  count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
       |FROM (
       |  SELECT e.*, time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP)
       |           - s.i * INTERVAL '30 minutes' AS ws
       |  FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) s)
       |WHERE ts::TIMESTAMP >= ws AND ts::TIMESTAMP < ws + INTERVAL '1 hour'
       |GROUP BY ws, event_type
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select(date_format($"w.start", fmt).as("window_start"),
        $"event_type", $"n", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }

  /** SCD2 dimension versioning from an event log — the warehouse-side
    * upgrade of the reference's MERGE snapshot (load_to_bigquery.py:
    * 98-111 keeps only the latest row per key; SCD2 keeps EVERY version
    * with its validity interval): per user, open a new version only
    * when `value` actually changes (change suppression via lag), close
    * it at the next change (valid_to = lead), latest version flagged
    * current with an open interval.
    *
    * Scale shape: one shuffle on user_id; both window passes
    * (lag-suppress, lead-close) share the same partitioning AND sort
    * order, so the second pass reuses the first's exchange and sort.
    * At 100 TB this is the standard event-log → dimension pass: range
    * partition by key, sort within partitions, no driver state. */
  val scd2FromHistory: CatalogEntry = CatalogEntry(
    "scd2_from_history",
    s"""WITH h AS (
       |  SELECT user_id, event_id, ts::TIMESTAMP AS tsx, value,
       |    lag(value) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS prev
       |  FROM events),
       |c AS (SELECT user_id, event_id, tsx, value FROM h
       |      WHERE prev IS DISTINCT FROM value)
       |SELECT user_id, event_id, value,
       |  strftime(tsx, '$dfmt') AS valid_from,
       |  strftime(lead(tsx) OVER w2, '$dfmt') AS valid_to,
       |  (lead(tsx) OVER w2 IS NULL) AS is_current
       |FROM c
       |WINDOW w2 AS (PARTITION BY user_id ORDER BY tsx, event_id)
       |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("prev", lag($"value", 1).over(w))
      .where(!($"prev" <=> $"value"))
      .select($"user_id", $"event_id", $"value",
        date_format($"ts", fmt).as("valid_from"),
        date_format(lead($"ts", 1).over(w), fmt).as("valid_to"),
        lead($"ts", 1).over(w).isNull.as("is_current"))
      .orderBy($"user_id", $"event_id")
  }

  /** Per-group anomaly ranking: top-5 events per type by |z-score| of
    * the integer props.k metric. Moments (n, Σk, Σk²) are EXACT integer
    * aggregates — the z formula `(nk − S) / sqrt((nQ − S²)·n/(n−1))`
    * then runs the same IEEE double ops from the same exact integers in
    * both engines, so the scores (and hence the ranking) are
    * bit-identical cross-engine: no summation-order jitter at the
    * rank-5 boundary, the same discipline as `stats_agg`. The S² / n·Q
    * products are widened to Decimal(38,0) / HUGEINT first — exceeding
    * int64 at ~1e11 rows per group, exactly the 100 TB regime.
    *
    * Scale shape: one map-side-partial exchange for the 5-row moment
    * table, broadcast back over the scan, then top-5-per-group as a
    * SALTED two-phase top-k: a local top-5 per (event_type, salt)
    * window — explicitly repartitioned so AQE cannot coalesce the
    * CPU-heavy sort onto one task by its small byte size — then the
    * global top-5 over the ≤ 5·32 candidates per type. A single
    * window partitioned by event_type alone has only ~5 key values:
    * the whole corpus sorts on 5 tasks (observed as a ≥3 s tasks=1
    * stage at sf0.1 once AQE folded the small-bytes partitions
    * together) — at 100 TB that shape is a non-starter, while the
    * salted local phase scales with the cluster. Any global top-5 row
    * is top-5 within its salt bucket, so the two phases are exact. */
  val anomalyZscoreTopk: CatalogEntry = CatalogEntry(
    "anomaly_zscore_topk",
    """WITH ev AS (
      |  SELECT event_id, event_type, (props->>'$.k')::BIGINT AS k
      |  FROM events WHERE (props->>'$.k') IS NOT NULL),
      |st AS (
      |  SELECT event_type, count(*)::BIGINT AS n, sum(k)::BIGINT AS s,
      |    sum(k * k)::BIGINT AS q
      |  FROM ev GROUP BY event_type),
      |z AS (
      |  SELECT ev.event_id, ev.event_type, ev.k,
      |    ((st.n * ev.k - st.s)::DOUBLE)
      |      / sqrt(((st.n::HUGEINT * st.q - st.s::HUGEINT * st.s)::DOUBLE
      |              * st.n) / (st.n - 1)) AS z
      |  FROM ev JOIN st USING (event_type))
      |SELECT event_type, event_id, k, round(z, 6) AS z
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY event_type ORDER BY abs(z) DESC, event_id) AS rn
      |      FROM z)
      |WHERE rn <= 5
      |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ev = Tables.eventsDense(s, d)
      .withColumn("k", get_json_object($"props", "$.k").cast("bigint"))
      .where($"k".isNotNull)
      .select($"event_id", $"event_type", $"k")
    val st = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("s"),
        sum($"k" * $"k").as("q"))
    val varNum = ($"n".cast(dec38) * $"q".cast(dec38) -
      $"s".cast(dec38) * $"s".cast(dec38)).cast("double")
    val z = (($"n" * $"k" - $"s").cast("double") /
      sqrt(varNum * $"n" / ($"n" - 1))).as("z")
    val shufN = s.sessionState.conf.numShufflePartitions
    val localRn = row_number().over(
      Window.partitionBy($"event_type", $"salt")
        .orderBy(abs($"z").desc, $"event_id"))
    val rn = row_number().over(
      Window.partitionBy($"event_type").orderBy(abs($"z").desc, $"event_id"))
    ev.join(broadcast(st), "event_type")
      .select($"event_id", $"event_type", $"k", z)
      .withColumn("salt", pmod(hash($"event_id"), lit(shufN)))
      .repartition(shufN, $"event_type", $"salt")
      .withColumn("lrn", localRn)
      .where($"lrn" <= 5)
      .withColumn("rn", rn)
      .where($"rn" <= 5)
      .select($"event_type", $"event_id", $"k", round($"z", 6).as("z"))
      .orderBy($"event_type", $"event_id")
  }

  /** Gaps-and-islands interval merge: every event opens a 5-minute
    * activity interval `[ts, ts+5m]`; overlapping or touching intervals
    * per user coalesce into islands (the classic interval-union shape —
    * log compaction, availability windows, outage merging). The
    * running-max-end formulation: an interval starts a new island iff
    * its start exceeds the max end seen so far in the key, then the
    * island id is the running sum of those flags. Interval math runs in
    * exact integer microseconds — no double time arithmetic to jitter
    * the overlap test cross-engine.
    *
    * Scale shape: both window passes AND the final group-by cluster on
    * `user_id` (the group key extends the window partition key), so the
    * whole operator is ONE shuffle + one per-key sort; islands never
    * materialize a self-join of intervals (the naive overlap-join is
    * quadratic per key and a non-starter at 100 TB). */
  val eventsMergeIntervals: CatalogEntry = CatalogEntry(
    "events_merge_intervals",
    s"""WITH iv AS (
       |  SELECT user_id, event_id,
       |    epoch_us(ts::TIMESTAMP) AS s_us,
       |    epoch_us(ts::TIMESTAMP) + 300000000 AS e_us
       |  FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN s_us > coalesce(max(e_us) OVER (
       |      PARTITION BY user_id ORDER BY s_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -9223372036854775808) THEN 1 ELSE 0 END AS new_island
       |  FROM iv),
       |islands AS (
       |  SELECT *, sum(new_island) OVER (
       |    PARTITION BY user_id ORDER BY s_us, event_id
       |    ROWS UNBOUNDED PRECEDING)::BIGINT AS island_id
       |  FROM flagged)
       |SELECT user_id, island_id,
       |  count(*)::BIGINT AS n_events,
       |  strftime(make_timestamp(min(s_us)), '$dfmt') AS island_start,
       |  strftime(make_timestamp(max(e_us)), '$dfmt') AS island_end
       |FROM islands GROUP BY user_id, island_id
       |ORDER BY user_id, island_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"s_us", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id",
        unix_micros($"ts").as("s_us"),
        (unix_micros($"ts") + 300000000L).as("e_us"))
      .withColumn("prev_max_end",
        max($"e_us").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when($"s_us" > coalesce($"prev_max_end", lit(Long.MinValue)), 1)
          .otherwise(0))
      .withColumn("island_id",
        sum($"new_island").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"island_id")
      .agg(count(lit(1)).as("n_events"),
        date_format(timestamp_micros(min($"s_us")), fmt).as("island_start"),
        date_format(timestamp_micros(max($"e_us")), fmt).as("island_end"))
      .orderBy($"user_id", $"island_id")
  }

  /** Fixed-width histogram: 20 bins of width 25 over `value ∈ [0, 500)`
    * per event type — the distribution-profiling shape every monitoring
    * dashboard runs. The bin index is one subtraction-free division +
    * floor on the raw double (identical IEEE steps both engines, so bin
    * boundaries can't flip cross-engine); the top bin clamps so an
    * out-of-range value can't invent a 21st bucket. Pure partial-agg
    * group-by: map-side combine reduces each partition to ≤ |types|×20
    * rows before the single exchange. */
  val eventsValueHistogram: CatalogEntry = CatalogEntry(
    "events_value_histogram",
    """SELECT event_type,
      |  least(floor(value / 25.0)::INT, 19) AS bin,
      |  (least(floor(value / 25.0)::INT, 19) * 25)::INT AS bin_lo,
      |  count(*)::BIGINT AS n,
      |  round(sum(value), 2) AS sum_value_r
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY event_type, bin""".stripMargin) { (s, d) =>
    import s.implicits._
    val bin = least(floor($"value" / 25.0).cast("int"), lit(19))
    Tables.events(s, d)
      .select($"event_type", bin.as("bin"), $"value")
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value_r"))
      .select($"event_type", $"bin", ($"bin" * 25).as("bin_lo"), $"n",
        $"sum_value_r")
      .orderBy($"event_type", $"bin")
  }

  /** SCD2 POINT-IN-TIME lookup — the composition the SCD2 dimension
    * exists for: every purchase fact is joined to the dimension VERSION
    * that was valid at its event time (not the current one — the
    * as-of-transaction-time attribution rule of warehouse fact loads).
    * Dimension = the change-suppressed value history per user (the
    * `scd2_from_history` pass, minus the closing lead which a
    * point-in-time lookup doesn't need); lookup = the custom
    * [[graft.operators.AsOfJoin]] on (user, valid_from ≤ ts), so the
    * whole composition is two key-clustered shuffles, never an
    * interval/inequality join. A purchase that IS the version-opening
    * event attributes to its own version (inclusive as-of). The oracle
    * replays the dimension build and DuckDB's native ASOF join — both
    * operators verified composed, not just alone. */
  val scd2PointInTime: CatalogEntry = CatalogEntry(
    "scd2_point_in_time",
    s"""WITH h AS (
       |  SELECT user_id, event_id, ts::TIMESTAMP AS tsx, value,
       |    lag(value) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS prev
       |  FROM events),
       |v AS (
       |  SELECT user_id, event_id AS version_id, tsx AS vfrom, value
       |  FROM h WHERE prev IS DISTINCT FROM value),
       |p AS (
       |  SELECT event_id, user_id, ts::TIMESTAMP AS tsx
       |  FROM events WHERE event_type = 'purchase')
       |SELECT p.event_id, p.user_id,
       |  strftime(p.tsx, '$dfmt') AS ts_s,
       |  v.version_id AS dim_version_id,
       |  strftime(v.vfrom, '$dfmt') AS dim_since,
       |  v.value AS dim_value
       |FROM p ASOF LEFT JOIN v
       |  ON p.user_id = v.user_id AND p.tsx >= v.vfrom
       |ORDER BY p.event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val versions = Tables.events(s, d)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("prev", lag($"value", 1).over(w))
      .where(!($"prev" <=> $"value"))
      .select($"user_id", $"event_id".as("version_id"),
        $"ts".as("vfrom"), $"value")
    val purchases = Tables.events(s, d)
      .where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    graft.operators.AsOfJoin.leftAsOf(
      probe = purchases, build = versions,
      probeKey = "user_id", buildKey = "user_id",
      probeTs = "ts", buildTs = "vfrom",
      payload = Seq("version_id", "vfrom", "value"), buildTie = "version_id")
      .select($"event_id", $"user_id",
        date_format($"ts", fmt).as("ts_s"),
        $"asof_version_id".as("dim_version_id"),
        date_format($"asof_vfrom", fmt).as("dim_since"),
        $"asof_value".as("dim_value"))
      .orderBy($"event_id")
  }

  /** Bitwise and boolean aggregate surface: `bit_and` / `bit_or` /
    * `bit_xor` (flag-mask folding, xor-checksums over id sets) and
    * `bool_and` / `bool_or` (per-group invariant checks). All five are
    * associative-commutative partial aggregates — map-side combine
    * collapses each partition before the one exchange, and the xor
    * checksum is order-independent by construction (exact cross-engine,
    * no float anywhere). */
  val eventsBitwiseAgg: CatalogEntry = CatalogEntry(
    "events_bitwise_agg",
    """SELECT event_type,
      |  bit_and(user_id)::BIGINT AS uid_and,
      |  bit_or(user_id)::BIGINT AS uid_or,
      |  bit_xor(event_id)::BIGINT AS eid_xor,
      |  bool_and(value > 0) AS all_pos,
      |  bool_or(value > 480) AS any_huge
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(bit_and($"user_id").as("uid_and"),
        bit_or($"user_id").as("uid_or"),
        bit_xor($"event_id").as("eid_xor"),
        bool_and($"value" > 0).as("all_pos"),
        bool_or($"value" > 480).as("any_huge"))
      .orderBy($"event_type")
  }

  /** DEAD-LETTER ROUTING — the production form of the reference's
    * silent `dropna` (transform.py:20): rows violating a validation
    * rule are ROUTED with the first-failing reason instead of dropped,
    * so the quarantine feed is auditable and replayable. Rules fire in
    * priority order (poison type > range floor > blocklist); rows
    * passing all rules are withheld from the quarantine feed — at
    * scale this is a scan-local `when` chain with no shuffle before
    * the determinism sort, and the clean side continues down the
    * pipeline unchanged (same plan shape as `drop_null`). */
  val eventsQuarantine: CatalogEntry = CatalogEntry(
    "events_quarantine",
    """SELECT event_id, event_type, value,
      |  CASE WHEN event_type = 'error' THEN 'poison_type'
      |       WHEN value < 5.0 THEN 'below_min_value'
      |       WHEN user_id % 97 = 0 THEN 'blocklisted_user'
      |  END AS reason
      |FROM events
      |WHERE event_type = 'error' OR value < 5.0 OR user_id % 97 = 0
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val reason = when($"event_type" === "error", "poison_type")
      .when($"value" < 5.0, "below_min_value")
      .when($"user_id" % 97 === 0, "blocklisted_user")
    Tables.events(s, d)
      .withColumn("reason", reason)
      .where($"reason".isNotNull)
      .select($"event_id", $"event_type", $"value", $"reason")
      .orderBy($"event_id")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences — the "what happens after X" table behind funnel
    * optimization and next-event prediction features. `lead` pairs
    * each event with its successor inside the user's timeline (total
    * order: µs-floored ts then event_id, so the µs-truncating Spark
    * reader and the ns-native oracle sequence identically), the pair
    * census aggregates exactly, and the row-normalized probability is
    * one correctly-rounded division of exact counts. Scale shape: ONE
    * shuffle on user_id serves the window; the |types|² census rides
    * map-side partial aggs. */
  val eventsTransitionMatrix: CatalogEntry = CatalogEntry(
    "events_transition_matrix",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts::TIMESTAMP, event_id) AS next_type
      |  FROM events),
      |cnt AS (
      |  SELECT event_type, next_type, count(*)::BIGINT AS n
      |  FROM seq WHERE next_type IS NOT NULL
      |  GROUP BY event_type, next_type)
      |SELECT event_type, next_type, n,
      |  round(n::DOUBLE / (sum(n) OVER (PARTITION BY event_type))::DOUBLE, 6)
      |    AS p
      |FROM cnt ORDER BY event_type, next_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val seqW = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val rowW = Window.partitionBy($"event_type")
    Tables.events(s, d)
      .select($"user_id", $"event_type",
        lead($"event_type", 1).over(seqW).as("next_type"))
      .where($"next_type".isNotNull)
      .groupBy($"event_type", $"next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round($"n".cast("double") /
        sum($"n").over(rowW).cast("double"), 6))
      .orderBy($"event_type", $"next_type")
  }

  /** Winsorization — clip values to the per-group [p05, p95] band and
    * report the clipped census: the standard outlier treatment before
    * any mean/variance-based feature is trusted (a fat-finger 1e9
    * otherwise owns the average). Two passes by necessity (quantiles,
    * then clip) but the first pass SHUFFLES ONLY the percentile
    * partials and its |groups|-row result broadcasts back — the data
    * is scanned twice, moved never. Float discipline: the clip bounds
    * are identical doubles in both engines (same interpolation on the
    * same sorted values — the `agg_percentiles` precedent), clipped
    * values are least/greatest of identical doubles, and the sum is
    * per-row quantized to 1e-4 BIGINTs before aggregation so partial
    * order can't flip the hash. */
  val eventsWinsorize: CatalogEntry = CatalogEntry(
    "events_winsorize",
    """WITH b AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      |  FROM events GROUP BY event_type),
      |c AS (
      |  SELECT e.event_type,
      |    least(greatest(e.value, b.lo), b.hi) AS v,
      |    CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END
      |      AS clipped
      |  FROM events e JOIN b USING (event_type))
      |SELECT event_type, count(*)::BIGINT AS n,
      |  sum(clipped)::BIGINT AS n_clipped,
      |  sum(round(v * 10000)::BIGINT)::BIGINT AS sum_e4,
      |  round(min(v), 4) AS lo_v, round(max(v), 4) AS hi_v
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
    import s.implicits._
    val bounds = Tables.events(s, d)
      .groupBy($"event_type")
      .agg(percentile($"value", lit(0.05)).as("lo"),
        percentile($"value", lit(0.95)).as("hi"))
    Tables.events(s, d)
      .join(broadcast(bounds), "event_type")
      .select($"event_type",
        least(greatest($"value", $"lo"), $"hi").as("v"),
        when($"value" < $"lo" || $"value" > $"hi", 1L).otherwise(0L)
          .as("clipped"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"clipped").as("n_clipped"),
        sum(round($"v" * 10000).cast("bigint")).as("sum_e4"),
        round(min($"v"), 4).as("lo_v"), round(max($"v"), 4).as("hi_v"))
      .orderBy($"event_type")
  }

  /** Linear interpolation of missing points in a time series — the
    * gap-fill step between resample and model input (ffill repeats the
    * stale value; interpolation splits the gap pro-rata). Holes are
    * punched deterministically (md5 of the series key) so the entry is
    * reproducible; the fill uses the nearest non-missing neighbor on
    * each side via IGNORE-NULLS window navigation — two windows per
    * series, no self-join, no explode. All arithmetic on exact BIGINT
    * cents with truncating integer division (Spark `div` and DuckDB
    * `//` both truncate toward zero — verified, incl. negatives), so
    * the interpolated values hash-match cross-engine. Edge rows with
    * no left (right) neighbor take the right (left) value. */
  val eventsInterpolate: CatalogEntry = CatalogEntry(
    "events_interpolate_linear",
    """WITH daily AS (
      |  SELECT event_type AS et, date_trunc('day', ts::TIMESTAMP)::DATE AS day,
      |         sum(round(value*100))::BIGINT AS cents
      |  FROM events GROUP BY 1, 2),
      |holey AS (
      |  SELECT et, day,
      |    CASE WHEN substring(md5(et || '|' || strftime(day, '%Y-%m-%d')),
      |                        1, 1) < '4'
      |         THEN NULL ELSE cents END AS cents
      |  FROM daily),
      |nbr AS (
      |  SELECT et, day, cents,
      |    last_value(cents IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN cents IS NOT NULL THEN day END
      |               IGNORE NULLS) OVER wp AS pd,
      |    first_value(cents IGNORE NULLS) OVER wf AS nv,
      |    first_value(CASE WHEN cents IS NOT NULL THEN day END
      |                IGNORE NULLS) OVER wf AS nd
      |  FROM holey
      |  WINDOW wp AS (PARTITION BY et ORDER BY day
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY et ORDER BY day
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT et, strftime(day, '%Y-%m-%d') AS day,
      |  (cents IS NULL) AS was_missing,
      |  CASE WHEN cents IS NOT NULL THEN cents
      |       WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       ELSE pv + ((nv - pv) * (day - pd)) // (nd - pd) END
      |    AS cents_filled
      |FROM nbr ORDER BY et, day""".stripMargin) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type".as("et"),
        to_date(date_trunc("day", $"ts")).as("day"))
      .agg(sum(round($"value" * 100)).cast("bigint").as("cents"))
    val holey = daily.withColumn("cents",
      when(substring(md5(concat($"et", lit("|"),
        date_format($"day", "yyyy-MM-dd"))), 1, 1) < "4", lit(null))
        .otherwise($"cents"))
    val wp = Window.partitionBy($"et").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy($"et").orderBy($"day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    holey
      .withColumn("pv", last($"cents", ignoreNulls = true).over(wp))
      .withColumn("pd", last(when($"cents".isNotNull, $"day"),
        ignoreNulls = true).over(wp))
      .withColumn("nv", first($"cents", ignoreNulls = true).over(wf))
      .withColumn("nd", first(when($"cents".isNotNull, $"day"),
        ignoreNulls = true).over(wf))
      .select($"et", date_format($"day", "yyyy-MM-dd").as("day"),
        $"cents".isNull.as("was_missing"),
        when($"cents".isNotNull, $"cents")
          .when($"pv".isNull, $"nv")
          .when($"nv".isNull, $"pv")
          .otherwise($"pv" + expr(
            "((nv - pv) * datediff(day, pd)) div datediff(nd, pd)"))
          .as("cents_filled"))
      .orderBy($"et", $"day")
  }

  /** Running distinct-user census by day: actives, first-timers, the
    * cumulative unique count, and returning users. The trick is that
    * "cumulative distinct" needs NO stateful distinct-over-time scan:
    * min(first-seen day) per user collapses the fact table once, and
    * the cumulative count is a cumsum over per-day new-user totals.
    * Shape: two group-bys on (user) and (day) — both map-side partial
    * — then one window over the DAY axis only (|days| rows, trivially
    * single-partition no matter the corpus size; the fact table never
    * enters a window). */
  val eventsCumulativeUniques: CatalogEntry = CatalogEntry(
    "events_cumulative_uniques",
    """WITH fs AS (
      |  SELECT user_id, min(date_trunc('day', ts::TIMESTAMP)::DATE) AS first_day
      |  FROM events GROUP BY 1),
      |act AS (
      |  SELECT date_trunc('day', ts::TIMESTAMP)::DATE AS day,
      |         count(DISTINCT user_id)::BIGINT AS active_users
      |  FROM events GROUP BY 1),
      |nu AS (SELECT first_day AS day, count(*)::BIGINT AS new_users
      |       FROM fs GROUP BY 1)
      |SELECT strftime(a.day, '%Y-%m-%d') AS day, a.active_users,
      |  coalesce(n.new_users, 0)::BIGINT AS new_users,
      |  sum(coalesce(n.new_users, 0)) OVER (ORDER BY a.day
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_unique_users,
      |  (a.active_users - coalesce(n.new_users, 0))::BIGINT
      |    AS returning_users
      |FROM act a LEFT JOIN nu n ON n.day = a.day
      |ORDER BY a.day""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("day"))
    val firstSeen = ev.groupBy($"user_id").agg(min($"day").as("first_day"))
    val active = ev.groupBy($"day")
      .agg(countDistinct($"user_id").as("active_users"))
    val newUsers = firstSeen.groupBy($"first_day".as("nday"))
      .agg(count(lit(1)).as("new_users"))
    val cum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(newUsers, $"day" === $"nday", "left")
      .withColumn("new_users", coalesce($"new_users", lit(0L)))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"active_users", $"new_users",
        sum($"new_users").over(cum).as("cum_unique_users"),
        ($"active_users" - $"new_users").as("returning_users"))
      .orderBy($"day")
  }

  /** Rolling 7-day Pearson correlation between two series (daily click
    * vs view revenue) — computed from EXACT INTEGER MOMENTS, the same
    * discipline as `agg_regr_fit`: every windowed sum (Sx, Sy, Sxx,
    * Syy, Sxy) is a BIGINT over cent values (largest ≈ 1.8e14 at
    * sf0.1, well under 2⁵³), so the only float ops are two
    * correctly-rounded IEEE sqrts and one division — bit-identical
    * cross-engine, unlike `corr()` whose per-engine summation order
    * differs. Degenerate windows (< 7 rows, zero variance) → NULL.
    * Shape: the fact table collapses to |days| rows FIRST; the five
    * moment sums ride ONE window pass over that day axis. */
  val eventsRollingCorr: CatalogEntry = CatalogEntry(
    "events_rolling_corr",
    """WITH daily AS (
      |  SELECT date_trunc('day', ts::TIMESTAMP)::DATE AS day,
      |    sum(CASE WHEN event_type='click' THEN round(value*100)
      |             ELSE 0 END)::BIGINT AS cx,
      |    sum(CASE WHEN event_type='view' THEN round(value*100)
      |             ELSE 0 END)::BIGINT AS cy
      |  FROM events GROUP BY 1),
      |roll AS (
      |  SELECT day,
      |    count(*) OVER w AS n,
      |    sum(cx) OVER w AS sx, sum(cy) OVER w AS sy,
      |    sum(cx*cx) OVER w AS sxx, sum(cy*cy) OVER w AS syy,
      |    sum(cx*cy) OVER w AS sxy
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CASE WHEN n < 7 OR (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0
      |       THEN NULL
      |       ELSE round((n*sxy - sx*sy) /
      |            (sqrt((n*sxx - sx*sx)::DOUBLE) *
      |             sqrt((n*syy - sy*sy)::DOUBLE)), 6)
      |  END AS corr7
      |FROM roll ORDER BY day""".stripMargin) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
      .agg(
        sum(when($"event_type" === "click", round($"value" * 100))
          .otherwise(0)).cast("bigint").as("cx"),
        sum(when($"event_type" === "view", round($"value" * 100))
          .otherwise(0)).cast("bigint").as("cy"))
    val w = Window.orderBy($"day").rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum($"cx").over(w))
      .withColumn("sy", sum($"cy").over(w))
      .withColumn("sxx", sum($"cx" * $"cx").over(w))
      .withColumn("syy", sum($"cy" * $"cy").over(w))
      .withColumn("sxy", sum($"cx" * $"cy").over(w))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        when($"n" < 7 ||
          ($"n" * $"sxx" - $"sx" * $"sx") === 0 ||
          ($"n" * $"syy" - $"sy" * $"sy") === 0, lit(null))
          .otherwise(round(
            ($"n" * $"sxy" - $"sx" * $"sy") /
              (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
                sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))), 6))
          .as("corr7"))
      .orderBy($"day")
  }

  /** Inter-arrival-time histogram in decade buckets — the latency/
    * cadence profile (bot-vs-human detection, SLA monitoring) of an
    * event stream. Deltas are exact epoch-microsecond BIGINTs bucketed
    * by an integer CASE chain (no float log — `floor(log10)` flips at
    * exact powers cross-engine); per-user windows partition naturally;
    * the census is a map-side-combinable count with share in exact
    * ppm. */
  val eventsInterarrival: CatalogEntry = CatalogEntry(
    "events_interarrival_histogram",
    """WITH deltas AS (
      |  SELECT epoch_us(ts::TIMESTAMP) -
      |    lag(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id
      |      ORDER BY ts::TIMESTAMP, event_id) AS dus
      |  FROM events),
      |b AS (
      |  SELECT CASE
      |    WHEN dus < 1000 THEN '0_lt_1ms'
      |    WHEN dus < 10000 THEN '1_1ms_10ms'
      |    WHEN dus < 100000 THEN '2_10ms_100ms'
      |    WHEN dus < 1000000 THEN '3_100ms_1s'
      |    WHEN dus < 10000000 THEN '4_1s_10s'
      |    WHEN dus < 100000000 THEN '5_10s_100s'
      |    ELSE '6_ge_100s' END AS bucket
      |  FROM deltas WHERE dus IS NOT NULL),
      |tot AS (SELECT count(*)::BIGINT AS t FROM b)
      |SELECT bucket, count(*)::BIGINT AS n,
      |  (count(*) * 1000000 // (SELECT t FROM tot))::BIGINT AS share_ppm
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val deltas = Tables.events(s, d)
      .withColumn("dus",
        unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
      .where($"dus".isNotNull)
      .select(
        when($"dus" < 1000L, "0_lt_1ms")
          .when($"dus" < 10000L, "1_1ms_10ms")
          .when($"dus" < 100000L, "2_10ms_100ms")
          .when($"dus" < 1000000L, "3_100ms_1s")
          .when($"dus" < 10000000L, "4_1s_10s")
          .when($"dus" < 100000000L, "5_10s_100s")
          .otherwise("6_ge_100s").as("bucket"))
    val tot = deltas.agg(count(lit(1)).as("t"))
    deltas.groupBy($"bucket").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select($"bucket", $"n",
        expr("(n * 1000000) div t").as("share_ppm"))
      .orderBy($"bucket")
  }

  /** RSI-14 (relative strength index), the classic rate-momentum
    * indicator: share of the last 14 one-step moves that were gains,
    * delta-weighted. Pure exact-integer pipeline — deltas in cents via
    * `lag`, gain/loss sums over a 14-row frame, RSI as gain/(gain+loss)
    * in ppm by integer division (the textbook 100−100/(1+RS) form is
    * algebraically this ratio; stating it as one division keeps every
    * intermediate an integer). Both window passes share one (type)
    * partitioning, so the plan is a single shuffle + sort feeding two
    * chained WindowExecs; rows without a full 14-delta history (or with
    * a degenerate all-flat frame) are excluded deterministically. */
  val eventsRsi: CatalogEntry = CatalogEntry(
    "events_rsi_ppm",
    """WITH d AS (
      |  SELECT event_id, event_type, ts::TIMESTAMP AS tsx,
      |    round(value*100)::BIGINT
      |      - lag(round(value*100)::BIGINT) OVER w AS delta
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts::TIMESTAMP, event_id)),
      |g AS (
      |  SELECT event_id,
      |    sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w14 AS gain,
      |    sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w14 AS loss,
      |    count(delta) OVER w14 AS nd
      |  FROM d WINDOW w14 AS (PARTITION BY event_type ORDER BY tsx, event_id
      |                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_id, (gain * 1000000 // (gain + loss))::BIGINT AS rsi_ppm
      |FROM g WHERE nd = 14 AND gain + loss > 0
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
    val w14 = wOrd.rowsBetween(-13, 0)
    Tables.events(s, d)
      .select($"event_id", $"event_type", $"ts",
        round($"value" * 100).cast("long").as("cents"))
      .withColumn("delta", $"cents" - lag($"cents", 1).over(wOrd))
      .withColumn("gain",
        sum(when($"delta" > 0, $"delta").otherwise(0L)).over(w14))
      .withColumn("loss",
        sum(when($"delta" < 0, -$"delta").otherwise(0L)).over(w14))
      .withColumn("nd", count($"delta").over(w14))
      .where($"nd" === 14 && ($"gain" + $"loss") > 0)
      .select($"event_id",
        expr("(gain * 1000000) div (gain + loss)").as("rsi_ppm"))
      .orderBy($"event_id")
  }

  /** Bollinger-band excursion flags (20-row mean ± 2σ) with the sqrt
    * eliminated: x outside μ±2σ ⇔ (n·x−Σx)² > 4·(n·Σx²−(Σx)²), so the
    * flag is an exact BIGINT comparison no float can flip — the same
    * squared-compare trick the z-score entries can't use when they must
    * EMIT the score. One 20-row frame computes (Σx, Σx², n) in a single
    * WindowExec; warm-up rows (n<20) are excluded. */
  val eventsBollinger: CatalogEntry = CatalogEntry(
    "events_bollinger_flags",
    """WITH c AS (SELECT event_id, event_type, ts::TIMESTAMP AS tsx,
      |                  round(value*100)::BIGINT AS x FROM events),
      |m AS (SELECT event_id, x,
      |        sum(x) OVER w AS sx, sum(x*x) OVER w AS sxx,
      |        count(*) OVER w AS n
      |      FROM c WINDOW w AS (PARTITION BY event_type
      |                          ORDER BY tsx, event_id
      |                          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT event_id,
      |  (CASE WHEN n*x - sx > 0 AND (n*x - sx)*(n*x - sx) > 4*(n*sxx - sx*sx)
      |        THEN 1 ELSE 0 END)::BIGINT AS above_band,
      |  (CASE WHEN n*x - sx < 0 AND (n*x - sx)*(n*x - sx) > 4*(n*sxx - sx*sx)
      |        THEN 1 ELSE 0 END)::BIGINT AS below_band
      |FROM m WHERE n = 20 ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val w20 = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      .rowsBetween(-19, 0)
    val dev = $"n" * $"x" - $"sx"
    val var4 = lit(4L) * ($"n" * $"sxx" - $"sx" * $"sx")
    Tables.events(s, d)
      .select($"event_id", $"event_type", $"ts",
        round($"value" * 100).cast("long").as("x"))
      .withColumn("sx", sum($"x").over(w20))
      .withColumn("sxx", sum($"x" * $"x").over(w20))
      .withColumn("n", count(lit(1)).over(w20))
      .where($"n" === 20)
      .select($"event_id",
        when(dev > 0 && dev * dev > var4, 1L).otherwise(0L).as("above_band"),
        when(dev < 0 && dev * dev > var4, 1L).otherwise(0L).as("below_band"))
      .orderBy($"event_id")
  }

  /** Maximum drawdown per series: the largest peak-to-trough drop of
    * the running maximum — THE risk summary for a rate feed. One
    * unbounded-preceding running max per (type) partition (linear
    * single pass after the window sort), then a 5-group aggregate;
    * everything in exact cents. */
  val eventsMaxDrawdown: CatalogEntry = CatalogEntry(
    "events_max_drawdown",
    """WITH c AS (SELECT event_type, ts::TIMESTAMP AS tsx, event_id,
      |                  round(value*100)::BIGINT AS x FROM events),
      |r AS (SELECT event_type, max(x) OVER w - x AS dd
      |      FROM c WINDOW w AS (PARTITION BY event_type
      |                          ORDER BY tsx, event_id
      |                          ROWS UNBOUNDED PRECEDING))
      |SELECT event_type, max(dd)::BIGINT AS max_drawdown_cents,
      |       count(*)::BIGINT AS n
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .select($"event_type", $"ts", $"event_id",
        round($"value" * 100).cast("long").as("x"))
      .select($"event_type", (max($"x").over(w) - $"x").as("dd"))
      .groupBy($"event_type")
      .agg(max($"dd").as("max_drawdown_cents"), count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** EMA-16 as EXACT rational arithmetic: the exponential moving
    * average's float recursion y←αx+(1−α)y is order-dependent and
    * unreproducible across engines; truncating at 16 taps makes every
    * weight the exact integer 7^k·8^(15−k) (α=1/8), the normalizer the
    * closed-form 8^16−7^16, and the whole indicator one integer dot
    * product — bit-identical on any engine, any partitioning. The 16
    * lag taps share one window sort (one shuffle); products widen to
    * DECIMAL(38,0) (a BIGINT accumulator overflows at Σw·x ≈ 1.4e19);
    * output in milli-cents by integer division. */
  val eventsEma16: CatalogEntry = {
    val weights = (0 until 16).map(k => BigInt(7).pow(k) * BigInt(8).pow(15 - k))
    val denom = BigInt(8).pow(16) - BigInt(7).pow(16)
    val oracleTerms = weights.zipWithIndex
      .map { case (w, k) => s"($w::HUGEINT * lag(x, $k) OVER w)" }
      .mkString(" + ")
    CatalogEntry(
      "events_ema16",
      s"""WITH c AS (SELECT event_id, event_type, ts::TIMESTAMP AS tsx,
        |                  round(value*100)::BIGINT AS x FROM events),
        |m AS (SELECT event_id, ($oracleTerms) AS num,
        |        count(*) OVER (PARTITION BY event_type
        |                       ORDER BY tsx, event_id
        |                       ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS n
        |      FROM c WINDOW w AS (PARTITION BY event_type
        |                          ORDER BY tsx, event_id))
        |SELECT event_id, (num * 1000 // $denom)::BIGINT AS ema_milli_cents
        |FROM m WHERE n = 16 ORDER BY event_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val wOrd = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      val num = weights.zipWithIndex.map { case (w, k) =>
        lit(w.toLong).cast("decimal(20,0)") * lag($"x", k).over(wOrd)
      }.reduce(_ + _)
      Tables.events(s, d)
        .select($"event_id", $"event_type", $"ts",
          round($"value" * 100).cast("long").as("x"))
        .withColumn("num", num)
        .withColumn("n", count(lit(1)).over(wOrd.rowsBetween(-15, 0)))
        .where($"n" === 16)
        .select($"event_id",
          expr(s"CAST(num * 1000 AS DECIMAL(38,0)) div " +
            s"CAST(${denom.toString} AS DECIMAL(38,0))")
            .as("ema_milli_cents"))
        .orderBy($"event_id")
    }
  }

  /** DAILY OHLC CANDLES per series — the standard market-data
    * downsample (open/high/low/close + activity count per day) plus
    * the close-over-close return in exact ppm: the summary bar every
    * rate dashboard draws and the input shape for any candlestick
    * indicator. Open/close are the values at the (ts, event_id)
    * endpoints — ties impossible since event_id is unique — and all
    * prices stay in exact integer cents; the return divides with the
    * `scalar_pct_change` zero-guard (truncating division, identical
    * on negative moves in both engines).
    *
    * Scale shape: the two endpoint row_numbers and the (type, day)
    * candle aggregate share ONE (type, day) hash partitioning — a
    * single corpus exchange; the return lag runs over the tiny candle
    * table (|types|·|days| rows) on a second metadata-scale exchange. */
  val eventsOhlcCandles: CatalogEntry = CatalogEntry(
    "events_ohlc_candles",
    """WITH c AS (SELECT event_type, ts::TIMESTAMP AS tsx, event_id,
      |                  round(value*100)::BIGINT AS x FROM events),
      |r AS (SELECT event_type, tsx::DATE AS day, x,
      |        row_number() OVER (PARTITION BY event_type, tsx::DATE
      |                           ORDER BY tsx, event_id) AS rn_a,
      |        row_number() OVER (PARTITION BY event_type, tsx::DATE
      |                           ORDER BY tsx DESC, event_id DESC) AS rn_d
      |      FROM c),
      |candle AS (
      |  SELECT event_type, day,
      |    max(CASE WHEN rn_a = 1 THEN x END) AS open_cents,
      |    max(x) AS high_cents, min(x) AS low_cents,
      |    max(CASE WHEN rn_d = 1 THEN x END) AS close_cents,
      |    count(*)::BIGINT AS n_events
      |  FROM r GROUP BY event_type, day)
      |SELECT event_type, day::VARCHAR AS day,
      |  open_cents, high_cents, low_cents, close_cents, n_events,
      |  CASE WHEN lag(close_cents) OVER w IS NOT NULL
      |        AND lag(close_cents) OVER w != 0
      |       THEN (1000000 * (close_cents - lag(close_cents) OVER w))
      |            // lag(close_cents) OVER w END AS ret_ppm
      |FROM candle
      |WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |ORDER BY event_type, day""".stripMargin) { (s, d) =>
    import s.implicits._
    val wA = Window.partitionBy($"event_type", $"day")
      .orderBy($"ts", $"event_id")
    val wD = Window.partitionBy($"event_type", $"day")
      .orderBy($"ts".desc, $"event_id".desc)
    val candle = Tables.events(s, d)
      .select($"event_type", $"ts", $"event_id",
        to_date($"ts").as("day"),
        round($"value" * 100).cast("long").as("x"))
      .withColumn("rn_a", row_number().over(wA))
      .withColumn("rn_d", row_number().over(wD))
      .groupBy($"event_type", $"day")
      .agg(max(when($"rn_a" === 1, $"x")).as("open_cents"),
        max($"x").as("high_cents"), min($"x").as("low_cents"),
        max(when($"rn_d" === 1, $"x")).as("close_cents"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    candle.withColumn("prev", lag($"close_cents", 1).over(w))
      .select($"event_type", $"day".cast("string").as("day"),
        $"open_cents", $"high_cents", $"low_cents", $"close_cents",
        $"n_events",
        when($"prev".isNotNull && $"prev" =!= 0L,
          expr("(1000000L * (close_cents - prev)) div prev"))
          .as("ret_ppm"))
      .orderBy($"event_type", $"day")
  }

  // ---- shared Holt-recursion builders ------------------------------------
  // One definition of the daily downsample and the α=1/4, β=1/2 integer
  // recursion, used by events_holt_forecast, events_holt_backtest AND
  // events_acf_lags, so the backtest always evaluates exactly the model
  // the forecast ships (a smoothing-constant or downsample change here
  // moves all of them together).

  /** Daily-close CTEs (c/dcl): cents + latest event per (type, day). */
  private def dailyCloseCtesSql: String =
    """c AS (
      |  SELECT event_type, ts::TIMESTAMP AS tsx, event_id,
      |         round(value*100)::BIGINT AS x FROM events),
      |dcl AS (SELECT event_type, tsx::DATE AS day, x,
      |         row_number() OVER (PARTITION BY event_type, tsx::DATE
      |                            ORDER BY tsx DESC, event_id DESC) AS rn
      |        FROM c)""".stripMargin

  /** Per-type day-ordered close list CTE (arr) over [[dailyCloseCtesSql]]. */
  private def holtArrSql: String =
    """arr AS (SELECT event_type,
      |          list(struct_pack(day := day, x := x) ORDER BY day) AS ds
      |        FROM dcl WHERE rn = 1 GROUP BY event_type)""".stripMargin

  /** The Holt recursion CTE (i, m, l, b) over arr — every intermediate
    * state materialized. */
  private def holtRecSql: String =
    """rec(event_type, i, m, l, b) AS (
      |  SELECT event_type, 0, len(ds), 0::BIGINT, 0::BIGINT FROM arr
      |  UNION ALL
      |  SELECT r.event_type, r.i + 1, r.m,
      |    CASE WHEN r.i = 0 THEN a.ds[r.i + 1].x
      |         ELSE (a.ds[r.i + 1].x + 3 * (r.l + r.b)) // 4 END,
      |    CASE WHEN r.i = 0 THEN 0::BIGINT
      |         ELSE (((a.ds[r.i + 1].x + 3 * (r.l + r.b)) // 4)
      |               - r.l + r.b) // 2 END
      |  FROM rec r JOIN arr a USING (event_type) WHERE r.i < r.m)"""
      .stripMargin

  /** Spark Holt step arithmetic — the same fragments feed the
    * forecast's O(1)-state fold and the backtest's windowed fold. */
  private def holtStepL(x: String, l: String, b: String): String =
    s"($x + 3L * ($l + $b)) div 4L"
  private def holtStepB(l1: String, l: String, b: String): String =
    s"(($l1) - $l + $b) div 2L"

  /** Spark daily closes (event_type, day, x) — latest event per
    * (type, day), the [[dailyCloseCtesSql]] replay. */
  private def dailyCloses(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type", $"day")
      .orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, d)
      .select($"event_type", $"ts", $"event_id",
        to_date($"ts").as("day"),
        round($"value" * 100).cast("long").as("x"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"event_type", $"day", $"x")
  }

  /** HOLT LINEAR-TREND FORECAST per series (double exponential
    * smoothing, Holt 1957 — the level+trend upgrade over the EMA's
    * level-only smoothing, and the standard short-horizon rate
    * forecast): over each type's DAILY CLOSES (last value per day,
    * ties to the latest event_id), the coupled recursion
    * l←αx+(1−α)(l+b), b←β(l−l_prev)+(1−β)b with α=1/4, β=1/2 runs in
    * exact integer cents — each step is two truncating integer
    * divisions, `(x + 3(l+b)) div 4` and `(Δl + b) div 2`, which both
    * engines replay step-for-step (Spark `div` and DuckDB `//` both
    * truncate toward zero, negative trends included), so the forecast
    * is bit-stable where a float recursion is order-brittle. Emits
    * the final level/trend and the h = 1..3 day-ahead forecasts
    * l + h·b.
    *
    * Scale shape: the daily-close downsample is one windowed
    * row_number over (type, day) — the only pass over the raw events;
    * the recursion then runs over ≤ days-per-type rows as a row-local
    * `aggregate` HOF fold per type after ONE shuffle of the tiny
    * daily series (the pack_sequences fold pattern with O(1) state —
    * level and trend only, no accumulator array). At 100 TB the fold
    * length is the CALENDAR, not the data: a century of daily closes
    * is 36k steps per series regardless of raw event volume. */
  val eventsHoltForecast: CatalogEntry = CatalogEntry(
    "events_holt_forecast",
    s"""WITH RECURSIVE $dailyCloseCtesSql,
      |$holtArrSql,
      |$holtRecSql
      |SELECT r.event_type, r.m::BIGINT AS n_days, r.l AS level_cents,
      |  r.b AS trend_cents, (r.l + r.b)::BIGINT AS f1_cents,
      |  (r.l + 2 * r.b)::BIGINT AS f2_cents,
      |  (r.l + 3 * r.b)::BIGINT AS f3_cents
      |FROM rec r WHERE r.i = r.m ORDER BY event_type""".stripMargin) {
    (s, d) =>
      import s.implicits._
      val l1 = holtStepL("e.x", "st.l", "st.b")
      dailyCloses(s, d).groupBy($"event_type")
        .agg(sort_array(collect_list(struct($"day", $"x"))).as("ds"))
        .withColumn("st", expr(
          s"""aggregate(ds,
            |  named_struct('n', 0L, 'l', 0L, 'b', 0L),
            |  (st, e) -> CASE WHEN st.n = 0L
            |    THEN named_struct('n', 1L, 'l', e.x, 'b', 0L)
            |    ELSE named_struct('n', st.n + 1L,
            |      'l', $l1,
            |      'b', ${holtStepB(l1, "st.l", "st.b")}) END)""".stripMargin))
        .select($"event_type", $"st.n".as("n_days"),
          $"st.l".as("level_cents"), $"st.b".as("trend_cents"),
          ($"st.l" + $"st.b").as("f1_cents"),
          ($"st.l" + lit(2L) * $"st.b").as("f2_cents"),
          ($"st.l" + lit(3L) * $"st.b").as("f3_cents"))
        .orderBy($"event_type")
  }

  /** DAY-OF-WEEK SEASONALITY census per series — the "is Monday
    * different" measurement behind calendar-aware forecasting and
    * anomaly baselines: per (type, weekday) the exact mean in
    * milli-cents and its ratio to the type's overall mean in ppm.
    * The weekday index is pure epoch-day arithmetic,
    * `(days_since_epoch + 4) mod 7` with 0 = Sunday — dayofweek()
    * builtins disagree across engines (Spark 1-7 Sunday-first, DuckDB
    * 0-6), integer arithmetic cannot.
    *
    * Scale shape: ONE (type, dow) partial-agg exchange over the
    * corpus; type totals re-aggregate the 35-cell table. */
  val eventsSeasonalityDow: CatalogEntry = CatalogEntry(
    "events_seasonality_dow",
    """WITH c AS (SELECT event_type, ts::TIMESTAMP AS tsx,
      |                  round(value*100)::BIGINT AS x FROM events),
      |d AS (SELECT event_type,
      |        ((tsx::DATE - DATE '1970-01-01') + 4) % 7 AS dow, x FROM c),
      |cell AS (SELECT event_type, dow, count(*)::BIGINT AS n,
      |           sum(x)::BIGINT AS sx
      |         FROM d GROUP BY event_type, dow),
      |tot AS (SELECT event_type, sum(n)::BIGINT AS tn,
      |          sum(sx)::BIGINT AS tsum
      |        FROM cell GROUP BY event_type)
      |SELECT cell.event_type, cell.dow::BIGINT AS dow, cell.n,
      |  ((1000 * cell.sx) // cell.n)::BIGINT AS mean_millicents,
      |  CASE WHEN ((1000 * t.tsum) // t.tn) != 0 THEN
      |    ((1000000::HUGEINT * ((1000 * cell.sx) // cell.n))
      |     // ((1000 * t.tsum) // t.tn))::BIGINT END AS vs_type_mean_ppm
      |FROM cell JOIN tot t ON cell.event_type = t.event_type
      |ORDER BY cell.event_type, dow""".stripMargin) { (s, d) =>
    import s.implicits._
    val cell = Tables.events(s, d)
      .select($"event_type",
        ((datediff(to_date($"ts"), lit("1970-01-01").cast("date")) + 4) % 7)
          .as("dow"),
        round($"value" * 100).cast("long").as("x"))
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    val tot = cell.groupBy($"event_type")
      .agg(sum($"n").as("tn"), sum($"sx").as("tsum"))
    // type-mean zero-guard (r17 ADVICE): a series whose truncated mean
    // is 0 would divide by zero — DuckDB `//` raises where Spark yields
    // NULL/errors by ANSI mode, so BOTH sides guard to NULL explicitly
    // (the scalar_pct_change / ret_ppm discipline)
    cell.join(tot, "event_type")
      .select($"event_type", $"dow".cast("long").as("dow"), $"n",
        expr("(1000L * sx) div n").as("mean_millicents"),
        expr("""CASE WHEN (1000L * tsum) div tn != 0 THEN
          |  (cast(1000000 as decimal(38,0)) * ((1000L * sx) div n))
          |  div ((1000L * tsum) div tn) END""".stripMargin)
          .cast("long").as("vs_type_mean_ppm"))
      .orderBy($"event_type", $"dow")
  }

  /** AUTOCORRELATION of the daily closes at lags 1-5 per series — the
    * diagnostic that says whether [[eventsHoltForecast]] has anything
    * to extrapolate (near-zero ACF = the backtest's "don't trust the
    * trend" verdict, quantified): the classic r_k with every term on
    * the integer lattice — values centered as n·x − Σx (the CUSUM
    * rescaling, identical argmax/ratio), products and sums in
    * DECIMAL(38,0)/HUGEINT, one truncating division to ppm.
    *
    * Scale shape: one windowed daily downsample over the raw events;
    * centered terms, the lag-5 expansion, and the self-join all live
    * on the |types|·|days| daily table — metadata-scale; the lag join
    * is an equi-join on (type, i + lag). */
  val eventsAcfLags: CatalogEntry = CatalogEntry(
    "events_acf_lags",
    s"""WITH $dailyCloseCtesSql,
      |s AS (SELECT event_type, day, x,
      |        row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      |      FROM dcl WHERE rn = 1),
      |m AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
      |      FROM s GROUP BY event_type),
      |ctr AS (SELECT s.event_type, s.i, (m.n * s.x - m.sx)::HUGEINT AS cx
      |        FROM s JOIN m ON s.event_type = m.event_type),
      |den AS (SELECT event_type, sum(cx * cx)::HUGEINT AS d2
      |        FROM ctr GROUP BY event_type),
      |lagged AS (
      |  SELECT a.event_type, l.lag, sum(a.cx * b.cx)::HUGEINT AS num
      |  FROM ctr a
      |  JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS lag) l ON true
      |  JOIN ctr b ON b.event_type = a.event_type AND b.i = a.i + l.lag
      |  GROUP BY a.event_type, l.lag)
      |SELECT lg.event_type, lg.lag::BIGINT AS lag,
      |  ((1000000::HUGEINT * lg.num) // den.d2)::BIGINT AS acf_ppm
      |FROM lagged lg JOIN den ON lg.event_type = den.event_type
      |ORDER BY lg.event_type, lag""".stripMargin) { (s, d) =>
    import s.implicits._
    val daily = dailyCloses(s, d)
      .withColumn("i", row_number().over(
        Window.partitionBy($"event_type").orderBy($"day")))
    val m = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    val ctr = daily.join(m, "event_type")
      .select($"event_type", $"i",
        ($"n" * $"x" - $"sx").cast("decimal(38,0)").as("cx"))
    val den = ctr.groupBy($"event_type")
      .agg(sum($"cx" * $"cx").as("d2"))
    val lagged = ctr
      .select($"event_type", $"i", $"cx",
        explode(array((1 to 5).map(lit): _*)).as("lag"))
      .as("a")
      .join(ctr.select($"event_type".as("bt"), $"i".as("bi"),
          $"cx".as("bcx")),
        $"event_type" === $"bt" && $"bi" === $"i" + $"lag")
      .groupBy($"event_type", $"lag")
      .agg(sum($"cx" * $"bcx").as("num"))
    lagged.join(den, "event_type")
      .select($"event_type", $"lag".cast("long").as("lag"),
        expr("(cast(1000000 as decimal(38,0)) * num) div d2")
          .cast("long").as("acf_ppm"))
      .orderBy($"event_type", $"lag")
  }

  /** THEIL-SEN ROBUST TREND + MANN-KENDALL TEST per series — the
    * outlier-proof answer to "is this series drifting, and how fast"
    * that complements [[eventsHoltForecast]] (Holt smooths INTO
    * spikes; the median-of-pairwise-slopes estimator has a 29%
    * breakdown point, and Kendall's S counts concordant minus
    * discordant day pairs — a single corrupted close can't flip
    * either). Slopes live on the integer lattice: milli-cents/day by
    * one truncating division per pair; the median is emitted DOUBLED
    * (sum of the two middle order statistics — the low middle twice
    * when the pair count is odd) so no half ever needs a float; the
    * `trend` verdict is sign(S).
    *
    * Scale shape: the pair table is |days-per-series|² on the DAILY
    * downsample — metadata-scale, the [[eventsAcfLags]] adjudication
    * (a decade of closes = ~13M pairs per series, one partial-agg
    * exchange) — built by a per-type equi-join, never a cartesian;
    * the median picks two ranks from a per-type window over the
    * pair rows. */
  val eventsTheilSen: CatalogEntry = CatalogEntry(
    "events_theil_sen",
    s"""WITH $dailyCloseCtesSql,
      |s AS (SELECT event_type, (day - DATE '1970-01-01')::BIGINT AS t, x
      |      FROM dcl WHERE rn = 1),
      |pr AS (SELECT a.event_type,
      |         (1000 * (b.x - a.x)) // (b.t - a.t) AS slope_milli,
      |         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
      |              ELSE 0 END AS sg
      |       FROM s a JOIN s b
      |         ON a.event_type = b.event_type AND b.t > a.t),
      |r AS (SELECT event_type, slope_milli,
      |        row_number() OVER (PARTITION BY event_type
      |                           ORDER BY slope_milli) AS rnk,
      |        count(*) OVER (PARTITION BY event_type) AS m
      |      FROM pr),
      |mk AS (SELECT event_type, count(*)::BIGINT AS n_pairs,
      |         sum(sg)::BIGINT AS mk_s FROM pr GROUP BY event_type),
      |med AS (SELECT event_type,
      |          (coalesce(sum(slope_milli) FILTER (rnk = (m + 1) // 2), 0)
      |           + coalesce(sum(slope_milli) FILTER (rnk = m // 2 + 1),
      |                      0))::BIGINT AS slope_med_milli_x2
      |        FROM r GROUP BY event_type),
      |nd AS (SELECT event_type, count(*)::BIGINT AS n_days
      |       FROM s GROUP BY event_type)
      |SELECT n.event_type, n.n_days, k.n_pairs, k.mk_s,
      |  m.slope_med_milli_x2,
      |  CASE WHEN k.mk_s > 0 THEN 'up' WHEN k.mk_s < 0 THEN 'down'
      |       ELSE 'flat' END AS trend
      |FROM nd n JOIN mk k USING (event_type) JOIN med m USING (event_type)
      |ORDER BY n.event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val daily = dailyCloses(s, d)
      .select($"event_type",
        datediff($"day", lit("1970-01-01").cast("date"))
          .cast("long").as("t"),
        $"x")
    val pr = daily.as("a")
      .join(daily.as("b"),
        $"a.event_type" === $"b.event_type" && $"b.t" > $"a.t")
      .select($"a.event_type".as("event_type"),
        expr("(1000L * (b.x - a.x)) div (b.t - a.t)").as("slope_milli"),
        when($"b.x" > $"a.x", 1L).when($"b.x" < $"a.x", -1L)
          .otherwise(0L).as("sg"))
    val w = Window.partitionBy($"event_type").orderBy($"slope_milli")
    val r = pr.select($"event_type", $"slope_milli")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy($"event_type")))
    val mk = pr.groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"), sum($"sg").as("mk_s"))
    val med = r.groupBy($"event_type")
      .agg((coalesce(sum(when($"rnk" === expr("(m + 1) div 2"),
          $"slope_milli")), lit(0L)) +
        coalesce(sum(when($"rnk" === expr("m div 2 + 1"),
          $"slope_milli")), lit(0L))).as("slope_med_milli_x2"))
    val nd = daily.groupBy($"event_type").agg(count(lit(1)).as("n_days"))
    nd.join(mk, "event_type").join(med, "event_type")
      .select($"event_type", $"n_days", $"n_pairs", $"mk_s",
        $"slope_med_milli_x2",
        when($"mk_s" > 0L, "up").when($"mk_s" < 0L, "down")
          .otherwise("flat").as("trend"))
      .orderBy($"event_type")
  }

  /** DETERMINISTIC POISSON BOOTSTRAP of the per-series mean — the "how
    * sure are we" companion every point estimate in this catalog lacks: 32
    * bootstrap replicas of mean(value), each row weighted by a Poisson(1)
    * draw keyed on md5(event_id, replica) (Poissonized resampling — the
    * large-n limit of multinomial bootstrap, and the ONLY bootstrap that
    * needs no global coordination: each row knows its own replica weights,
    * so a 100 TB bootstrap is one scan + one (series, replica) partial
    * agg, no sampling shuffle, no RNG state, bit-reproducible across
    * engines and re-runs). Emitted per series: the exact point mean, the
    * replica count, the min/max replica means (the 1st/32nd order
    * statistics — a ~94% band), and the unbiased between-replica variance,
    * all in integer milli-cents via DECIMAL(38,0)/HUGEINT sums.
    *
    * Scale shape: `boot_pois_md5` is a row-local kernel (32 md5 calls
    * inside ONE compiled method — never an exploded md5 column, the
    * r15/r17/r18 JIT trap); the posexplode carries (type, replica, wt·x)
    * into a map-side partial agg that collapses to |series|·32 rows before
    * the only exchange. Timed per stage at sf0.1, a first 29 s reading was
    * cold-JIT noise: warm, this entry and `events_theil_sen` run ~0.9 s. */
  val eventsBootstrapCi: CatalogEntry = CatalogEntry(
    "events_bootstrap_ci",
    """WITH c AS (SELECT event_type, event_id,
      |             round(value*100)::BIGINT AS x FROM events),
      |u AS (SELECT event_type, x, g.b,
      |        ('0x' || substring(md5(event_id::VARCHAR || ':'
      |           || g.b::VARCHAR), 1, 15))::BIGINT % 1000000000 AS u
      |      FROM c, unnest(generate_series(0, 31)) AS g(b)),
      |w AS (SELECT event_type, x, b,
      |        CASE WHEN u < 367879441 THEN 0 WHEN u < 735758882 THEN 1
      |             WHEN u < 919698602 THEN 2 WHEN u < 981011843 THEN 3
      |             WHEN u < 996340153 THEN 4 WHEN u < 999405815 THEN 5
      |             ELSE 6 END AS wt
      |      FROM u),
      |rm AS (SELECT event_type, b,
      |         CASE WHEN sum(wt) > 0
      |           THEN (1000 * sum(wt * x)) // sum(wt) END AS m
      |       FROM w GROUP BY 1, 2),
      |bs AS (SELECT event_type, count(m)::BIGINT AS boot_n,
      |         min(m)::BIGINT AS boot_lo_milli,
      |         max(m)::BIGINT AS boot_hi_milli,
      |         sum(m::HUGEINT) AS sm, sum(m::HUGEINT * m::HUGEINT) AS sm2
      |       FROM rm GROUP BY event_type),
      |pt AS (SELECT event_type, count(*)::BIGINT AS n_events,
      |         ((1000 * sum(x)) // count(*))::BIGINT AS mean_milli
      |       FROM c GROUP BY event_type)
      |SELECT p.event_type, p.n_events, p.mean_milli, b.boot_n,
      |  b.boot_lo_milli, b.boot_hi_milli,
      |  CASE WHEN b.boot_n > 1 THEN
      |    ((b.boot_n * b.sm2 - b.sm * b.sm)
      |     // (b.boot_n * (b.boot_n - 1)))::BIGINT END AS boot_var_milli2
      |FROM pt p JOIN bs b USING (event_type)
      |ORDER BY p.event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val c = Tables.eventsDense(s, d)
      .select($"event_type", $"event_id",
        round($"value" * 100).cast("long").as("x"))
    val rm = c
      .select($"event_type", $"x",
        posexplode(call_function("boot_pois_md5",
          $"event_id".cast("string"), lit(32))).as(Seq("b", "wt")))
      .groupBy($"event_type", $"b")
      .agg(sum($"wt" * $"x").as("swx"), sum($"wt").as("sw"))
      .select($"event_type", $"b",
        when($"sw" > 0L, expr("(1000L * swx) div sw")).as("m"))
    val bs = rm.groupBy($"event_type")
      .agg(count($"m").as("boot_n"),
        min($"m").as("boot_lo_milli"), max($"m").as("boot_hi_milli"),
        sum($"m".cast("decimal(38,0)")).as("sm"),
        sum(($"m".cast("decimal(19,0)") * $"m".cast("decimal(19,0)"))
          .cast("decimal(38,0)")).as("sm2"))
    val pt = c.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        expr("(1000L * sum(x)) div count(*)").as("mean_milli"))
    pt.join(bs, "event_type")
      .select($"event_type", $"n_events", $"mean_milli", $"boot_n",
        $"boot_lo_milli", $"boot_hi_milli",
        when($"boot_n" > 1L,
          expr("""(boot_n * sm2 - sm * sm)
            | div (cast(boot_n as decimal(38,0)) * (boot_n - 1))"""
            .stripMargin))
          .cast("long").as("boot_var_milli2"))
      .orderBy($"event_type")
  }

  /** ROLLING-ORIGIN BACKTEST of the Holt forecast — the evaluation
    * harness that says whether [[eventsHoltForecast]] is worth
    * trusting, closing the forecast loop the way `sim_recall_at_k`
    * closes the ANN loop: at each of the last 5 daily origins, the
    * 1-day-ahead forecast from the recursion's state AT that origin
    * against the next day's actual close, plus the per-series MAE in
    * exact cents. The per-origin states come from ONE fold pass whose
    * accumulator keeps a SLIDING WINDOW of the last 6 (day, x, l, b)
    * states — the recursion is never replayed per origin and the fold
    * never copies more than 6 structs per step (O(days), the same
    * single-pass cost as the forecast, even over a century of daily
    * closes). On this synthetic corpus the
    * MAE is large — daily closes of i.i.d.-noise values have no trend
    * to extrapolate — and that verdict is exactly what the harness is
    * for.
    *
    * Scale shape: identical to [[eventsHoltForecast]] — one windowed
    * daily downsample, one per-series fold with O(1) state (≤6
    * structs), row-local origin explode, and a metadata-scale MAE
    * window over |types|·5 rows. */
  val eventsHoltBacktest: CatalogEntry = CatalogEntry(
    "events_holt_backtest",
    s"""WITH RECURSIVE $dailyCloseCtesSql,
      |$holtArrSql,
      |$holtRecSql,
      |origins AS (
      |  SELECT r.event_type, a.ds[r.i].day::VARCHAR AS origin_day,
      |    (r.l + r.b) AS f1_cents, a.ds[r.i + 1].x AS actual_cents,
      |    abs((r.l + r.b) - a.ds[r.i + 1].x) AS abs_err_cents
      |  FROM rec r JOIN arr a USING (event_type)
      |  WHERE r.i >= greatest(1, r.m - 5) AND r.i <= r.m - 1)
      |SELECT event_type, origin_day, f1_cents, actual_cents, abs_err_cents,
      |  (sum(abs_err_cents) OVER w // count(*) OVER w)::BIGINT AS mae_cents
      |FROM origins
      |WINDOW w AS (PARTITION BY event_type)
      |ORDER BY event_type, origin_day""".stripMargin) { (s, d) =>
    import s.implicits._
    // windowed accumulator: each step appends (day, x, l, b) and keeps
    // only the LAST 6 states (slice from the end) — the 5 origins plus
    // the next-day actuals never look further back, so the fold stays
    // O(days) in copies instead of O(days²), matching the forecast's
    // single-pass cost claim
    val l1 = holtStepL("e.x",
      "element_at(acc, -1).l", "element_at(acc, -1).b")
    val folded = dailyCloses(s, d).groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"x"))).as("ds"))
      .withColumn("acc", expr(
        s"""aggregate(ds,
          |  cast(array() as
          |       array<struct<day: date, x: bigint, l: bigint, b: bigint>>),
          |  (acc, e) -> CASE WHEN size(acc) = 0
          |    THEN array(named_struct('day', e.day, 'x', e.x,
          |                            'l', e.x, 'b', 0L))
          |    ELSE slice(concat(acc, array(named_struct(
          |      'day', e.day, 'x', e.x,
          |      'l', $l1,
          |      'b', ${holtStepB(l1,
               "element_at(acc, -1).l", "element_at(acc, -1).b")}))),
          |      -least(size(acc) + 1, 6), 6)
          |  END)""".stripMargin))
    val wt = Window.partitionBy($"event_type")
    folded
      .select($"event_type", $"acc",
        // guard: Spark's sequence(a, b) silently DESCENDS when a > b,
        // so a 1-state acc would emit origins 1 and 0 (element_at 0
        // throws) where the oracle's WHERE emits nothing — empty out
        // explicitly. Indices are within the ≤6-state window; origin j
        // pairs with the NEXT state's stored actual x.
        explode(expr(
          """CASE WHEN size(acc) >= 2
            |  THEN sequence(1, size(acc) - 1)
            |  ELSE cast(array() as array<int>) END""".stripMargin))
          .as("j"))
      .select($"event_type",
        expr("cast(element_at(acc, j).day as string)").as("origin_day"),
        expr("element_at(acc, j).l + element_at(acc, j).b").as("f1_cents"),
        expr("element_at(acc, j + 1).x").as("actual_cents"))
      .withColumn("abs_err_cents", abs($"f1_cents" - $"actual_cents"))
      .withColumn("s", sum($"abs_err_cents").over(wt))
      .withColumn("cnt", count(lit(1)).over(wt))
      .select($"event_type", $"origin_day", $"f1_cents", $"actual_cents",
        $"abs_err_cents", expr("s div cnt").as("mae_cents"))
      .orderBy($"event_type", $"origin_day")
  }

  /** FORECAST-SKILL CENSUS — Holt vs the naive random-walk forecast
    * over the SAME last-5 rolling origins: the relative-error number
    * (MASE's origin-matched cousin) that decides whether the smoother
    * earns its state, because a forecaster that can't beat "tomorrow
    * equals today" should be replaced BY "tomorrow equals today".
    * Holt's per-series MAE comes from [[eventsHoltBacktest]] nested
    * verbatim (the evaluated model IS the shipped recursion); the
    * naive MAE is the mean |x_{i+1} − x_i| over the identical origin
    * window; skill_ppm = 10⁶·mae_holt/mae_naive (truncating division;
    * < 10⁶ means Holt wins), NULL when the naive errors are zero (a
    * constant series has nothing to rank). On this i.i.d.-noise
    * corpus the verdict is mostly 'naive' — the honest reading the
    * backtest's large MAE already implied.
    *
    * Scale shape: both arms live on the metadata-scale daily table
    * (the backtest's fold is one pass; the naive arm is one `lead`
    * window); the join carries |series| rows. */
  val eventsForecastSkill: CatalogEntry = CatalogEntry(
    "events_forecast_skill",
    s"""WITH bt AS (
      |  ${eventsHoltBacktest.oracle.get.replace("\n", "\n      ")}),
      |h AS (SELECT event_type, count(*)::BIGINT AS n_origins,
      |        max(mae_cents)::BIGINT AS mae_holt_cents
      |      FROM bt GROUP BY event_type),
      |c AS (
      |  SELECT event_type, ts::TIMESTAMP AS tsx, event_id,
      |         round(value*100)::BIGINT AS x FROM events),
      |dcl AS (SELECT event_type, tsx::DATE AS day, x,
      |         row_number() OVER (PARTITION BY event_type, tsx::DATE
      |                            ORDER BY tsx DESC, event_id DESC) AS rn
      |        FROM c),
      |s AS (SELECT event_type, x,
      |        row_number() OVER (PARTITION BY event_type
      |                           ORDER BY day) AS i,
      |        count(*) OVER (PARTITION BY event_type) AS m,
      |        lead(x) OVER (PARTITION BY event_type ORDER BY day) AS nx
      |      FROM dcl WHERE rn = 1),
      |nv AS (SELECT event_type,
      |         (sum(abs(nx - x)) // count(*))::BIGINT AS mae_naive_cents
      |       FROM s WHERE i >= greatest(1, m - 5) AND i <= m - 1
      |       GROUP BY event_type)
      |SELECT h.event_type, h.n_origins, h.mae_holt_cents,
      |  nv.mae_naive_cents,
      |  CASE WHEN nv.mae_naive_cents > 0 THEN
      |    ((1000000 * h.mae_holt_cents) // nv.mae_naive_cents)::BIGINT
      |  END AS skill_ppm,
      |  CASE WHEN nv.mae_naive_cents = 0 THEN 'tie'
      |       WHEN h.mae_holt_cents < nv.mae_naive_cents THEN 'holt'
      |       WHEN h.mae_holt_cents > nv.mae_naive_cents THEN 'naive'
      |       ELSE 'tie' END AS verdict
      |FROM h JOIN nv USING (event_type)
      |ORDER BY h.event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val h = eventsHoltBacktest.query(s, d)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_origins"),
        max($"mae_cents").as("mae_holt_cents"))
    val wOrd = Window.partitionBy($"event_type").orderBy($"day")
    val sDf = dailyCloses(s, d)
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy($"event_type")))
      .withColumn("nx", lead($"x", 1).over(wOrd))
    val nv = sDf
      .where($"i" >= greatest(lit(1L), $"m" - 5L) && $"i" <= $"m" - 1L)
      .groupBy($"event_type")
      .agg(expr("sum(abs(nx - x)) div count(*)").as("mae_naive_cents"))
    h.join(nv, "event_type")
      .select($"event_type", $"n_origins", $"mae_holt_cents",
        $"mae_naive_cents",
        when($"mae_naive_cents" > 0L,
          expr("(1000000L * mae_holt_cents) div mae_naive_cents"))
          .as("skill_ppm"),
        when($"mae_naive_cents" === 0L, "tie")
          .when($"mae_holt_cents" < $"mae_naive_cents", "holt")
          .when($"mae_holt_cents" > $"mae_naive_cents", "naive")
          .otherwise("tie").as("verdict"))
      .orderBy($"event_type")
  }

  /** BENFORD FIRST-DIGIT CENSUS per series — the classic
    * fabricated-or-degenerate-data screen (Benford 1938; the audit
    * standard for transaction streams): the observed first-significant-
    * digit distribution of |cents| against log10(1 + 1/d), both in
    * exact ppm, per (series, digit). A hand-keyed, truncated, or
    * unit-mangled feed bends this curve long before a mean/σ monitor
    * notices; the per-digit delta says WHICH digit leaks (a 4/5
    * boundary spike = rounding; a flat curve = synthetic uniform).
    * First digit = x div 10^(len(x)−1) — pure integer/string
    * arithmetic, no logs on the data path; the Benford expectations
    * are 9 shared ppm literals (floor(log10(1+1/d)·10⁶)), so the
    * comparison is engine-exact. Zero values carry no leading digit
    * and are excluded by definition.
    *
    * Scale shape: digit extraction is scan-local; ONE (series, digit)
    * partial-agg exchange (≤ 9·|series| cells); the expectation table
    * is a 9-row broadcast literal. */
  val eventsBenfordCensus: CatalogEntry = CatalogEntry(
    "events_benford_census",
    """WITH c AS (SELECT event_type, abs(round(value*100)::BIGINT) AS x
      |           FROM events WHERE round(value*100)::BIGINT <> 0),
      |d AS (SELECT event_type,
      |        x // power(10, length(x::VARCHAR) - 1)::BIGINT AS fd
      |      FROM c),
      |cell AS (SELECT event_type, fd, count(*)::BIGINT AS n
      |         FROM d GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(n)::BIGINT AS nt
      |        FROM cell GROUP BY 1),
      |bf AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
      |        (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
      |        (9, 45757)) AS t(fd, benford_ppm))
      |SELECT c.event_type, c.fd::BIGINT AS fd, c.n,
      |  ((1000000 * c.n) // t.nt)::BIGINT AS obs_ppm,
      |  b.benford_ppm::BIGINT AS benford_ppm,
      |  (((1000000 * c.n) // t.nt) - b.benford_ppm)::BIGINT AS delta_ppm
      |FROM cell c JOIN tot t USING (event_type) JOIN bf b USING (fd)
      |ORDER BY c.event_type, fd""".stripMargin) { (s, d) =>
    import s.implicits._
    val c = Tables.events(s, d)
      .select($"event_type",
        abs(round($"value" * 100).cast("long")).as("x"))
      .where($"x" =!= 0L)
    val cell = c
      .select($"event_type",
        expr("x div cast(power(10, length(cast(x as string)) - 1) " +
          "as bigint)").as("fd"))
      .groupBy($"event_type", $"fd")
      .agg(count(lit(1)).as("n"))
    val tot = cell.groupBy($"event_type").agg(sum($"n").as("nt"))
    val bf = Seq((1L, 301029L), (2L, 176091L), (3L, 124938L),
      (4L, 96910L), (5L, 79181L), (6L, 66946L), (7L, 57991L),
      (8L, 51152L), (9L, 45757L)).toDF("fd", "benford_ppm")
    cell.join(tot, "event_type").join(broadcast(bf), "fd")
      .select($"event_type", $"fd".cast("long").as("fd"), $"n",
        expr("(1000000L * n) div nt").as("obs_ppm"),
        $"benford_ppm",
        expr("(1000000L * n) div nt - benford_ppm").as("delta_ppm"))
      .orderBy($"event_type", $"fd")
  }

  /** PSI DRIFT MONITOR per series — the population-stability index
    * (the banking/ML-ops standard beside `corpus_kl_drift`'s KL) of
    * the cents-value distribution between the FIRST and SECOND half of
    * each series' time range: PSI = Σ_bins (p_a − p_b)·ln(p_a/p_b),
    * 10 equal-width bins over the series' own [min, max] with +1/+10
    * Laplace smoothing so single-sided bins stay finite; cells empty
    * in BOTH halves carry no term by definition here (with smoothing
    * they would contribute only the na≠nb imbalance, not drift). The
    * industry read: < 0.1 stable, > 0.2 investigate — on this
    * i.i.d. corpus PSI ≈ 0.005–0.014, the honest no-drift verdict.
    * Float discipline: each bin's term is ln of a ratio of exact
    * integers, quantized to nano-BIGINTs BEFORE the order-independent
    * sum (the `corpus_kl_drift` pattern).
    *
    * Scale shape: per-series (t_min, t_max, x_min, x_max) scalars come
    * from one partial agg and broadcast back (|series| rows); half/bin
    * assignment is scan-local integer arithmetic; ONE (series, bin)
    * partial-agg exchange (≤ 10·|series| cells). */
  val eventsPsiDrift: CatalogEntry = CatalogEntry(
    "events_psi_drift",
    """WITH c AS (SELECT event_type, epoch_us(ts::TIMESTAMP) AS tu,
      |             round(value*100)::BIGINT AS x FROM events),
      |sp AS (SELECT event_type, min(tu)::BIGINT AS t0, max(tu)::BIGINT AS t1,
      |         min(x)::BIGINT AS mn, max(x)::BIGINT AS mx
      |       FROM c GROUP BY event_type),
      |h AS (SELECT c.event_type,
      |        CASE WHEN 2 * c.tu <= s.t0 + s.t1 THEN 0 ELSE 1 END AS half,
      |        CASE WHEN s.mx = s.mn THEN 0
      |             ELSE ((c.x - s.mn) * 10) // (s.mx - s.mn + 1) END AS bin
      |      FROM c JOIN sp s USING (event_type)),
      |cell AS (SELECT event_type, bin,
      |           count(*) FILTER (WHERE half = 0)::BIGINT AS ca,
      |           count(*) FILTER (WHERE half = 1)::BIGINT AS cb
      |         FROM h GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
      |        FROM cell GROUP BY 1)
      |SELECT c.event_type, t.na AS n_first, t.nb AS n_second,
      |  sum(round(1e9 * ((c.ca+1)::DOUBLE/(t.na+10)
      |                   - (c.cb+1)::DOUBLE/(t.nb+10)) *
      |      ln(((c.ca+1)::DOUBLE*(t.nb+10))
      |         / ((c.cb+1)::DOUBLE*(t.na+10))))::BIGINT)::BIGINT AS psi_nano
      |FROM cell c JOIN tot t USING (event_type)
      |GROUP BY c.event_type, t.na, t.nb
      |ORDER BY c.event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val c = Tables.events(s, d)
      .select($"event_type",
        unix_micros($"ts").as("tu"),
        round($"value" * 100).cast("long").as("x"))
    val sp = c.groupBy($"event_type".as("et"))
      .agg(min($"tu").as("t0"), max($"tu").as("t1"),
        min($"x").as("mn"), max($"x").as("mx"))
    val cell = c.join(broadcast(sp), $"event_type" === $"et")
      .select($"event_type",
        when(lit(2L) * $"tu" <= $"t0" + $"t1", 0L).otherwise(1L)
          .as("half"),
        when($"mx" === $"mn", 0L)
          .otherwise(expr("((x - mn) * 10) div (mx - mn + 1)")).as("bin"))
      .groupBy($"event_type", $"bin")
      .agg(count(when($"half" === 0L, 1)).as("ca"),
        count(when($"half" === 1L, 1)).as("cb"))
    val tot = cell.groupBy($"event_type".as("et2"))
      .agg(sum($"ca").as("na"), sum($"cb").as("nb"))
    cell.join(broadcast(tot), $"event_type" === $"et2")
      .groupBy($"event_type", $"na", $"nb")
      .agg(sum(round(lit(1e9) *
          (($"ca" + 1).cast("double") / ($"na" + 10) -
            ($"cb" + 1).cast("double") / ($"nb" + 10)) *
          log((($"ca" + 1).cast("double") * ($"nb" + 10)) /
              (($"cb" + 1).cast("double") * ($"na" + 10))))
        .cast("bigint")).as("psi_nano"))
      .select($"event_type", $"na".as("n_first"), $"nb".as("n_second"),
        $"psi_nano")
      .orderBy($"event_type")
  }

  /** TWO-SAMPLE KOLMOGOROV-SMIRNOV TEST per series between the first
    * and second half of its time range — [[eventsPsiDrift]]'s
    * hypothesis-test sibling: PSI gives a graded drift magnitude on
    * fixed bins; KS gives the exact supremum distance between the two
    * EMPIRICAL CDFs (no binning) plus the classic α=0.05 decision.
    * Entirely on the integer lattice: D is tracked as
    * max |F₁·n₂ − F₂·n₁| over the merged distinct values (cumulative
    * counts cross-multiplied — no division until the final ppm), and
    * the rejection rule D > 1.358·√((n₁+n₂)/(n₁n₂)) is squared into
    * the cross-multiplied integer test 10⁶·D_int² > 1844164·(n₁+n₂)·
    * n₁·n₂ (1.358² = 1.844164) that no float can flip. On this
    * i.i.d. corpus every series accepts — the same honest no-drift
    * verdict PSI reads.
    *
    * Scale shape: per-series time-midpoint scalars broadcast back;
    * ONE (series, value) partial-agg exchange; the CDF window runs on
    * those cells — bounded by the value lattice (cents), not rows. */
  val eventsKsTest: CatalogEntry = CatalogEntry(
    "events_ks_test",
    """WITH c AS (SELECT event_type, epoch_us(ts::TIMESTAMP) AS tu,
      |             round(value*100)::BIGINT AS x FROM events),
      |sp AS (SELECT event_type, min(tu)::BIGINT AS t0, max(tu)::BIGINT AS t1
      |       FROM c GROUP BY event_type),
      |h AS (SELECT c.event_type,
      |        CASE WHEN 2 * c.tu <= s.t0 + s.t1 THEN 0 ELSE 1 END AS half,
      |        c.x
      |      FROM c JOIN sp s USING (event_type)),
      |cell AS (SELECT event_type, x,
      |           count(*) FILTER (WHERE half = 0)::BIGINT AS ca,
      |           count(*) FILTER (WHERE half = 1)::BIGINT AS cb
      |         FROM h GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(ca)::BIGINT AS n1, sum(cb)::BIGINT AS n2
      |        FROM cell GROUP BY 1),
      |cum AS (SELECT c.event_type, t.n1, t.n2,
      |          sum(c.ca) OVER (PARTITION BY c.event_type
      |                          ORDER BY c.x) AS f1,
      |          sum(c.cb) OVER (PARTITION BY c.event_type
      |                          ORDER BY c.x) AS f2
      |        FROM cell c JOIN tot t USING (event_type)),
      |d AS (SELECT event_type, n1, n2,
      |        max(abs(f1 * n2 - f2 * n1))::BIGINT AS d_int
      |      FROM cum GROUP BY event_type, n1, n2)
      |SELECT event_type, n1 AS n_first, n2 AS n_second,
      |  ((1000000 * d_int) // (n1 * n2))::BIGINT AS d_ppm,
      |  (1000000::HUGEINT * d_int::HUGEINT * d_int
      |   > 1844164::HUGEINT * (n1 + n2) * n1 * n2) AS reject_05
      |FROM d ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val c = Tables.events(s, d)
      .select($"event_type", unix_micros($"ts").as("tu"),
        round($"value" * 100).cast("long").as("x"))
    val sp = c.groupBy($"event_type".as("et"))
      .agg(min($"tu").as("t0"), max($"tu").as("t1"))
    val cell = c.join(broadcast(sp), $"event_type" === $"et")
      .select($"event_type",
        when(lit(2L) * $"tu" <= $"t0" + $"t1", 0L).otherwise(1L)
          .as("half"),
        $"x")
      .groupBy($"event_type", $"x")
      .agg(count(when($"half" === 0L, 1)).as("ca"),
        count(when($"half" === 1L, 1)).as("cb"))
    val tot = cell.groupBy($"event_type".as("et2"))
      .agg(sum($"ca").as("n1"), sum($"cb").as("n2"))
    val w = Window.partitionBy($"event_type").orderBy($"x")
    cell.join(broadcast(tot), $"event_type" === $"et2")
      .select($"event_type", $"n1", $"n2",
        sum($"ca").over(w).as("f1"), sum($"cb").over(w).as("f2"))
      .groupBy($"event_type", $"n1", $"n2")
      .agg(max(abs($"f1" * $"n2" - $"f2" * $"n1")).as("d_int"))
      .select($"event_type", $"n1".as("n_first"), $"n2".as("n_second"),
        expr("(1000000L * d_int) div (n1 * n2)").as("d_ppm"),
        (expr("cast(1000000 as decimal(38,0)) * d_int * d_int") >
          expr("cast(1844164 as decimal(38,0)) * (n1 + n2) * n1 * n2"))
          .as("reject_05"))
      .orderBy($"event_type")
  }

  /** CUSUM changepoint detection per series, float-free: the classic
    * statistic Σ_{i≤k}(x_i − μ) is rescaled by n to
    * S_k = Σ_{i≤k}(n·x_i) − k·Σx — identical argmax, every term exact.
    * The accumulator is DECIMAL(38,0), not BIGINT: worst-case |S_k| is
    * ~n²·max|x| cents, which wraps an int64 around n ≈ 10⁶ rows per
    * series — Spark's non-ANSI long sum wraps SILENTLY while DuckDB
    * promotes sum(BIGINT) to HUGEINT, so a long accumulator diverges
    * cross-engine exactly when the data gets big (the events_ema16 /
    * q8_market_share pattern). The per-type (n, Σx) scalars broadcast
    * back (5-row dim); the running sum and the argmax ranking share
    * one (type) partitioning so the plan is a single shuffle + two
    * chained window passes; ties on |S| break to the earliest event
    * id. */
  val eventsChangepointCusum: CatalogEntry = CatalogEntry(
    "events_changepoint_cusum",
    """WITH c AS (SELECT event_type, ts::TIMESTAMP AS tsx, event_id,
      |                  round(value*100)::BIGINT AS x FROM events),
      |t AS (SELECT event_type, count(*)::BIGINT AS n,
      |             sum(x)::BIGINT AS sx FROM c GROUP BY 1),
      |s AS (SELECT c.event_type, event_id,
      |        sum(t.n::DECIMAL(38,0) * x) OVER w
      |          - (row_number() OVER w) * t.sx::DECIMAL(38,0) AS cusum
      |      FROM c JOIN t ON c.event_type = t.event_type
      |      WINDOW w AS (PARTITION BY c.event_type ORDER BY tsx, event_id
      |                   ROWS UNBOUNDED PRECEDING)),
      |r AS (SELECT event_type, event_id, abs(cusum) AS a,
      |        row_number() OVER (PARTITION BY event_type
      |                           ORDER BY abs(cusum) DESC, event_id) AS rk
      |      FROM s)
      |SELECT event_type, event_id AS changepoint_event,
      |       a::BIGINT AS max_abs_cusum
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val c = Tables.events(s, d)
      .select($"event_type", $"ts", $"event_id",
        round($"value" * 100).cast("long").as("x"))
    val t = c.groupBy($"event_type".as("et"))
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wOrd = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
    val wRank = Window.partitionBy($"event_type")
      .orderBy(abs($"cusum").desc, $"event_id")
    c.join(broadcast(t), $"event_type" === $"et")
      .withColumn("cusum",
        sum($"n".cast("decimal(38,0)") * $"x").over(w) -
          row_number().over(wOrd).cast("decimal(38,0)") *
            $"sx".cast("decimal(38,0)"))
      .withColumn("rk", row_number().over(wRank))
      .where($"rk" === 1)
      .select($"event_type", $"event_id".as("changepoint_event"),
        abs($"cusum").cast("long").as("max_abs_cusum"))
      .orderBy($"event_type")
  }

  /** BINARY-SEGMENTATION CHANGEPOINT per series — the least-squares
    * split (Scott & Knott 1974; the first recursion step of binary
    * segmentation, and the mean-shift complement to
    * [[eventsChangepointCusum]]: CUSUM localizes a drift in the raw
    * event stream, this finds THE level-shift day of the daily closes
    * by maximizing the between-segment fit W(k) = S_k²/k +
    * (S−S_k)²/(n−k)). Entirely exact: W is quantized to milli-units by
    * ONE truncating division per candidate split (numerator and
    * divisor exact in DECIMAL(38,0)/HUGEINT), the argmax ranks on that
    * integer with earliest-day tie-break, and the reported gain is
    * W(k) − W(0) = the SSE reduction, in the same milli lattice; the
    * segment means are truncating integer divisions. On these
    * single-event daily closes the "shift" is noise-sized — visible in
    * gain_milli, not hidden.
    *
    * Scale shape: lives on the metadata-scale daily table (the Holt /
    * ACF / Theil-Sen adjudication): one windowed downsample over raw
    * events, two chained windows (prefix sum, argmax rank) on one
    * (series) partitioning. */
  val eventsChangepointBinseg: CatalogEntry = CatalogEntry(
    "events_changepoint_binseg",
    s"""WITH $dailyCloseCtesSql,
      |s AS (SELECT event_type, day, x,
      |        row_number() OVER (PARTITION BY event_type
      |                           ORDER BY day) AS i,
      |        count(*) OVER (PARTITION BY event_type) AS n,
      |        sum(x) OVER (PARTITION BY event_type ORDER BY day) AS sk,
      |        sum(x) OVER (PARTITION BY event_type) AS st
      |      FROM dcl WHERE rn = 1),
      |w AS (SELECT event_type, day, i, n, sk, st,
      |        ((1000::HUGEINT * (sk::HUGEINT * sk * (n - i)
      |            + (st - sk)::HUGEINT * (st - sk) * i))
      |         // (i::HUGEINT * (n - i)))::HUGEINT AS w_milli,
      |        ((1000::HUGEINT * st::HUGEINT * st) // n)::HUGEINT
      |          AS w0_milli
      |      FROM s WHERE i < n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |        ORDER BY w_milli DESC, i) AS rk FROM w)
      |SELECT event_type, day::VARCHAR AS split_day, i::BIGINT AS n_left,
      |  (n - i)::BIGINT AS n_right,
      |  (w_milli - w0_milli)::BIGINT AS gain_milli,
      |  (sk // i)::BIGINT AS mean_left_cents,
      |  ((st - sk) // (n - i))::BIGINT AS mean_right_cents
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val base = dailyCloses(s, d)
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sk", sum($"x").over(wOrd))
      .withColumn("st", sum($"x").over(wAll))
      .where($"i" < $"n")
      .select($"event_type", $"day", $"i", $"n", $"sk", $"st",
        expr("""(cast(1000 as decimal(38,0))
          | * (cast(sk as decimal(38,0)) * sk * (n - i)
          |    + cast(st - sk as decimal(38,0)) * (st - sk) * i))
          | div (cast(i as decimal(38,0)) * (n - i))""".stripMargin)
          .as("w_milli"),
        expr("""(cast(1000 as decimal(38,0))
          | * cast(st as decimal(38,0)) * st) div n""".stripMargin)
          .as("w0_milli"))
    val wRank = Window.partitionBy($"event_type")
      .orderBy($"w_milli".desc, $"i")
    base.withColumn("rk", row_number().over(wRank))
      .where($"rk" === 1)
      .select($"event_type", $"day".cast("string").as("split_day"),
        $"i".as("n_left"), ($"n" - $"i").as("n_right"),
        ($"w_milli" - $"w0_milli").cast("long").as("gain_milli"),
        expr("sk div i").as("mean_left_cents"),
        expr("(st - sk) div (n - i)").as("mean_right_cents"))
      .orderBy($"event_type")
  }

  /** Robust outlier census via MAD (median absolute deviation) — the
    * z-score's breakdown-proof sibling: one fat-finger 1e9 moves a
    * mean/σ band arbitrarily but moves the median-based band not at
    * all (`anomaly_zscore_topk` is the moment-based counterpart). The
    * classic rule flags |x − med| > 3·1.4826·MAD; every compare here
    * is BIGINT-exact: values are doubled cents (`y = 2·cents`, so the
    * median of an even count — the average of two even integers — is
    * itself an integer), deviations are doubled again before the
    * second median for the same reason, and the 1.4826 normal-
    * consistency constant enters as the cross-multiplied integer test
    * `10000·dev2 > 44478·mad4` (3·1.4826 = 4.4478) that no float
    * rounding can flip. Outputs keep the doubled units
    * (`median_cents_x2`, `mad_cents_x4`) to stay integer-typed.
    *
    * Scale shape: two grouped aggregates whose |groups|-row results
    * BROADCAST back (the winsorize two-pass pattern — the data is
    * scanned, never shuffled); the final census partial-aggregates to
    * one row per type. Exact per-group medians buffer the group's
    * values (Spark `percentile`); at 100 TB production swaps in
    * `approx_percentile` or the sorted-window median — kept exact
    * here so the DuckDB oracle replays it verbatim. */
  val eventsOutlierMad: CatalogEntry = CatalogEntry(
    "events_outlier_mad",
    """WITH b AS (
      |  SELECT event_type,
      |    median(2 * round(value*100)::BIGINT)::BIGINT AS med_y
      |  FROM events GROUP BY event_type),
      |d AS (
      |  SELECT e.event_type,
      |    2 * abs(2 * round(e.value*100)::BIGINT - b.med_y) AS dev2
      |  FROM events e JOIN b USING (event_type)),
      |m AS (
      |  SELECT event_type, median(dev2)::BIGINT AS mad4
      |  FROM d GROUP BY event_type)
      |SELECT d.event_type, count(*)::BIGINT AS n_rows,
      |  sum(CASE WHEN 10000 * d.dev2 > 44478 * m.mad4
      |      THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      |  max(b.med_y) AS median_cents_x2, max(m.mad4) AS mad_cents_x4
      |FROM d JOIN m USING (event_type) JOIN b USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin) {
    (s, d) =>
    import s.implicits._
    val y = Tables.events(s, d)
      .select($"event_type",
        (lit(2L) * round($"value" * 100).cast("bigint")).as("y"))
    val med = y.groupBy($"event_type")
      .agg(percentile($"y", lit(0.5)).cast("bigint").as("med_y"))
    val dev = y.join(broadcast(med), "event_type")
      .select($"event_type", $"med_y",
        (lit(2L) * abs($"y" - $"med_y")).as("dev2"))
    val mad = dev.groupBy($"event_type")
      .agg(percentile($"dev2", lit(0.5)).cast("bigint").as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(lit(10000L) * $"dev2" > lit(44478L) * $"mad4", 1L)
          .otherwise(0L)).as("n_outliers"),
        max($"med_y").as("median_cents_x2"),
        max($"mad4").as("mad_cents_x4"))
      .orderBy($"event_type")
  }

  def entries: Seq[CatalogEntry] = Seq(
    eventsOutlierMad,
    eventsRsi, eventsBollinger, eventsMaxDrawdown, eventsEma16,
    eventsHoltForecast, eventsHoltBacktest, eventsOhlcCandles,
    eventsSeasonalityDow, eventsAcfLags,
    eventsTheilSen, eventsBootstrapCi,
    eventsForecastSkill, eventsBenfordCensus, eventsPsiDrift,
    eventsKsTest,
    eventsChangepointCusum, eventsChangepointBinseg,
    eventsInterpolate, eventsCumulativeUniques, eventsRollingCorr,
    eventsInterarrival,
    pivotMapToRows, jsonPropsExtract, eventsTumblingWindow, eventsSessionize,
    eventsFunnel, eventsTopDays, eventsSessionWindowNative,
    eventsGroupingSets, statsAgg, eventsCohortRetention,
    eventsSlidingWindow, scd2FromHistory, anomalyZscoreTopk,
    eventsMergeIntervals, eventsValueHistogram, eventsBitwiseAgg,
    scd2PointInTime, eventsQuarantine, eventsTransitionMatrix,
    eventsWinsorize)
}
