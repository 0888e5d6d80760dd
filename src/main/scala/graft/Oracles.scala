package graft

/** DuckDB oracle SQL for [[Queries]] — ANSI SQL the driver runs over the
  * same parquet tables. Column names and types deliberately mirror the
  * Spark results (camelCase aliases quoted; DuckDB HUGEINT sums cast back
  * to BIGINT to match Spark's long).
  */
object Oracles {
  import OracleCtes._

  val all: Map[String, String] = SparkEntry.disjoint(OraclesB.all, Map(
    "s1_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-03-01'
        |  AND l_quantity < 10""".stripMargin,

    // S1 benchmark auto-append: the restricted sid set (3, 7) plus the
    // strategy's benchmark sid 1 — the append is the operator under test,
    // so the oracle inlines the EXPECTED post-append predicate
    "s1_benchmark_append" ->
      """WITH panel AS (
        |  SELECT CAST(l_suppkey AS VARCHAR) AS sid,
        |         CAST(l_shipdate AS DATE) AS date,
        |         max(l_extendedprice) AS close
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT sid, date, close FROM panel
        |WHERE date >= DATE '1995-01-01' AND date <= DATE '1995-06-30'
        |  AND sid IN ('3', '7', '1')""".stripMargin,

    "s1_universes" ->
      """WITH panel AS (
        |  SELECT CAST(l_suppkey AS VARCHAR) AS sid,
        |         CAST(l_shipdate AS DATE) AS date,
        |         max(l_extendedprice) AS close
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT sid, date, close FROM panel
        |WHERE date >= DATE '1995-01-01' AND date <= DATE '1995-06-30'
        |  AND sid IN (SELECT CAST(s_suppkey AS VARCHAR) FROM supplier
        |              WHERE s_nationkey IN (1, 2))
        |  AND sid NOT IN (SELECT CAST(s_suppkey AS VARCHAR) FROM supplier
        |                  WHERE s_nationkey = 2)""".stripMargin,

    // W7: the widened-start literal 1995-11-20 IS the assertion — it is
    // Sources.widenedStart("1996-01-01", 20) evaluated by hand
    // (ceil(20·365/235) + 10 = 42 calendar days back)
    "w7_lookback_widen" ->
      """WITH panel AS (
        |  SELECT l_suppkey AS sid, CAST(l_shipdate AS DATE) AS date,
        |         max(l_extendedprice) AS close
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT sid, date,
        |    CASE WHEN count(close) OVER win = 20
        |         THEN CAST(sum(CAST(round(close * 100) AS BIGINT)) OVER win AS BIGINT)
        |    END AS roll20_cents
        |  FROM panel WHERE date >= DATE '1995-11-20'
        |  WINDOW win AS (PARTITION BY sid ORDER BY date
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT sid, date, roll20_cents FROM w
        |WHERE date >= DATE '1996-01-01'""".stripMargin,

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         |  CAST(sum(${c("l_extendedprice")}) AS BIGINT) AS sum_base_cents,
         |  CAST(sum(${c("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS rev_cents,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "p5_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 50000 THEN 'mid' ELSE 'small' END AS size_class,
        |  coalesce(CASE WHEN o_orderstatus <> 'O' THEN o_totalprice END, 0.0) AS closed_price
        |FROM orders""".stripMargin,

    "r1_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS field,
        |       CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount',
        |       CAST(l_discount AS DOUBLE) FROM lineitem""".stripMargin,

    "r2_pivot" ->
      s"""SELECT l_returnflag,
         |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN ${c("l_quantity")} END) AS BIGINT) AS "F",
         |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN ${c("l_quantity")} END) AS BIGINT) AS "O"
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "r3_keyed_concat" ->
      s"""SELECT l_suppkey AS sid, CAST(sum(${c("l_quantity")}) AS BIGINT) AS value,
         |       'qty_cents' AS field
         |FROM lineitem GROUP BY l_suppkey
         |UNION ALL
         |SELECT l_suppkey, CAST(sum(${c("l_extendedprice")}) AS BIGINT), 'rev_cents'
         |FROM lineitem GROUP BY l_suppkey""".stripMargin,

    "j1_broadcast_join" ->
      s"""SELECT p_brand,
         |  CAST(sum(${c("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS rev_cents,
         |  count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,

    "q3_top_revenue" ->
      s"""SELECT o_orderkey, c_mktsegment,
         |  CAST(sum(${c("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS rev_cents
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderkey, c_mktsegment
         |ORDER BY rev_cents DESC, o_orderkey LIMIT 10""".stripMargin,

    "j3_full_outer" ->
      s"""WITH ev AS (SELECT *, CAST(ts AS DATE) AS day FROM events),
         |pos AS (
         |  SELECT user_id, CAST(sum(${c("value")}) AS BIGINT) AS pos_cents
         |  FROM ev WHERE event_type = 'purchase' AND user_id < 100 GROUP BY user_id),
         |ord AS (
         |  SELECT user_id, CAST(sum(CASE WHEN event_type = 'error'
         |      THEN -${c("value")} ELSE ${c("value")} END) AS BIGINT) AS ord_cents
         |  FROM ev WHERE event_type IN ('signup', 'error') AND user_id >= 50
         |  GROUP BY user_id)
         |SELECT coalesce(pos.user_id, ord.user_id) AS user_id,
         |       coalesce(pos_cents, 0) + coalesce(ord_cents, 0) AS net_cents
         |FROM pos FULL OUTER JOIN ord ON pos.user_id = ord.user_id""".stripMargin,

    "j6_asof_join" ->
      s"""WITH ev AS (SELECT *, CAST(ts AS DATE) AS day FROM events),
         |probes AS (
         |  SELECT event_id, user_id, day, ${c("value")} AS purchase_cents
         |  FROM ev WHERE event_type = 'purchase'),
         |clicks AS (
         |  SELECT user_id, day, max_by(${c("value")}, event_id) AS last_click_cents
         |  FROM ev WHERE event_type = 'click' GROUP BY user_id, day)
         |SELECT p.event_id, p.user_id, p.day, p.purchase_cents, cl.last_click_cents
         |FROM probes p ASOF LEFT JOIN clicks cl
         |  ON p.user_id = cl.user_id AND p.day >= cl.day""".stripMargin,

    "w1_lag" ->
      s"""SELECT event_id, user_id, ${c("value")} AS value_cents,
         |  lag(${c("value")}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_cents
         |FROM events""".stripMargin,

    "w3_pct_change" ->
      """SELECT event_id, user_id,
        |  value / lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
        |    AS pct_change
        |FROM events""".stripMargin,

    "w4_diff" ->
      s"""SELECT event_id, user_id,
         |  ${c("value")} - lag(${c("value")}) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |    AS diff_cents
         |FROM events""".stripMargin,

    "w5_ffill" ->
      s"""SELECT event_id, user_id,
         |  last_value(CASE WHEN event_type = 'click' THEN ${c("value")} END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_cents
         |FROM events""".stripMargin,

    "w6_rolling_mean" ->
      """SELECT event_id, user_id,
        |  CASE WHEN count(value) OVER w = 3 THEN avg(value) OVER w END AS rolling_mean_3
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,

    // W28: EWMA replay via rn-offset self-join. Weights 2^-gap are
    // EXACT powers of two (integer shift, never pow()); x/2^gap and
    // 1e6/2^gap are exact FP scalings, so the micro-rounded terms are
    // bit-identical to the engine's and the integer sums order-free.
    "w28_ewma" ->
      s"""WITH $panelCte,
         |r AS (
         |  SELECT sid, date, close,
         |    row_number() OVER (PARTITION BY sid ORDER BY date) AS rn
         |  FROM panel)
         |SELECT a.sid, a.date, a.close,
         |  CAST(sum(CAST(round(b.close / (1::BIGINT << (a.rn - b.rn))::DOUBLE
         |                      * 1000000) AS BIGINT)) AS BIGINT)::DOUBLE
         |  / CAST(sum(CAST(round(1000000 / (1::BIGINT << (a.rn - b.rn))::DOUBLE)
         |                  AS BIGINT)) AS BIGINT) AS ewma
         |FROM r a JOIN r b
         |  ON a.sid = b.sid AND b.rn BETWEEN a.rn - 49 AND a.rn
         |GROUP BY a.sid, a.date, a.close, a.rn""".stripMargin,

    // min/max are order-free; the cents sum is exact integers; std is
    // rounded to 6dp (windowed variance accumulation order is an engine
    // internal — DuckDB segment-trees, Spark streams the frame)
    "w6b_rolling_family" ->
      s"""SELECT event_id, user_id,
         |  CASE WHEN count(value) OVER w = 4 THEN min(value) OVER w END AS rolling_min_4,
         |  CASE WHEN count(value) OVER w = 4 THEN max(value) OVER w END AS rolling_max_4,
         |  CASE WHEN count(${c("value")}) OVER w = 4
         |       THEN CAST(sum(${c("value")}) OVER w AS BIGINT) END AS rolling_sum_cents_4,
         |  round(CASE WHEN count(value) OVER w = 4
         |             THEN stddev_samp(value) OVER w END, 6) AS rolling_std_4
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,

    "w2_cumsum" ->
      s"""SELECT event_id, user_id,
         |  CAST(sum(${c("value")}) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
         |FROM events""".stripMargin,

    "w9_day_gap" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  CAST(coalesce(date_diff('day',
         |    lag(date) OVER (PARTITION BY sid ORDER BY date), date), 1) AS INTEGER) AS days_held
         |FROM panel""".stripMargin,

    "a1_per_date_sum" ->
      s"""SELECT event_id, CAST(ts AS DATE) AS day,
         |  CAST(sum(${c("value")}) OVER (PARTITION BY CAST(ts AS DATE)) AS BIGINT)
         |    AS day_total_cents
         |FROM events""".stripMargin,

    // PX cross-sectional family: values are never null in the panel, so
    // the Spark side's null-gating never fires and the SQL stays plain
    "px1_rank_avg" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  rank() OVER (PARTITION BY date ORDER BY close)
         |    + (count(*) OVER (PARTITION BY date, close) - 1) / 2.0 AS rank_avg
         |FROM panel""".stripMargin,

    "px2_zscore" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  round(CASE WHEN stddev_samp(close) OVER w <> 0
         |    THEN (close - avg(close) OVER w) / stddev_samp(close) OVER w
         |  END, 6) AS zscore
         |FROM panel WINDOW w AS (PARTITION BY date)""".stripMargin,

    "px3_demean" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  ${c("close")} - avg(${c("close")}) OVER (PARTITION BY date)
         |    AS demeaned_cents
         |FROM panel""".stripMargin,

    "px4_quantile_bin" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  ntile(5) OVER (PARTITION BY date ORDER BY close, sid) AS quintile
         |FROM panel""".stripMargin,

    "px5_winsorize" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  round(least(greatest(close,
         |      quantile_cont(close, 0.05) OVER (PARTITION BY date)),
         |    quantile_cont(close, 0.95) OVER (PARTITION BY date)), 6) AS wclose
         |FROM panel""".stripMargin,

    // PX8: robust z — per-date median and MAD (two windowed
    // interpolated quantiles, the winsorize precedent), 6dp
    "px8_robust_z" ->
      s"""WITH $panelCte,
         |m AS (
         |  SELECT sid, date, close,
         |    quantile_cont(close, 0.5) OVER (PARTITION BY date) AS med
         |  FROM panel),
         |d AS (
         |  SELECT *, quantile_cont(abs(close - med), 0.5)
         |    OVER (PARTITION BY date) AS mad
         |  FROM m)
         |SELECT sid, date,
         |  round(CASE WHEN mad <> 0
         |             THEN (close - med) * 0.6745 / mad END, 6) + 0.0
         |    AS robust_z
         |FROM d""".stripMargin,

    // the full default-backtest replay (sig→wts→pos→gro CTE chain),
    // re-partitioned by (variant, …) — an independent SQL formulation of
    // the sweep, not a transliteration of the grouped-Keys plan
    "sw1_param_sweep" ->
      s"""WITH $panelCte,
         |vp AS (
         |  SELECT p.*, v.variant, v.threshold FROM panel p
         |  CROSS JOIN (VALUES ('t20k', 20000.0), ('t30k', 30000.0),
         |              ('t40k', 40000.0)) v(variant, threshold)),
         |sig AS (
         |  SELECT variant, sid, date, close,
         |         CAST(close < threshold AS INT) AS signal FROM vp),
         |wts AS (
         |  SELECT *, CAST(signal AS DOUBLE) /
         |    (CASE WHEN sum(abs(signal)) OVER (PARTITION BY variant, date) <> 0
         |          THEN sum(abs(signal)) OVER (PARTITION BY variant, date)
         |          ELSE 1 END) AS weight
         |  FROM sig),
         |pos AS (
         |  SELECT *, lag(weight) OVER (PARTITION BY variant, sid ORDER BY date)
         |    AS position FROM wts),
         |gro AS (
         |  SELECT *, (close / lag(close) OVER (PARTITION BY variant, sid ORDER BY date) - 1)
         |    * lag(position) OVER (PARTITION BY variant, sid ORDER BY date) AS gross
         |  FROM pos)
         |SELECT variant, count(*) AS n_rows,
         |  CAST(CAST(sum(CAST(round(coalesce(gross, 0.0) * 1e12) AS BIGINT)) AS BIGINT)
         |    AS DOUBLE) / 1e12 AS sum_return
         |FROM gro GROUP BY 1""".stripMargin,

    // per-row ret is identical IEEE arithmetic in both engines; the
    // cross-row sum goes through exact pico integers (HUGEINT/decimal)
    "es1_event_study" ->
      s"""WITH $panelCte,
         |rnp AS (
         |  SELECT sid, date, close,
         |    row_number() OVER (PARTITION BY sid ORDER BY date) AS rn,
         |    close / lag(close) OVER (PARTITION BY sid ORDER BY date) - 1 AS ret
         |  FROM panel),
         |ev AS (SELECT sid, rn FROM rnp WHERE ret < -0.5),
         |evo AS (
         |  SELECT ev.sid, ev.rn + offs.off AS rn, offs.off
         |  FROM ev CROSS JOIN (SELECT unnest(generate_series(-3, 3)) AS off) offs)
         |SELECT evo.off AS offset, count(*) AS n_obs,
         |  CAST(CAST(sum(CAST(round(p.ret * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / 1e12 AS sum_return
         |FROM evo JOIN rnp p ON p.sid = evo.sid AND p.rn = evo.rn
         |GROUP BY 1""".stripMargin,

    "a3_first_per_group" ->
      s"""SELECT user_id, CAST(ts AS DATE) AS day,
         |  min_by(${c("value")}, event_id) AS first_cents
         |FROM events GROUP BY user_id, CAST(ts AS DATE)""".stripMargin,

    "a4_last_per_group" ->
      s"""SELECT user_id, CAST(ts AS DATE) AS day,
         |  max_by(${c("value")}, event_id) AS last_cents
         |FROM events GROUP BY user_id, CAST(ts AS DATE)""".stripMargin,

    "a7_distinct" -> "SELECT DISTINCT event_type FROM events",

    "a5_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "ev_hourly_agg" ->
      s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         |  count(*) AS n, CAST(sum(${c("value")}) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1, 2""".stripMargin,

    // sessionization: exact integer-microsecond gaps, (ts, event_id)
    // tie order, running new-session sum per user
    "ev2_sessions" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |                 OR epoch_us(ts) - prev > 1800000000 THEN 1 ELSE 0
        |            END AS nw
        |  FROM (SELECT *, lag(epoch_us(ts)) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |        FROM e)),
        |x AS (
        |  SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS session_idx
        |  FROM s)
        |SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts,
        |  (epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6 AS duration_sec
        |FROM x GROUP BY 1, 2""".stripMargin,

    // EV23: native session_window parity — same cumulative-gap
    // formulation as ev2 but with the operator's boundary rule (new
    // session at gap >= 30 m; a window spans [ts, ts+gap)) and ts-only
    // ordering (ties merge regardless of order)
    "ev23_session_window" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |                 OR epoch_us(ts) - prev >= 1800000000 THEN 1 ELSE 0
        |            END AS nw
        |  FROM (SELECT *, lag(epoch_us(ts)) OVER
        |          (PARTITION BY user_id ORDER BY ts) AS prev
        |        FROM e)),
        |x AS (
        |  SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sx
        |  FROM s)
        |SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
        |  count(*)::BIGINT AS n_events,
        |  (epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6 AS duration_sec
        |FROM x GROUP BY user_id, sx""".stripMargin,

    // EV24: rolling 7-day distinct users, brute-forced per window end
    // (day-spine LEFT range-join + count DISTINCT) — independent of the
    // engine's interval-union sweep
    "ev24_rolling_active" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(CAST(ts AS DATE)) FROM events),
        |    (SELECT max(CAST(ts AS DATE)) FROM events),
        |    INTERVAL 1 DAY))::DATE AS day)
        |SELECT s.day, count(DISTINCT e.user_id)::BIGINT AS active_users
        |FROM spine s
        |LEFT JOIN events e
        |  ON CAST(e.ts AS DATE) BETWEEN s.day - 6 AND s.day
        |GROUP BY s.day""".stripMargin,

    // J13: the oracle spells the dominance directly as NOT EXISTS —
    // a different algorithm from the engine's as-of formulation
    "j13_temporal_anti" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events)
        |SELECT p.event_id, p.user_id
        |FROM e p
        |WHERE p.event_type = 'purchase'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM e v
        |    WHERE v.event_type = 'view' AND v.user_id = p.user_id
        |      AND v.us >= p.us - 3600000000 AND v.us <= p.us)""".stripMargin,

    // EV28: journeys via ordered string_agg, same regexes per pattern
    "ev28_cep_patterns" ->
      """WITH j AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT count(*)::BIGINT AS n_users,
        |    CAST(sum(CASE WHEN regexp_matches(journey, 'v.*c.*p')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |    CAST(sum(CASE WHEN regexp_matches(journey, 's.*p')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        |    CAST(sum(CASE WHEN regexp_matches(journey, 'ee')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS m3,
        |    CAST(sum(CASE WHEN regexp_matches(journey, 'p.*e')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS m4
        |  FROM j)
        |SELECT 'funnel_vcp' AS pattern, n_users, m1 AS n_matched,
        |  round(m1::DOUBLE / n_users, 6) AS match_rate FROM m
        |UNION ALL SELECT 'signup_to_purchase', n_users, m2,
        |  round(m2::DOUBLE / n_users, 6) FROM m
        |UNION ALL SELECT 'double_error', n_users, m3,
        |  round(m3::DOUBLE / n_users, 6) FROM m
        |UNION ALL SELECT 'purchase_then_error', n_users, m4,
        |  round(m4::DOUBLE / n_users, 6) FROM m""".stripMargin,

    // EV27: same trigram lags, same conditional-probability ratio
    "ev27_trigram_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER w AS p1,
        |    lag(event_type, 2) OVER w AS p2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT p2, p1, event_type AS next, count(*)::BIGINT AS n
        |  FROM e WHERE p2 IS NOT NULL
        |  GROUP BY 1, 2, 3)
        |SELECT p2, p1, next, n,
        |  round(n::DOUBLE / CAST(sum(n) OVER (PARTITION BY p2, p1)
        |    AS BIGINT), 6) AS p
        |FROM c""".stripMargin,

    // CS1: CUSUM closed form — Sₜ = Pₜ − min(0, min_{j≤t} Pⱼ); all
    // integer until the final (÷n then ÷100) de-scaling divisions
    "cs1_cusum" ->
      """WITH r AS (
        |  SELECT user_id AS g, event_id AS id, ts,
        |    CAST(round(value*100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT *, count(*) OVER (PARTITION BY g) AS n,
        |    CAST(sum(v) OVER (PARTITION BY g) AS BIGINT) AS sx
        |  FROM r),
        |c AS (
        |  SELECT *,
        |    CAST(sum(n*v - sx - n*2500) OVER (PARTITION BY g
        |      ORDER BY ts, id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
        |    CAST(sum(sx - n*2500 - n*v) OVER (PARTITION BY g
        |      ORDER BY ts, id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS q
        |  FROM w),
        |s AS (
        |  SELECT *,
        |    p - least(CAST(min(p) OVER (PARTITION BY g ORDER BY ts, id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) AS sp,
        |    q - least(CAST(min(q) OVER (PARTITION BY g ORDER BY ts, id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) AS sn
        |  FROM c)
        |SELECT id AS event_id, g AS user_id, v AS value_cents,
        |  round((sp::DOUBLE / n) / 100.0, 6) AS s_pos,
        |  round((sn::DOUBLE / n) / 100.0, 6) AS s_neg,
        |  CASE WHEN sp > n*20000 AND sn > n*20000 THEN 'both'
        |       WHEN sp > n*20000 THEN 'up' ELSE 'down' END AS side
        |FROM s WHERE sp > n*20000 OR sn > n*20000""".stripMargin,

    // EV25: Nelson–Aalen — same risk-set CTEs as ev11; each d/n
    // increment micro-nat-quantized at 1e12 before the cumulative sum
    "ev25_nelson_aalen" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS f,
        |    max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS l
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(l) AS m FROM pu),
        |obs AS (
        |  SELECT CAST(date_diff('day', f, l) AS BIGINT) AS dur,
        |    CASE WHEN date_diff('day', l, (SELECT m FROM mx)) >= 1
        |         THEN 1 ELSE 0 END AS ev
        |  FROM pu),
        |bd AS (
        |  SELECT dur, count(*)::BIGINT AS c, CAST(sum(ev) AS BIGINT) AS d
        |  FROM obs GROUP BY 1),
        |nn AS (
        |  SELECT *, CAST(sum(c) OVER (ORDER BY dur DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
        |  FROM bd),
        |st AS (
        |  SELECT dur, n, d,
        |    CAST(round(d::DOUBLE / n * 1e12) AS BIGINT) AS hq
        |  FROM nn WHERE d > 0),
        |cm AS (
        |  SELECT dur, n, d,
        |    CAST(sum(hq) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum
        |  FROM st)
        |SELECT dur AS t, n AS n_risk, d AS n_events,
        |  round(cum::DOUBLE / 1e12, 6) AS cum_hazard,
        |  round(exp(-(cum::DOUBLE) / 1e12), 6) AS fh_survival
        |FROM cm""".stripMargin,

    // EV29: log-rank — ev25's risk-set CTEs split by the md5 arm;
    // hypergeometric E/V increments 1e12-quantized (same IEEE shapes),
    // χ² from the EXACT o1·10¹²−Σe1q BIGINT difference
    "ev29_logrank" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS f,
        |    max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS l,
        |    CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'lr', user_id)),
        |      1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.5 AS a
        |  FROM events GROUP BY user_id),
        |mx AS (SELECT max(l) AS m FROM pu),
        |obs AS (
        |  SELECT CAST(date_diff('day', f, l) AS BIGINT) AS dur,
        |    CASE WHEN date_diff('day', l, (SELECT m FROM mx)) >= 1
        |         THEN 1 ELSE 0 END AS ev,
        |    CASE WHEN a THEN 1 ELSE 0 END AS g1
        |  FROM pu),
        |bd AS (
        |  SELECT dur, count(*)::BIGINT AS c, CAST(sum(ev) AS BIGINT) AS d,
        |    CAST(sum(g1) AS BIGINT) AS c1,
        |    CAST(sum(ev * g1) AS BIGINT) AS d1
        |  FROM obs GROUP BY 1),
        |nn AS (
        |  SELECT *,
        |    CAST(sum(c) OVER (ORDER BY dur DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
        |    CAST(sum(c1) OVER (ORDER BY dur DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1
        |  FROM bd),
        |st AS (
        |  SELECT d1,
        |    CAST(round(n1::DOUBLE * d / n::DOUBLE * 1e12) AS BIGINT) AS e1q,
        |    CASE WHEN n > 1 THEN
        |      CAST(round(d::DOUBLE * n1 / n::DOUBLE * (n - n1) / n::DOUBLE
        |        * (n - d) / (n - 1)::DOUBLE * 1e12) AS BIGINT)
        |    ELSE 0 END AS vq
        |  FROM nn WHERE d > 0),
        |ag AS (
        |  SELECT count(*)::BIGINT AS n_times, CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(sum(e1q) AS BIGINT) AS e1s, CAST(sum(vq) AS BIGINT) AS vs
        |  FROM st)
        |SELECT n_times, o1,
        |  round(e1s::DOUBLE / 1e12, 6) AS e1,
        |  round(vs::DOUBLE / 1e12, 6) AS var,
        |  round(CASE WHEN vs > 0 THEN
        |    ((o1 * 1000000000000 - e1s)::DOUBLE / 1e12) *
        |    ((o1 * 1000000000000 - e1s)::DOUBLE / 1e12) /
        |    (vs::DOUBLE / 1e12) END, 6) AS chisq
        |FROM ag""".stripMargin,

    // AB2: Mann–Whitney — doubled integer ranks off the distinct-cents
    // histogram (all-BIGINT until the final z), tie-corrected variance
    // with the engine's exact expression shape
    "ab2_mann_whitney" ->
      """WITH h AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    count(*)::BIGINT AS t,
        |    CAST(sum(CASE WHEN CAST(CAST(concat('0x', substr(md5(
        |        concat_ws('|', 'mw', user_id)), 1, 8)) AS BIGINT) AS DOUBLE)
        |        / 4294967296.0 < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS t1
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (
        |  SELECT *,
        |    CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) - t AS below
        |  FROM h),
        |ag AS (
        |  SELECT CAST(sum(t1) AS BIGINT) AS n1,
        |    CAST(sum(t - t1) AS BIGINT) AS n2,
        |    CAST(sum(t1 * (below * 2 + t + 1)) AS BIGINT) AS r1_x2,
        |    CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
        |  FROM w),
        |fin AS (
        |  SELECT n1, n2, r1_x2, r1_x2 - n1 * (n1 + 1) AS u1_x2, tie_term
        |  FROM ag)
        |SELECT n1, n2, r1_x2, u1_x2, tie_term,
        |  round(CASE WHEN n1 > 0 AND n2 > 0 AND
        |      n1::DOUBLE * n2::DOUBLE / 12.0 * ((n1 + n2)::DOUBLE + 1.0
        |        - tie_term::DOUBLE / (n1 + n2)::DOUBLE
        |          / ((n1 + n2)::DOUBLE - 1.0)) > 0
        |    THEN (u1_x2 - n1 * n2)::DOUBLE /
        |      (sqrt(n1::DOUBLE * n2::DOUBLE / 12.0 * ((n1 + n2)::DOUBLE + 1.0
        |        - tie_term::DOUBLE / (n1 + n2)::DOUBLE
        |          / ((n1 + n2)::DOUBLE - 1.0))) * 2.0)
        |    END, 6) AS z
        |FROM fin""".stripMargin,

    // EV22: windowed conversion — first toType AT OR AFTER the first
    // touch (per-user first-touch via window, then conditional min
    // against it): a pre-touch conversion neither counts nor masks a
    // later in-window one
    "ev22_windowed_conversion" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS m,
        |    min(CASE WHEN event_type = 'view'
        |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
        |      OVER (PARTITION BY user_id) AS f
        |  FROM events),
        |pu AS (
        |  SELECT user_id, min(f) AS f,
        |    min(CASE WHEN event_type = 'purchase' AND m >= f THEN m END) AS t
        |  FROM e WHERE f IS NOT NULL GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_touched,
        |  CAST(sum(CASE WHEN t IS NOT NULL
        |                 AND t - f <= 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_converted,
        |  round(sum(CASE WHEN t IS NOT NULL
        |                  AND t - f <= 3600000000 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS rate
        |FROM pu""".stripMargin,

    // W26: per-sid moments — micro raw sums, central-moment identities
    // with the engine's operation order
    "w26_sid_moments" ->
      s"""WITH $panelCte,
         |rr AS (
         |  SELECT sid,
         |    CAST(round((close / lag(close)
         |      OVER (PARTITION BY sid ORDER BY date) - 1) * 1e6) AS BIGINT)
         |      AS r
         |  FROM panel),
         |ag AS (
         |  SELECT sid, count(*) AS n,
         |    sum(r::HUGEINT) AS s1,
         |    sum(r::HUGEINT * r) AS s2,
         |    sum(r::HUGEINT * r * r) AS s3,
         |    sum(r::HUGEINT * r * r * r) AS s4
         |  FROM rr WHERE r IS NOT NULL GROUP BY 1),
         |mm AS (
         |  SELECT sid, n, CAST(n AS DOUBLE) AS nd,
         |    s1::DOUBLE / n AS mu,
         |    s2::DOUBLE / n AS a2, s3::DOUBLE / n AS a3,
         |    s4::DOUBLE / n AS a4
         |  FROM ag),
         |cm AS (
         |  SELECT sid, n,
         |    a2 - mu * mu AS m2,
         |    a3 - 3.0 * mu * a2 + 2.0 * mu * mu * mu AS m3,
         |    a4 - 4.0 * mu * a3 + 6.0 * mu * mu * a2
         |      - 3.0 * mu * mu * mu * mu AS m4
         |  FROM mm)
         |SELECT sid, CAST(n AS BIGINT) AS n_days,
         |  round(CASE WHEN n >= 3 AND m2 > 0
         |        THEN m3 / pow(sqrt(m2), 3.0) END, 6) + 0.0 AS skewness,
         |  round(CASE WHEN n >= 3 AND m2 > 0
         |        THEN m4 / (m2 * m2) - 3.0 END, 6) + 0.0
         |    AS excess_kurtosis
         |FROM cm""".stripMargin,

    // EV21: session co-occurrence — the ev2 session chain, distinct
    // per-session type sets, pair lift from exact session counts
    "ev21_cooccurrence" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |                 OR epoch_us(ts) - prev > 1800000000 THEN 1 ELSE 0
        |            END AS nw
        |  FROM (SELECT *, lag(epoch_us(ts)) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |        FROM e)),
        |x AS (
        |  SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS session_idx
        |  FROM s),
        |st AS (SELECT DISTINCT user_id, session_idx, event_type FROM x),
        |ns AS (SELECT count(*) AS n FROM
        |       (SELECT DISTINCT user_id, session_idx FROM st)),
        |pt AS (SELECT event_type, count(*)::BIGINT AS n FROM st GROUP BY 1),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*)::BIGINT AS n_sessions
        |  FROM st a
        |  JOIN st b ON a.user_id = b.user_id
        |           AND a.session_idx = b.session_idx
        |           AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_sessions,
        |  round(n_sessions::DOUBLE * (SELECT n FROM ns)
        |    / (pa.n::DOUBLE * pb.n::DOUBLE), 6) AS lift
        |FROM pr
        |JOIN pt pa ON pr.type_a = pa.event_type
        |JOIN pt pb ON pr.type_b = pb.event_type""".stripMargin,

    // first-occurrence funnel: per-user conditional mins, monotone chain
    "ev3_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
        |  FROM events GROUP BY 1),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
        |                 AND t1 <= t2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
        |                 AND t3 IS NOT NULL AND t1 <= t2 AND t2 <= t3
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM f)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step, n1 AS n_users FROM c
        |UNION ALL SELECT 2, 'click', n2 FROM c
        |UNION ALL SELECT 3, 'purchase', n3 FROM c""".stripMargin,

    // day-cohort retention: distinct active days joined to first day
    "ev4_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |co AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
        |SELECT co.cohort_day,
        |  CAST(ud.day - co.cohort_day AS BIGINT) AS day_offset,
        |  count(*)::BIGINT AS n_users
        |FROM ud JOIN co USING (user_id) GROUP BY 1, 2""".stripMargin,

    // z-score anomalies: mean/std ROUNDED before the division so z
    // divides identical inputs in both engines
    "ev6_anomaly" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, day, cnt,
        |    count(cnt) OVER w = 7 AS fw,
        |    round(avg(cnt) OVER w, 6) AS mean,
        |    round(stddev_samp(cnt) OVER w, 6) AS std
        |  FROM d
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, cnt, mean, std,
        |  CASE WHEN fw AND std > 0
        |       THEN round((cnt - mean) / std, 6) END AS z,
        |  coalesce(abs(CASE WHEN fw AND std > 0
        |                    THEN round((cnt - mean) / std, 6) END) >= 2.0,
        |           false) AS anomaly
        |FROM s""".stripMargin,

    // consecutive event-type bigrams; topK 25 covers every pair of the
    // 5 types, so the limit cannot truncate
    "ev5_transitions" ->
      """WITH x AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*)::BIGINT AS n
        |FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "d1_equal_weights" ->
      s"""WITH $sigCte
         |SELECT sid, date, signal, weight FROM wts""".stripMargin,

    "d5_neutralize" ->
      s"""WITH $panelCte,
         |sig AS (
         |  SELECT sid, date, CASE WHEN close < 30000 THEN 1.0 ELSE -1.0 END AS w FROM panel),
         |tot AS (
         |  SELECT *,
         |    sum(CASE WHEN w > 0 THEN w ELSE 0 END) OVER (PARTITION BY date) AS tl,
         |    sum(abs(CASE WHEN w < 0 THEN w ELSE 0 END)) OVER (PARTITION BY date) AS tsh
         |  FROM sig),
         |sides AS (
         |  SELECT sid, date, CASE WHEN w > 0 THEN w ELSE 0 END AS lw,
         |         CASE WHEN w < 0 THEN w ELSE 0 END AS sw, tl, tsh FROM tot),
         |scaled AS (
         |  SELECT sid, date,
         |    CASE WHEN tl <= tsh THEN lw
         |         ELSE lw * tsh / (CASE WHEN tl = 0 THEN 1 ELSE tl END) END AS lsc,
         |    CASE WHEN tsh <= tl THEN sw
         |         ELSE sw * tl / (CASE WHEN tsh = 0 THEN 1 ELSE tsh END) END AS ssc
         |  FROM sides)
         |SELECT sid, date, (CASE WHEN lsc > 0 THEN lsc ELSE ssc END) + 0.0 AS weight FROM scaled""".stripMargin,

    "d6_turnover" ->
      s"""WITH $turnoverCte
         |SELECT sid, date, turnover FROM trn""".stripMargin,

    // D33: d5's neutralized book, shorts clamped by the locate table
    // (missing locate → unshortable, −0.0 normalized on both engines)
    "d33_borrow_constraint" ->
      s"""WITH $panelCte,
         |sig AS (
         |  SELECT sid, date, CASE WHEN close < 30000 THEN 1.0 ELSE -1.0 END AS w FROM panel),
         |tot AS (
         |  SELECT *,
         |    sum(CASE WHEN w > 0 THEN w ELSE 0 END) OVER (PARTITION BY date) AS tl,
         |    sum(abs(CASE WHEN w < 0 THEN w ELSE 0 END)) OVER (PARTITION BY date) AS tsh
         |  FROM sig),
         |sides AS (
         |  SELECT sid, date, CASE WHEN w > 0 THEN w ELSE 0 END AS lw,
         |         CASE WHEN w < 0 THEN w ELSE 0 END AS sw, tl, tsh FROM tot),
         |scaled AS (
         |  SELECT sid, date,
         |    CASE WHEN tl <= tsh THEN lw
         |         ELSE lw * tsh / (CASE WHEN tl = 0 THEN 1 ELSE tl END) END AS lsc,
         |    CASE WHEN tsh <= tl THEN sw
         |         ELSE sw * tl / (CASE WHEN tsh = 0 THEN 1 ELSE tsh END) END AS ssc
         |  FROM sides),
         |nw AS (
         |  SELECT sid, date,
         |    (CASE WHEN lsc > 0 THEN lsc ELSE ssc END) + 0.0 AS w FROM scaled),
         |bor AS (
         |  SELECT s_suppkey AS sid, 0.02 AS msw FROM supplier
         |  WHERE s_suppkey % 2 = 1)
         |SELECT n.sid, n.date,
         |  CASE WHEN n.w < 0
         |       THEN (-least(-n.w, coalesce(b.msw, 0.0))) + 0.0
         |       ELSE n.w END AS weight,
         |  (n.w < 0 AND (b.msw IS NULL OR -n.w > b.msw)) AS was_constrained
         |FROM nw n LEFT JOIN bor b ON n.sid = b.sid""".stripMargin,

    "d16_limit" ->
      s"""WITH $sigCte,
         |qty AS (
         |  SELECT *, coalesce(round(weight * 1000000 / close), 0) AS q FROM wts),
         |cl AS (SELECT *, least(greatest(q, -10), 10) AS clamped FROM qty)
         |SELECT sid, date, q AS qty, clamped,
         |       clamped * close / 1000000 AS constrained_weight
         |FROM cl""".stripMargin,

    "d8_commission" ->
      s"""WITH $turnoverCte,
         |br AS (SELECT *, turnover * 0.001 AS broker FROM trn)
         |SELECT sid, date,
         |  (CASE WHEN broker > 0 AND broker < 2.5 / 1000000
         |        THEN 2.5 / 1000000 ELSE broker END) + turnover * 0.0002 AS commission
         |FROM br""".stripMargin,

    // literals summed as DOUBLEs: DuckDB would otherwise add them as
    // exact DECIMALs (2.04), one ulp off the engine's double sum — at
    // sf0.1 one row of 533k straddles the 9-decimal compare boundary
    "d10_futures_commission" ->
      s"""WITH $turnoverCte
         |SELECT sid, date,
         |  (CASE WHEN close <> 0
         |        THEN (0.85::DOUBLE + 1.18::DOUBLE + 0.01::DOUBLE) / close END)
         |    * turnover AS commission
         |FROM trn""".stripMargin,

    "d11_spotfx" ->
      s"""WITH $turnoverCte
         |SELECT sid, date, turnover * 0.00002 + turnover * 0.0 AS commission
         |FROM trn""".stripMargin,

    "d13_slippage" ->
      s"""WITH $turnoverCte
         |SELECT sid, date, turnover * 0.0005 AS slippage FROM trn""".stripMargin,

    "d21_order_stubs" ->
      s"""WITH $sigCte,
         |lastd AS (SELECT max(date) AS d FROM panel),
         |today AS (
         |  SELECT sid, 'U1' AS account,
         |         coalesce(round(weight * 1000000 / close), 0) AS tq
         |  FROM wts JOIN lastd ON wts.date = lastd.d),
         |held AS (
         |  SELECT s_suppkey AS sid, 'U1' AS account,
         |         round(s_acctbal / 1000) AS quantity FROM supplier),
         |net AS (
         |  SELECT t.sid, t.account, t.tq - coalesce(h.quantity, 0) AS nq
         |  FROM today t LEFT JOIN held h ON t.sid = h.sid AND t.account = h.account)
         |SELECT sid, account, CASE WHEN nq > 0 THEN 'BUY' ELSE 'SELL' END AS action,
         |       'demo' AS "orderRef", CAST(round(abs(nq)) AS BIGINT) AS "totalQuantity"
         |FROM net WHERE nq <> 0 AND round(nq) <> 0""".stripMargin,

    "d23_child_orders" ->
      """WITH stubs AS (
        |  SELECT CAST(s_suppkey AS VARCHAR) AS sid, 'U1' AS account,
        |         CASE WHEN s_suppkey % 2 = 0 THEN 'BUY' ELSE 'SELL' END AS action,
        |         'demo' AS "orderRef", CAST(round(s_acctbal) AS BIGINT) AS "totalQuantity"
        |  FROM supplier WHERE s_acctbal > 0),
        |parents AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY sid, account) - 1 AS VARCHAR)
        |            || '.0' AS "orderId"
        |  FROM stubs)
        |SELECT sid, account, action, "orderRef", "totalQuantity", "orderId",
        |       CAST(NULL AS VARCHAR) AS "parentId"
        |FROM parents
        |UNION ALL
        |SELECT sid, account, CASE WHEN action = 'BUY' THEN 'SELL' ELSE 'BUY' END,
        |       "orderRef", "totalQuantity", CAST(NULL AS VARCHAR), "orderId"
        |FROM parents""".stripMargin,

    "d3_fixed_capped" ->
      s"""WITH $panelCte,
         |sig AS (SELECT sid, date, CAST(close < 30000 AS INT) AS signal FROM panel),
         |f AS (SELECT sid, date, signal, signal * 0.25 AS fixed FROM sig),
         |s2 AS (
         |  SELECT *, sum(abs(fixed)) OVER (PARTITION BY date) AS fsum,
         |         sum(abs(signal)) OVER (PARTITION BY date) AS scount
         |  FROM f)
         |SELECT sid, date, CAST(fixed AS DOUBLE) AS fixed_weight,
         |  CASE WHEN fsum > 1.0
         |       THEN CAST(signal AS DOUBLE) /
         |            (CASE WHEN scount <> 0 THEN scount ELSE 1 END)
         |       ELSE fixed END AS capped_weight
         |FROM s2""".stripMargin,

    "d4_market_neutral" ->
      s"""WITH $panelCte,
         |sig AS (
         |  SELECT sid, date, CASE WHEN close < 30000 THEN 1.0 ELSE -1.0 END AS sg
         |  FROM panel),
         |sides AS (
         |  SELECT sid, date, CASE WHEN sg > 0 THEN sg ELSE 0 END AS ls,
         |         CASE WHEN sg < 0 THEN sg ELSE 0 END AS ss FROM sig),
         |sums AS (
         |  SELECT *,
         |    sum(abs(ls * 0.25)) OVER (PARTITION BY date) AS fl,
         |    sum(abs(ls)) OVER (PARTITION BY date) AS nl,
         |    sum(abs(ss * 0.25)) OVER (PARTITION BY date) AS fs,
         |    sum(abs(ss)) OVER (PARTITION BY date) AS ns
         |  FROM sides),
         |capped AS (
         |  SELECT sid, date,
         |    CASE WHEN fl > 0.5
         |         THEN ls / (CASE WHEN nl <> 0 THEN nl ELSE 1 END) * 0.5
         |         ELSE ls * 0.25 END AS lw,
         |    CASE WHEN fs > 0.5
         |         THEN ss / (CASE WHEN ns <> 0 THEN ns ELSE 1 END) * 0.5
         |         ELSE ss * 0.25 END AS sw
         |  FROM sums),
         |comb AS (SELECT sid, date, CASE WHEN lw > 0 THEN lw ELSE sw END AS w FROM capped),
         |tot AS (
         |  SELECT *,
         |    sum(CASE WHEN w > 0 THEN w ELSE 0 END) OVER (PARTITION BY date) AS tl,
         |    sum(abs(CASE WHEN w < 0 THEN w ELSE 0 END)) OVER (PARTITION BY date) AS tsh
         |  FROM comb),
         |sides2 AS (
         |  SELECT sid, date, CASE WHEN w > 0 THEN w ELSE 0 END AS lw2,
         |         CASE WHEN w < 0 THEN w ELSE 0 END AS sw2, tl, tsh FROM tot),
         |scaled AS (
         |  SELECT sid, date,
         |    CASE WHEN tl <= tsh THEN lw2
         |         ELSE lw2 * tsh / (CASE WHEN tl = 0 THEN 1 ELSE tl END) END AS lsc,
         |    CASE WHEN tsh <= tl THEN sw2
         |         ELSE sw2 * tl / (CASE WHEN tsh = 0 THEN 1 ELSE tsh END) END AS ssc
         |  FROM sides2)
         |SELECT sid, date, (CASE WHEN lsc > 0 THEN lsc ELSE ssc END) + 0.0 AS weight
         |FROM scaled""".stripMargin,

    "s10_bucketed_scan" ->
      s"""WITH $panelCte
         |SELECT sid, date, close FROM panel
         |WHERE date >= DATE '1995-01-01' AND date <= DATE '1995-06-30'
         |  AND date >= DATE '1995-01-01' AND date <= DATE '1995-03-31'""".stripMargin,

    "trade_full" -> tradeFullSql("SELECT max(date) AS d FROM panel"),

    // trade_cal: the closed-calendar signal date resolves to the
    // second-to-last panel date (the exchange's last close)
    "trade_cal" -> tradeFullSql(
      "SELECT max(date) AS d FROM panel WHERE date < (SELECT max(date) FROM panel)"),

    "d19_benchmark" ->
      s"""WITH $panelCte,
         |dates AS (SELECT DISTINCT date FROM panel),
         |bc AS (SELECT date, close FROM panel WHERE sid = 1),
         |f AS (
         |  SELECT d.date,
         |    last_value(bc.close IGNORE NULLS) OVER (ORDER BY d.date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM dates d LEFT JOIN bc ON d.date = bc.date)
         |SELECT '1' AS sid, date, 'Benchmark' AS field,
         |       coalesce(c / lag(c) OVER (ORDER BY date) - 1, 0.0) AS value
         |FROM f""".stripMargin,

    "d14_borrow_fees" ->
      s"""WITH $panelCte,
         |pos AS (
         |  SELECT sid, date, CASE WHEN close < 30000 THEN 1.0 ELSE -1.0 END AS position
         |  FROM panel),
         |fees AS (
         |  SELECT DISTINCT sid, CAST(date_trunc('month', date) AS DATE) AS fdate,
         |         CAST(sid % 5 + 1 AS DOUBLE) AS borrow_fee
         |  FROM panel),
         |aj AS (
         |  SELECT p.sid, p.date, p.position, f.borrow_fee
         |  FROM pos p ASOF LEFT JOIN fees f
         |    ON p.sid = f.sid AND p.date >= f.fdate),
         |g AS (
         |  SELECT *, coalesce(date_diff('day',
         |    lag(date) OVER (PARTITION BY sid ORDER BY date), date), 1) AS days
         |  FROM aj)
         |SELECT sid, date,
         |  abs(CASE WHEN position < 0 THEN position ELSE 0 END) * 1.02 *
         |    (borrow_fee / 100 / 360) * days AS borrow_cost
         |FROM g""".stripMargin,

    "d7_contract_values" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  CASE WHEN sid % 3 = 0 THEN 1.0
         |       WHEN sid % 3 = 1 THEN close
         |       ELSE close / 100.0 * 50.0 END AS contract_value
         |FROM panel""".stripMargin,

    "d12_commission_dispatch" ->
      s"""WITH $turnoverCte,
         |cm AS (
         |  SELECT sid, date, turnover, close,
         |    CASE WHEN sid % 3 = 0 THEN 'CASH'
         |         WHEN sid % 3 = 1 THEN 'STK' ELSE 'FUT' END AS st,
         |    CASE WHEN sid % 3 = 2 THEN close / 100.0 * 50.0 ELSE close END AS cv0
         |  FROM trn)
         |SELECT sid, date, 'Commission' AS field,
         |  CASE WHEN st = 'CASH' THEN turnover * 0.00002
         |       WHEN st = 'STK' THEN turnover * 0.001
         |       ELSE 2.03 / cv0 * turnover END AS value
         |FROM cm""".stripMargin,

    "w8_resample" ->
      s"""SELECT l_suppkey AS sid, CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         |  CAST(sum(${c("l_extendedprice")}) AS BIGINT) AS price_cents,
         |  count(*) AS n_bars
         |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "d20_latest_before" ->
      s"""SELECT user_id, CAST(ts AS DATE) AS day,
         |  max_by(event_id, ts) AS last_event_id,
         |  max_by(${c("value")}, ts) AS last_cents
         |FROM events WHERE strftime(ts, '%H:%M:%S') < '12:00:00'
         |GROUP BY 1, 2""".stripMargin,

    "r7_densify" ->
      s"""WITH $panelCte,
         |p AS (SELECT * FROM panel WHERE sid <= 5),
         |grid AS (
         |  SELECT s.sid, d.date
         |  FROM (SELECT DISTINCT date FROM p) d
         |  CROSS JOIN (SELECT DISTINCT sid FROM p) s),
         |j AS (
         |  SELECT g.sid, g.date, p2.close
         |  FROM grid g LEFT JOIN p p2 ON g.sid = p2.sid AND g.date = p2.date)
         |SELECT sid, date,
         |  last_value(close IGNORE NULLS) OVER (PARTITION BY sid ORDER BY date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close
         |FROM j""".stripMargin,

    "a2_long_short_sums" ->
      s"""WITH $panelCte
         |SELECT date,
         |  CAST(sum(CASE WHEN close < 30000 THEN 1.0 ELSE 0 END) AS BIGINT) AS long_total,
         |  CAST(sum(CASE WHEN close >= 30000 THEN 1.0 ELSE 0 END) AS BIGINT) AS short_total
         |FROM panel GROUP BY date""".stripMargin,

    "ml1_linear_model" ->
      s"""WITH $panelCte,
         |f AS (
         |  SELECT sid, date,
         |    close / lag(close, 1) OVER (PARTITION BY sid ORDER BY date) - 1 AS r1,
         |    close / lag(close, 2) OVER (PARTITION BY sid ORDER BY date) - 1 AS r2
         |  FROM panel),
         |p AS (
         |  SELECT sid, date,
         |    0.01 + coalesce(r1, 0) * 0.4 + coalesce(r2, 0) * (-0.2) AS prediction
         |  FROM f)
         |SELECT sid, date, prediction, CAST(prediction > 0 AS INT) AS signal FROM p""".stripMargin,

    "intraday_pipeline" ->
      s"""WITH panel AS (
         |  SELECT user_id AS sid, CAST(ts AS DATE) AS date, strftime(ts, '%H') AS time,
         |         CAST(max(${c("value")}) AS DOUBLE) AS close
         |  FROM events GROUP BY 1, 2, 3),
         |sig AS (
         |  SELECT sid, date, time, close,
         |         CASE WHEN close <= 5000 THEN 1 ELSE -1 END AS signal FROM panel),
         |wts AS (
         |  SELECT *, CAST(signal AS DOUBLE) /
         |    (CASE WHEN sum(abs(signal)) OVER (PARTITION BY date, time) <> 0
         |          THEN sum(abs(signal)) OVER (PARTITION BY date, time) ELSE 1 END) AS weight
         |  FROM sig),
         |pos AS (
         |  SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date, time) AS position
         |  FROM wts),
         |gro AS (
         |  SELECT *, (close / lag(close) OVER (PARTITION BY sid ORDER BY date, time) - 1) *
         |    lag(position) OVER (PARTITION BY sid ORDER BY date, time) AS gross
         |  FROM pos),
         |trn AS (
         |  SELECT *, abs(coalesce(position, 0) -
         |    lag(coalesce(position, 0)) OVER (PARTITION BY sid ORDER BY date, time)) AS turnover
         |  FROM gro),
         |m AS (SELECT sid, date, time, signal, weight, position, gross, turnover FROM trn)
         |SELECT sid, date, time, 'AbsExposure' AS field, abs(position) AS value FROM m
         |UNION ALL SELECT sid, date, time, 'AbsWeight', abs(weight) FROM m
         |UNION ALL SELECT sid, date, time, 'Commission', 0.0 FROM m
         |UNION ALL SELECT sid, date, time, 'NetExposure', position FROM m
         |UNION ALL SELECT sid, date, time, 'Return', coalesce(gross, 0.0) FROM m
         |UNION ALL SELECT sid, date, time, 'Signal', CAST(signal AS DOUBLE) FROM m
         |UNION ALL SELECT sid, date, time, 'Slippage', 0.0 FROM m
         |UNION ALL SELECT sid, date, time, 'TotalHoldings',
         |  CASE WHEN coalesce(position, 0) <> 0 THEN 1.0 ELSE 0.0 END FROM m
         |UNION ALL SELECT sid, date, time, 'Turnover', turnover FROM m
         |UNION ALL SELECT sid, date, time, 'Weight', weight FROM m""".stripMargin,

    "d19b_benchmark_db" ->
      s"""WITH panel AS (
         |  SELECT l_suppkey AS sid, CAST(l_shipdate AS DATE) AS date,
         |         max(l_extendedprice) AS close
         |  FROM lineitem WHERE l_suppkey <= 25 GROUP BY 1, 2),
         |dates AS (SELECT DISTINCT date FROM panel),
         |bm AS (
         |  SELECT CAST(o_orderdate AS DATE) AS date, max(o_totalprice) AS close
         |  FROM orders GROUP BY 1),
         |f AS (
         |  SELECT d.date,
         |    last_value(bm.close IGNORE NULLS) OVER (ORDER BY d.date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM dates d LEFT JOIN bm ON d.date = bm.date)
         |SELECT 'BM' AS sid, date, 'Benchmark' AS field,
         |       coalesce(c / lag(c) OVER (ORDER BY date) - 1, 0.0) AS value
         |FROM f""".stripMargin,

    "d19i_benchmark_time" ->
      s"""WITH ev AS (
         |  SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
         |         strftime(ts, '%H') AS time,
         |         CAST(max(${c("value")}) AS DOUBLE) AS close
         |  FROM events GROUP BY 1, 2, 3),
         |dates AS (SELECT DISTINCT date FROM ev),
         |bc AS (SELECT date, close FROM ev WHERE sid = '3' AND time = '11'),
         |f AS (
         |  SELECT d.date,
         |    last_value(bc.close IGNORE NULLS) OVER (ORDER BY d.date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM dates d LEFT JOIN bc ON d.date = bc.date)
         |SELECT '3' AS sid, date, 'Benchmark' AS field,
         |       coalesce(c / lag(c) OVER (ORDER BY date) - 1, 0.0) AS value
         |FROM f""".stripMargin,

    // forest = mean over trees of normalized leaf counts; with the query's
    // dyadic leaves the per-branch probabilities are exactly 0.375 /
    // 0.625 / 0.8125 (tree1 {0.25, 0.75, 0.875} avg'd with tree2
    // {0.5, 0.5, 0.75}) — stated directly, so the oracle independently
    // pins the ensemble math rather than re-running it
    "ml3_forest_proba" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  CAST(CASE WHEN NOT (close < 30000) THEN 0.375
         |            WHEN NOT (close < 15000) THEN 0.625 ELSE 0.8125 END AS DOUBLE)
         |    AS prediction,
         |  CAST((CASE WHEN NOT (close < 30000) THEN 0.375
         |             WHEN NOT (close < 15000) THEN 0.625 ELSE 0.8125 END) < 0.5 AS INT)
         |    AS signal
         |FROM panel""".stripMargin,

    "ml2_tree_proba" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  CAST(CASE WHEN NOT (close < 30000) THEN 0.9
         |            WHEN NOT (close < 15000) THEN 0.3 ELSE 0.1 END AS DOUBLE)
         |    AS prediction,
         |  CAST((CASE WHEN NOT (close < 30000) THEN 0.9
         |             WHEN NOT (close < 15000) THEN 0.3 ELSE 0.1 END) < 0.5 AS INT)
         |    AS signal
         |FROM panel""".stripMargin,

    "d17_trade_limits" ->
      s"""WITH $panelCte,
         |sig AS (
         |  SELECT sid, date, close,
         |         CASE WHEN close < 30000 THEN 1 ELSE -1 END AS signal FROM panel),
         |wts AS (
         |  SELECT *, CAST(signal AS DOUBLE) /
         |    (CASE WHEN sum(abs(signal)) OVER (PARTITION BY date) <> 0
         |          THEN sum(abs(signal)) OVER (PARTITION BY date) ELSE 1 END) AS weight
         |  FROM sig),
         |lastd AS (SELECT max(date) AS d FROM panel),
         |today AS (
         |  SELECT sid, weight, close FROM wts JOIN lastd ON wts.date = lastd.d),
         |targets AS (
         |  SELECT sid,
         |    coalesce(round(weight * 1.0 * 1000000.0 * 1.0 /
         |      abs(CASE WHEN close <> 0 THEN close END)), 0) AS tq
         |  FROM today),
         |lim AS (
         |  SELECT DISTINCT sid, CAST(100 + (sid % 7) * 50 AS DOUBLE) AS mx FROM panel),
         |clamped AS (
         |  SELECT t.sid,
         |    CASE WHEN tq > mx THEN mx WHEN tq < -mx THEN -mx ELSE tq END AS nq
         |  FROM targets t JOIN lim ON t.sid = lim.sid)
         |SELECT sid, 'U1' AS account,
         |       CASE WHEN nq > 0 THEN 'BUY' ELSE 'SELL' END AS action,
         |       'd17' AS "orderRef", CAST(round(abs(nq)) AS BIGINT) AS "totalQuantity"
         |FROM clamped WHERE nq <> 0 AND round(nq) <> 0""".stripMargin,

    "s8_custom_fields" ->
      s"""WITH panel AS (
         |  SELECT l_suppkey AS sid, CAST(l_shipdate AS DATE) AS date,
         |         max(l_extendedprice) AS close, count(*) AS n_trades
         |  FROM lineitem WHERE l_suppkey <= 25 GROUP BY 1, 2),
         |sig AS (
         |  SELECT sid, date, close, n_trades,
         |         CAST(close < 30000 AS INT) AS signal FROM panel),
         |wts AS (
         |  SELECT *, CAST(signal AS DOUBLE) /
         |    (CASE WHEN sum(abs(signal)) OVER (PARTITION BY date) <> 0
         |          THEN sum(abs(signal)) OVER (PARTITION BY date) ELSE 1 END) AS weight
         |  FROM sig),
         |pos AS (
         |  SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts),
         |trn AS (
         |  SELECT *, abs(coalesce(position, 0) -
         |    lag(coalesce(position, 0)) OVER (PARTITION BY sid ORDER BY date)) AS turnover
         |  FROM pos),
         |m AS (
         |  SELECT *,
         |    (close / lag(close) OVER (PARTITION BY sid ORDER BY date) - 1) *
         |      lag(position) OVER (PARTITION BY sid ORDER BY date) AS gross,
         |    lag(close) OVER (PARTITION BY sid ORDER BY date) AS prev_close
         |  FROM trn)
         |SELECT sid, date, 'AbsExposure' AS field, abs(position) AS value FROM m
         |UNION ALL SELECT sid, date, 'AbsWeight', abs(weight) FROM m
         |UNION ALL SELECT sid, date, 'Commission', 0.0 FROM m
         |UNION ALL SELECT sid, date, 'NetExposure', position FROM m
         |UNION ALL SELECT sid, date, 'Return', coalesce(gross, 0.0) FROM m
         |UNION ALL SELECT sid, date, 'Signal', CAST(signal AS DOUBLE) FROM m
         |UNION ALL SELECT sid, date, 'Slippage', 0.0 FROM m
         |UNION ALL SELECT sid, date, 'TotalHoldings',
         |  CASE WHEN coalesce(position, 0) <> 0 THEN 1.0 ELSE 0.0 END FROM m
         |UNION ALL SELECT sid, date, 'Turnover', turnover FROM m
         |UNION ALL SELECT sid, date, 'Weight', weight FROM m
         |UNION ALL SELECT sid, date, 'DollarVolume', close * n_trades FROM m
         |UNION ALL SELECT sid, date, 'PrevClose', prev_close FROM m""".stripMargin,

    // perf_*: per-date Return aggregation (exact integer-pico sum of the
    // ×0.001-damped gross, mirroring the Spark operation order) →
    // sign-aware cumprod via exp∘Σln|1+r| with the running negative
    // count choosing the sign; outputs rounded to 6dp to absorb
    // cross-engine libm ulp noise
    "perf_daily" ->
      s"""WITH $perfPkCte
         |SELECT date, r AS "return", round(c - 1, 6) AS cum_return,
         |       round(CASE WHEN p <> 0 THEN c / p - 1 END, 6) AS drawdown
         |FROM pk""".stripMargin,

    "perf_summary" ->
      s"""WITH $perfPkCte,
         |st AS (
         |  SELECT count(*) AS n_days, arg_max(c, date) AS endc, avg(r) AS mu,
         |         stddev_samp(r) AS sigma,
         |         min(CASE WHEN p <> 0 THEN c / p - 1 END) AS mdd
         |  FROM pk)
         |SELECT CAST(n_days AS BIGINT) AS n_days,
         |  round(endc - 1, 6) AS total_return,
         |  round(CASE WHEN endc > 0
         |             THEN pow(endc, 252.0 / n_days) - 1 END, 6) AS cagr,
         |  round(mu / sigma * sqrt(252.0), 6) AS sharpe,
         |  round(mdd, 6) AS max_drawdown
         |FROM st""".stripMargin,

    // Sharpe CI — pico raw moments, Lo (2002) SE, same op order as the
    // engine
    "perf_sharpe_ci" ->
      s"""WITH $perfRetCte,
         |q AS (SELECT CAST(round(r * 1e12) AS HUGEINT) AS p FROM ret),
         |ag AS (SELECT count(*) AS n, sum(p) AS s, sum(p * p) AS ss
         |       FROM q),
         |fin AS (
         |  SELECT n, s::DOUBLE / n AS mup,
         |    sqrt(greatest((n * ss - s * s)::DOUBLE
         |      / (n::DOUBLE * (n - 1)), 0.0)) AS sgp
         |  FROM ag),
         |sr AS (
         |  SELECT n, mup / sgp AS srd,
         |    sqrt((1.0 + (mup / sgp) * (mup / sgp) / 2.0) / n::DOUBLE)
         |      AS sed,
         |    (n >= 2 AND sgp > 0) AS ok
         |  FROM fin)
         |SELECT CAST(n AS BIGINT) AS n_days,
         |  round(CASE WHEN ok THEN srd * sqrt(252.0) END, 6) AS sharpe,
         |  round(CASE WHEN ok THEN sed * sqrt(252.0) END, 6) AS se,
         |  round(CASE WHEN ok THEN (srd - 1.959964 * sed) * sqrt(252.0)
         |        END, 6) + 0.0 AS ci_lo,
         |  round(CASE WHEN ok THEN (srd + 1.959964 * sed) * sqrt(252.0)
         |        END, 6) AS ci_hi
         |FROM sr""".stripMargin,

    "perf_ratios" ->
      s"""WITH $perfPkCte,
         |st AS (
         |  SELECT count(*) AS n_days, arg_max(c, date) AS endc, avg(r) AS mu,
         |         stddev_samp(r) AS sigma,
         |         avg(pow(least(r, 0.0), 2)) AS dvar,
         |         min(CASE WHEN p <> 0 THEN c / p - 1 END) AS mdd,
         |         CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins
         |  FROM pk)
         |SELECT CAST(n_days AS BIGINT) AS n_days,
         |  round(sigma * sqrt(252.0), 6) AS ann_volatility,
         |  round(CASE WHEN dvar > 0 THEN mu / sqrt(dvar) * sqrt(252.0) END, 6)
         |    AS sortino,
         |  round(CASE WHEN mdd < 0 AND endc > 0
         |             THEN (pow(endc, 252.0 / n_days) - 1) / -mdd END, 6) AS calmar,
         |  round(wins::DOUBLE / n_days, 6) AS hit_rate
         |FROM st""".stripMargin,

    // rolling Sharpe: windowed mean/std over the per-date pico-sum
    // series; std accumulation order is engine-internal → 6dp rounding
    "perf_rolling" ->
      s"""WITH $perfRetCte
         |SELECT date, r AS "return",
         |  round(CASE WHEN count(r) OVER w = 21
         |              AND stddev_samp(r) OVER w <> 0
         |             THEN avg(r) OVER w / stddev_samp(r) OVER w * sqrt(252.0)
         |        END, 6) AS rolling_sharpe_21
         |FROM ret
         |WINDOW w AS (ORDER BY date ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)""".stripMargin,

    "perf_benchmark" ->
      s"""WITH $perfRetCte,
         |dates AS (SELECT DISTINCT date FROM panel),
         |bcl AS (SELECT date, close FROM panel WHERE sid = 1),
         |bf AS (
         |  SELECT d.date,
         |    last_value(bcl.close IGNORE NULLS) OVER (ORDER BY d.date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM dates d LEFT JOIN bcl ON d.date = bcl.date),
         |br AS (
         |  SELECT date, coalesce(c / lag(c) OVER (ORDER BY date) - 1, 0.0) AS b
         |  FROM bf),
         |j AS (SELECT ret.date, r, b FROM ret JOIN br ON ret.date = br.date),
         |st AS (
         |  SELECT count(*) AS n_days, covar_samp(r, b) AS cv, var_samp(b) AS vb,
         |         avg(r) AS mur, avg(b) AS mub, corr(r, b) AS co
         |  FROM j)
         |SELECT CAST(n_days AS BIGINT) AS n_days,
         |  round(CASE WHEN vb <> 0 THEN cv / vb END, 6) AS beta,
         |  round(CASE WHEN vb <> 0 THEN (mur - cv / vb * mub) * 252 END, 6) AS alpha,
         |  round(co, 6) AS correlation
         |FROM st""".stripMargin,

    // trailing 21-day beta: windowed cov/var over the SAME joint series
    // as perf_benchmark; covariance accumulation order → 6dp rounding
    "perf_rollbeta" ->
      s"""WITH $perfRetCte,
         |dates AS (SELECT DISTINCT date FROM panel),
         |bcl AS (SELECT date, close FROM panel WHERE sid = 1),
         |bf AS (
         |  SELECT d.date,
         |    last_value(bcl.close IGNORE NULLS) OVER (ORDER BY d.date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM dates d LEFT JOIN bcl ON d.date = bcl.date),
         |br AS (
         |  SELECT date, coalesce(c / lag(c) OVER (ORDER BY date) - 1, 0.0) AS b
         |  FROM bf),
         |j AS (SELECT ret.date, r, b FROM ret JOIN br ON ret.date = br.date)
         |SELECT date, r AS "return", b AS bench_return,
         |  round(CASE WHEN count(*) OVER w = 21 AND var_samp(b) OVER w <> 0
         |             THEN covar_samp(r, b) OVER w / var_samp(b) OVER w
         |        END, 6) + 0.0 AS rolling_beta_21
         |FROM j
         |WINDOW w AS (ORDER BY date ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)""".stripMargin,

    // calendar-month Π(1+r)−1 with the sign/zero rules; the log-space
    // sum is micro-nat-quantized to an exact integer sum, as the Spark side
    "perf_monthly" ->
      s"""WITH $perfRetCte
         |SELECT CAST(date_trunc('month', date) AS DATE) AS "month",
         |  count(*)::BIGINT AS n_days,
         |  round(CASE
         |    WHEN sum(CASE WHEN 1 + r = 0 THEN 1 ELSE 0 END) > 0 THEN -1.0
         |    ELSE exp(CAST(sum(CASE WHEN 1 + r <> 0
         |               THEN CAST(round(ln(abs(1 + r)) * 1e12) AS BIGINT)
         |               ELSE 0 END) AS BIGINT) / 1e12)
         |         * (1.0 - (sum(CASE WHEN 1 + r < 0 THEN 1 ELSE 0 END) % 2) * 2)
         |         - 1
         |    END, 6) AS monthly_return
         |FROM ret GROUP BY 1""".stripMargin,

    // per-sid additive attribution: exact pico sums per sid, grand
    // total as an integer sum, share as one double division
    "perf_attrib" ->
      s"""WITH $turnoverCte,
         |gro AS (
         |  SELECT *, (close / lag(close) OVER (PARTITION BY sid ORDER BY date) - 1) *
         |    lag(position) OVER (PARTITION BY sid ORDER BY date) AS gross
         |  FROM trn),
         |ps AS (
         |  SELECT sid,
         |    CAST(sum(CAST(round((coalesce(gross, 0.0) * 0.001) * 1e12) AS BIGINT))
         |      AS BIGINT) AS p,
         |    CAST(sum(CASE WHEN coalesce(position, 0) <> 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS days_held
         |  FROM gro GROUP BY sid),
         |t AS (SELECT CAST(sum(p) AS BIGINT) AS tot FROM ps)
         |SELECT sid, round(p / 1e12, 6) AS contribution, days_held,
         |  round(CASE WHEN tot <> 0 THEN p::DOUBLE / tot::DOUBLE END, 6) AS share
         |FROM ps CROSS JOIN t""".stripMargin,

    // round-trip trades: same-sign nonzero position runs per sid; the
    // run's return books one row forward (D18 lag), summed in picos
    "perf_trips" ->
      s"""WITH $turnoverCte,
         |gro AS (
         |  SELECT *, (close / lag(close) OVER (PARTITION BY sid ORDER BY date) - 1) *
         |    lag(position) OVER (PARTITION BY sid ORDER BY date) AS gross
         |  FROM trn),
         |j AS (
         |  SELECT sid, date, coalesce(position, 0.0) AS ne,
         |    CAST(round((coalesce(gross, 0.0) * 0.001) * 1e12) AS BIGINT) AS pr
         |  FROM gro),
         |x AS (
         |  SELECT sid, date, ne, pr,
         |    lead(pr) OVER (PARTITION BY sid ORDER BY date) AS fwd,
         |    CASE WHEN ne > 0 THEN 1 WHEN ne < 0 THEN -1 ELSE 0 END AS sgn
         |  FROM j),
         |st AS (
         |  SELECT *, CASE WHEN sgn <> 0 AND
         |      coalesce(lag(sgn) OVER (PARTITION BY sid ORDER BY date), 0) <> sgn
         |    THEN 1 ELSE 0 END AS strt
         |  FROM x),
         |tr AS (
         |  SELECT *, CAST(sum(strt) OVER (PARTITION BY sid ORDER BY date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS trip
         |  FROM st)
         |SELECT sid, trip, min(date) AS entry_date, max(date) AS exit_date,
         |  count(*)::BIGINT AS n_days,
         |  max(CASE WHEN sgn > 0 THEN 'long' ELSE 'short' END) AS side,
         |  round(CAST(sum(fwd) AS BIGINT) / 1e12, 6) + 0.0 AS trip_return
         |FROM tr WHERE sgn <> 0
         |GROUP BY sid, trip""".stripMargin,

    // historical VaR/CVaR: quantile_cont ≡ Spark percentile (both exact
    // linear interpolation); CVaR tail re-quantized to pico integers so
    // the unordered sum matches the Spark accumulation exactly
    "perf_var" ->
      s"""WITH $perfRetCte,
         |v AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
         |             quantile_cont(r, 0.05) AS q FROM ret),
         |t AS (SELECT sum(CAST(round(r * 1e12) AS BIGINT)) AS s,
         |             count(*) AS cnt
         |      FROM ret, v WHERE r <= v.q)
         |SELECT v.n_days, round(v.q, 6) AS var_95,
         |  round(CAST(t.s AS DOUBLE) / t.cnt / 1e12, 6) AS cvar_95
         |FROM v, t""".stripMargin,

    // drawdown episodes: island detection via the running count of
    // non-underwater dates; trough argmin on the ROUNDED depth (ties →
    // earliest date) mirrors the Spark min_by(struct(rdd, date))
    "perf_drawdowns" ->
      s"""WITH $perfPkCte,
         |dd AS (
         |  SELECT date, CASE WHEN p <> 0 THEN c / p - 1 END AS d FROM pk),
         |isl AS (
         |  SELECT date, d,
         |    sum(CASE WHEN d IS NOT NULL AND d < 0 THEN 0 ELSE 1 END)
         |      OVER (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING
         |            AND CURRENT ROW) AS grp
         |  FROM dd),
         |u AS (SELECT date, round(d, 6) AS rdd, grp
         |      FROM isl WHERE d IS NOT NULL AND d < 0),
         |tr AS (SELECT grp, date AS trough_date,
         |         row_number() OVER (PARTITION BY grp ORDER BY rdd, date) AS rn
         |       FROM u),
         |ep AS (
         |  SELECT u.grp, min(u.date) AS start_date, max(u.date) AS end_date,
         |    CAST(count(*) AS BIGINT) AS n_days, min(u.rdd) AS depth
         |  FROM u GROUP BY u.grp)
         |SELECT CAST(row_number() OVER (ORDER BY ep.start_date) AS BIGINT)
         |    AS episode,
         |  ep.start_date, tr.trough_date, ep.end_date, ep.n_days, ep.depth
         |FROM ep JOIN tr ON ep.grp = tr.grp AND tr.rn = 1""".stripMargin,

    // vol targeting: windowed stddev → round 6 → lagged division, so
    // both engines divide the IDENTICAL rounded input
    "perf_voltarget" ->
      s"""WITH $perfRetCte,
         |rv AS (
         |  SELECT date, r,
         |    round(CASE WHEN count(r) OVER w = 21
         |               THEN stddev_samp(r) OVER w * sqrt(252.0)
         |          END, 6) AS realized_vol
         |  FROM ret
         |  WINDOW w AS (ORDER BY date ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)),
         |lg AS (SELECT *, lag(realized_vol) OVER (ORDER BY date) AS pv FROM rv)
         |SELECT date, r AS "return", realized_vol,
         |  coalesce(CASE WHEN pv > 0 THEN round(least(0.10 / pv, 3.0), 6)
         |                WHEN pv = 0 THEN 3.0 END, 1.0) AS scale
         |FROM lg""".stripMargin,

    // purged k-fold assignment table: ntile blocks over the distinct
    // trading dates, embargo strip = 3 ranks either side of the block
    "ml8_purged_cv" ->
      s"""WITH $panelCte,
         |d AS (SELECT DISTINCT date FROM panel),
         |r AS (SELECT date, row_number() OVER (ORDER BY date) AS rk,
         |             ntile(5) OVER (ORDER BY date) AS dfold FROM d),
         |b AS (SELECT dfold AS fold, min(rk) AS mn, max(rk) AS mx
         |      FROM r GROUP BY 1)
         |SELECT CAST(b.fold AS BIGINT) AS fold, r.date,
         |  CASE WHEN r.rk BETWEEN b.mn AND b.mx THEN 'test'
         |       WHEN r.rk BETWEEN b.mn - 3 AND b.mn - 1
         |         OR r.rk BETWEEN b.mx + 1 AND b.mx + 3 THEN 'purged'
         |       ELSE 'train' END AS role
         |FROM r CROSS JOIN b""".stripMargin,

    // expanding walk-forward: blocks 1..5; split s tests block s+1,
    // trains on earlier blocks minus the 3-rank pre-test embargo
    "ml9_walk_forward" ->
      s"""WITH $panelCte,
         |d AS (SELECT DISTINCT date FROM panel),
         |r AS (SELECT date, row_number() OVER (ORDER BY date) AS rk,
         |             ntile(5) OVER (ORDER BY date) AS blk FROM d),
         |ts AS (SELECT blk - 1 AS split, min(rk) AS t0 FROM r
         |       WHERE blk > 1 GROUP BY 1)
         |SELECT CAST(ts.split AS BIGINT) AS split, r.date,
         |  CASE WHEN r.blk = ts.split + 1 THEN 'test'
         |       WHEN r.blk > ts.split + 1 THEN 'unused'
         |       WHEN r.rk >= ts.t0 - 3 THEN 'purged'
         |       ELSE 'train' END AS role
         |FROM r CROSS JOIN ts""".stripMargin,

    // classification metrics: per-distinct-score counts, tie-aware
    // Mann-Whitney AUC in exact integer pair mass (HUGEINT), micro-nat
    // logloss / micro brier, accuracy at 0.5 — the Spark quantizations
    "ml4_metrics" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) AS s,
         |         CASE WHEN close >= 22000 THEN 1 ELSE 0 END AS y
         |  FROM panel),
         |sc AS (
         |  SELECT s, CAST(sum(y) AS BIGINT) AS p,
         |         CAST(sum(1 - y) AS BIGINT) AS n
         |  FROM pr GROUP BY 1),
         |cl AS (
         |  SELECT *, least(greatest(s, 1e-15), 1 - 1e-15) AS sclip,
         |    sum(p) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
         |                 AND CURRENT ROW) AS cp,
         |    sum(p) OVER () AS ptot
         |  FROM sc),
         |rows_ AS (
         |  SELECT p, n,
         |    n * (2 * (ptot - cp) + p) AS u2,
         |    CASE WHEN s >= 0.5 THEN p ELSE n END AS ok,
         |    p * CAST(round(-ln(sclip) * 1e12) AS BIGINT)
         |      + n * CAST(round(-ln(1 - sclip) * 1e12) AS BIGINT) AS ll,
         |    p * CAST(round(pow(1 - s, 2) * 1e12) AS BIGINT)
         |      + n * CAST(round(pow(s, 2) * 1e12) AS BIGINT) AS br
         |  FROM cl)
         |SELECT CAST(sum(p + n) AS BIGINT) AS n,
         |  CAST(sum(p) AS BIGINT) AS positives,
         |  round(CASE WHEN sum(p) > 0 AND sum(n) > 0
         |             THEN sum(u2)::DOUBLE / (2.0 * sum(p) * sum(n)) END, 6)
         |    AS auc,
         |  round(sum(ok)::DOUBLE / sum(p + n), 6) AS accuracy,
         |  round(sum(ll)::DOUBLE / 1e12 / sum(p + n), 6) AS logloss,
         |  round(sum(br)::DOUBLE / 1e12 / sum(p + n), 6) AS brier
         |FROM rows_""".stripMargin,

    // calibration bins: equal-width buckets (last edge closed), exact
    // event rate, micro-quantized mean predicted score
    "ml5_calibration" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) AS s,
         |         CASE WHEN close >= 22000 THEN 1 ELSE 0 END AS y
         |  FROM panel)
         |SELECT CAST(least(floor(s * 10), 9) AS BIGINT) AS bin,
         |  count(*)::BIGINT AS n,
         |  round(CAST(sum(CAST(round(s * 1e12) AS BIGINT)) AS BIGINT)::DOUBLE
         |        / 1e12 / count(*), 6) AS mean_predicted,
         |  round(sum(y)::DOUBLE / count(*), 6) AS event_rate
         |FROM pr GROUP BY 1""".stripMargin,

    // average precision: AP = Σ ΔR·P over DESCENDING distinct-score
    // thresholds, each term micro-quantized before the sum
    "ml6_avg_precision" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) AS s,
         |         CASE WHEN close >= 22000 THEN 1 ELSE 0 END AS y
         |  FROM panel),
         |sc AS (
         |  SELECT s, CAST(sum(y) AS BIGINT) AS p, count(*)::BIGINT AS c
         |  FROM pr GROUP BY 1),
         |cm AS (
         |  SELECT *,
         |    sum(p) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
         |                 AND CURRENT ROW) AS tp,
         |    sum(c) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
         |                 AND CURRENT ROW) AS pp,
         |    sum(p) OVER () AS pt
         |  FROM sc),
         |t AS (
         |  SELECT c, pt,
         |    CAST(round(p::DOUBLE / pt * (tp::DOUBLE / pp) * 1e12) AS BIGINT)
         |      AS term
         |  FROM cm)
         |SELECT CAST(sum(c) AS BIGINT) AS n,
         |  CAST(max(pt) AS BIGINT) AS positives,
         |  round(CASE WHEN max(pt) > 0
         |             THEN CAST(sum(term) AS BIGINT)::DOUBLE / 1e12 END, 6)
         |    AS average_precision
         |FROM t""".stripMargin,

    // regression metrics: micro-quantized residual sums (exact),
    // R² via Σy² − (Σy)²/n, null on constant actuals
    "ml7_regression" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT close / 60000.0 * 0.9 + 0.05 AS p, close / 60000.0 AS y
         |  FROM panel),
         |q AS (
         |  SELECT CAST(round((p - y) * (p - y) * 1e12) AS BIGINT) AS se,
         |    CAST(round(abs(p - y) * 1e12) AS BIGINT) AS ae,
         |    CAST(round(y * 1e12) AS BIGINT) AS yy,
         |    CAST(round(y * y * 1e12) AS BIGINT) AS y2
         |  FROM pr)
         |SELECT count(*)::BIGINT AS n,
         |  round(sqrt(CAST(sum(se) AS BIGINT)::DOUBLE / 1e12 / count(*)), 6)
         |    AS rmse,
         |  round(CAST(sum(ae) AS BIGINT)::DOUBLE / 1e12 / count(*), 6) AS mae,
         |  round(CASE WHEN CAST(sum(y2) AS BIGINT)::DOUBLE / 1e12
         |          - pow(CAST(sum(yy) AS BIGINT)::DOUBLE / 1e12, 2) / count(*) > 0
         |        THEN 1.0 - (CAST(sum(se) AS BIGINT)::DOUBLE / 1e12)
         |          / (CAST(sum(y2) AS BIGINT)::DOUBLE / 1e12
         |             - pow(CAST(sum(yy) AS BIGINT)::DOUBLE / 1e12, 2) / count(*))
         |        END, 6) AS r2
         |FROM q""".stripMargin,

    "backtest_pipeline" -> backtestMeltSql,

    // P8: results truncated at the requested start; the window ops above
    // the cut still saw the full history (base.py:1395-1398)
    "p8_truncation" ->
      s"""SELECT * FROM ($backtestMeltSql)
         |WHERE date >= DATE '1996-01-01'""".stripMargin,

    // D24: sid relabeled Symbol(Sid) from the master (base.py:1390-1393)
    "d24_label_sids" ->
      s"""WITH $sigCte
         |SELECT s.s_name || '(' || CAST(w.sid AS VARCHAR) || ')' AS sid,
         |       w.date, 'Weight' AS field, w.weight AS value
         |FROM wts w JOIN supplier s ON w.sid = s.s_suppkey""".stripMargin,

    // D9: per-share commission — broker + exchange per-share over price,
    // plus the value fee; term order mirrors the Spark expression
    "d9_pershare" ->
      s"""WITH $turnoverCte
         |SELECT sid, date,
         |  0.005 / abs(CASE WHEN close <> 0 THEN close END) * turnover
         |  + 0.003 / abs(CASE WHEN close <> 0 THEN close END) * turnover
         |  + turnover * 0.0001 AS commission
         |FROM trn""".stripMargin,

    // signal eval: per-date Spearman IC of close vs 1-day forward
    // return — exact HUGEINT sums over doubled average ranks (ties
    // share), one double division per date, −0.0 normalized
    // Poisson-bootstrap CI: same ic1 chain, then 200 hash-weighted
    // resamples — the Poisson(1) cutoffs are the Scala doubles inlined
    // (Double.toString round-trips bit-exact)
    "ic5_bootstrap" -> {
      val wCase = graft.perf.Signals.PoissonCdf.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }
        .mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH $panelCte,
         |fwd AS (
         |  SELECT sid, date, close,
         |    lead(close) OVER (PARTITION BY sid ORDER BY date) / close - 1 AS f
         |  FROM panel),
         |bb AS (SELECT * FROM fwd WHERE f IS NOT NULL),
         |r AS (
         |  SELECT date,
         |    CAST(2*rank() OVER (PARTITION BY date ORDER BY close)
         |      + count(*) OVER (PARTITION BY date, close) - 1 AS HUGEINT) AS rx,
         |    CAST(2*rank() OVER (PARTITION BY date ORDER BY f)
         |      + count(*) OVER (PARTITION BY date, f) - 1 AS HUGEINT) AS ry
         |  FROM bb),
         |st AS (
         |  SELECT date, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
         |         sum(rx*rx) AS sxx, sum(ry*ry) AS syy, sum(rx*ry) AS sxy
         |  FROM r GROUP BY date),
         |ics AS (
         |  SELECT date,
         |    round(CASE WHEN n >= 2 AND n*sxx - sx*sx <> 0
         |                AND n*syy - sy*sy <> 0
         |      THEN CAST(n*sxy - sx*sy AS DOUBLE) /
         |        sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
         |           * CAST(n*syy - sy*sy AS DOUBLE)) END, 6) + 0.0 AS ic
         |  FROM st),
         |base AS (
         |  SELECT date AS d, CAST(round(ic * 1e6) AS BIGINT) AS m
         |  FROM ics WHERE ic IS NOT NULL),
         |x AS (
         |  SELECT t.range AS rb, m,
         |    CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'boot',
         |      t.range, d)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
         |  FROM base, range(200) t),
         |wx AS (SELECT rb, m, $wCase AS w FROM x),
         |means AS (
         |  SELECT rb,
         |    round(sum(CAST(w AS HUGEINT) * m)::DOUBLE / sum(w)) / 1e6 AS mn
         |  FROM wx GROUP BY rb HAVING sum(w) > 0),
         |ci AS (
         |  SELECT count(*)::BIGINT AS n_boot,
         |    round(quantile_cont(mn, 0.025), 6) AS ci_lo,
         |    round(quantile_cont(mn, 0.975), 6) AS ci_hi
         |  FROM means),
         |ov AS (
         |  SELECT count(*)::BIGINT AS n_dates,
         |    round(sum(m)::DOUBLE / count(*)) / 1e6 AS mean_ic
         |  FROM base)
         |SELECT n_boot, n_dates, mean_ic, ci_lo, ci_hi FROM ci, ov""".stripMargin
    },

    // IC decay: one ic1-shaped rank/moment block per horizon, UNION ALL,
    // mean of the 6dp per-date ICs with integer-quotient rounding
    "ic4_decay" -> {
      def block(h: Int): String =
        s"""SELECT CAST($h AS BIGINT) AS horizon,
           |  count(ic)::BIGINT AS n_dates,
           |  round(sum(CAST(round(ic * 1e6) AS HUGEINT))::DOUBLE
           |    / count(ic)) / 1e6 + 0.0 AS mean_ic
           |FROM (
           |  SELECT date,
           |    CASE WHEN n >= 2 AND n*sxx - sx*sx <> 0 AND n*syy - sy*sy <> 0
           |      THEN round(CAST(n*sxy - sx*sy AS DOUBLE) /
           |        sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
           |           * CAST(n*syy - sy*sy AS DOUBLE)), 6) + 0.0
           |    END AS ic
           |  FROM (
           |    SELECT date, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
           |           sum(rx*rx) AS sxx, sum(ry*ry) AS syy, sum(rx*ry) AS sxy
           |    FROM (
           |      SELECT date,
           |        CAST(2*rank() OVER (PARTITION BY date ORDER BY close)
           |          + count(*) OVER (PARTITION BY date, close) - 1
           |          AS HUGEINT) AS rx,
           |        CAST(2*rank() OVER (PARTITION BY date ORDER BY f)
           |          + count(*) OVER (PARTITION BY date, f) - 1
           |          AS HUGEINT) AS ry
           |      FROM (
           |        SELECT sid, date, close,
           |          lead(close, $h) OVER (PARTITION BY sid ORDER BY date)
           |            / close - 1 AS f
           |        FROM panel) q1 WHERE f IS NOT NULL) q2
           |    GROUP BY date) q3) q4""".stripMargin
      s"""WITH $panelCte
         |${Seq(1, 5, 21).map(block).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // per-sid variance attribution: raw-moment covariance of each sid's
    // melt Return against the per-date portfolio return
    "perf_riskcontrib" ->
      s"""WITH $perfRetCte,
         |ri AS (SELECT sid, date, coalesce(gross, 0.0) * 0.001 AS x FROM gro),
         |j AS (SELECT ri.sid, ri.x, ret.r AS p
         |      FROM ri JOIN ret ON ri.date = ret.date),
         |st AS (
         |  SELECT sid, count(*) AS n, avg(x) AS mi, avg(p) AS mp,
         |         avg(x*p) AS aip, avg(x*x) AS aii, avg(p*p) AS app
         |  FROM j GROUP BY sid),
         |cm AS (
         |  SELECT sid, n, aip - mi*mp AS cov, app - mp*mp AS vp,
         |         aii - mi*mi AS vi
         |  FROM st)
         |SELECT sid, CAST(n AS BIGINT) AS n_days,
         |  round(CASE WHEN vp > 0 THEN cov / vp END, 6) + 0.0 AS risk_share,
         |  round(CASE WHEN vp > 0 AND vi > 0
         |             THEN cov / sqrt(vi * vp) END, 6) + 0.0 AS corr_port
         |FROM cm""".stripMargin,

    // financing: per-date micro-exact gross leverage from AbsExposure
    // (= |position|), calendar-gap days, (g−1)⁺·rate·days/360
    "perf_financing" ->
      s"""WITH $turnoverCte,
         |g AS (
         |  SELECT date,
         |    CAST(sum(CAST(round(abs(coalesce(position, 0.0)) * 1e6)
         |      AS BIGINT)) AS BIGINT)::DOUBLE / 1e6 AS gr
         |  FROM trn GROUP BY date),
         |d AS (
         |  SELECT date, gr,
         |    CAST(coalesce(date_diff('day', lag(date) OVER (ORDER BY date),
         |      date), 1) AS BIGINT) AS days
         |  FROM g)
         |SELECT date, round(gr, 6) AS gross_leverage, days,
         |  round(greatest(gr - 1.0, 0.0) * 0.06 * days / 360.0, 6)
         |    AS financing
         |FROM d""".stripMargin,

    // lead-lag CCF vs the benchmark: the perf_benchmark joint chain,
    // one shifted block per lag
    "perf_ccf" -> {
      def block(l: Int): String = {
        val sh = if (l >= 0) s"lag(b, $l)" else s"lead(b, ${-l})"
        s"""SELECT CAST($l AS BIGINT) AS lag, count(*)::BIGINT AS n,
           |  round(corr(r, bl), 6) + 0.0 AS ccf
           |FROM (SELECT r, $sh OVER (ORDER BY date) AS bl FROM j) q
           |WHERE bl IS NOT NULL""".stripMargin
      }
      s"""WITH $perfRetCte,
         |dates AS (SELECT DISTINCT date FROM panel),
         |bcl AS (SELECT date, close FROM panel WHERE sid = 1),
         |bf AS (
         |  SELECT d.date,
         |    last_value(bcl.close IGNORE NULLS) OVER (ORDER BY d.date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM dates d LEFT JOIN bcl ON d.date = bcl.date),
         |br AS (
         |  SELECT date, coalesce(c / lag(c) OVER (ORDER BY date) - 1, 0.0) AS b
         |  FROM bf),
         |j AS (SELECT ret.date, r, b FROM ret JOIN br ON ret.date = br.date)
         |${(-3 to 3).map(block).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // W21: per-sid max drawdown — 6dp-rounded ratio BEFORE the min
    "w21_sid_drawdown" ->
      s"""WITH $panelCte,
         |dd AS (
         |  SELECT sid,
         |    round(CASE WHEN max(close) OVER (PARTITION BY sid ORDER BY date
         |            ROWS UNBOUNDED PRECEDING) > 0
         |          THEN close / max(close) OVER (PARTITION BY sid
         |            ORDER BY date ROWS UNBOUNDED PRECEDING) - 1 END, 6)
         |      AS d
         |  FROM panel)
         |SELECT sid, count(*)::BIGINT AS n_days,
         |  coalesce(min(d), 0.0) + 0.0 AS max_drawdown
         |FROM dd GROUP BY sid""".stripMargin,

    // W20: variance ratio — ln(close/close_{t-q}) makes the q-period
    // return one expression; raw-moment population variances
    "w20_variance_ratio" ->
      s"""WITH $panelCte,
         |lr AS (
         |  SELECT sid,
         |    ln(close / lag(close, 1) OVER w) AS r1,
         |    ln(close / lag(close, 5) OVER w) AS rq
         |  FROM panel WINDOW w AS (PARTITION BY sid ORDER BY date)),
         |st AS (
         |  SELECT sid, count(*) AS n_days, count(r1) AS n1, avg(r1) AS a1,
         |    avg(r1*r1) AS a11, count(rq) AS nq, avg(rq) AS aq,
         |    avg(rq*rq) AS aqq
         |  FROM lr GROUP BY sid)
         |SELECT sid, CAST(n_days AS BIGINT) AS n_days,
         |  round(CASE WHEN n1 >= 2 AND nq >= 2 AND a11 - a1*a1 > 0
         |        THEN (aqq - aq*aq) / (5.0 * (a11 - a1*a1)) END, 6) AS vr_5
         |FROM st""".stripMargin,

    // D30: beta-hedge overlay — 6dp risk-contribution betas joined to
    // the equal-weight book, pico-exact per-date −Σ w·β
    "d30_beta_hedge" ->
      s"""WITH $perfRetCte,
         |ri AS (SELECT sid, date, coalesce(gross, 0.0) * 0.001 AS x FROM gro),
         |j AS (SELECT ri.sid, ri.x, ret.r AS p
         |      FROM ri JOIN ret ON ri.date = ret.date),
         |stx AS (
         |  SELECT sid, avg(x) AS mi, avg(p) AS mp,
         |         avg(x*p) AS aip, avg(p*p) AS app
         |  FROM j GROUP BY sid),
         |betas AS (
         |  SELECT sid,
         |    round(CASE WHEN app - mp*mp > 0
         |               THEN (aip - mi*mp) / (app - mp*mp) END, 6) + 0.0
         |      AS beta
         |  FROM stx)
         |SELECT w.date, 'BENCH' AS sid,
         |  -(sum(CAST(round(w.weight * coalesce(b.beta, 0.0) * 1e12)
         |       AS HUGEINT))::DOUBLE / 1e12) + 0.0 AS hedge_weight
         |FROM wts w LEFT JOIN betas b ON w.sid = b.sid
         |GROUP BY w.date""".stripMargin,

    // day-of-week seasonality: isodow grouping (Mon=1), exact pico
    // sums, integer-quotient rounding for mean and hit rate
    "perf_seasonality" ->
      s"""WITH $perfRetCte
         |SELECT CAST(isodow(date) AS BIGINT) AS day_of_week,
         |  count(*)::BIGINT AS n_days,
         |  round(sum(CAST(round(r * 1e12) AS HUGEINT))::DOUBLE
         |    / count(*)) / 1e12 + 0.0 AS mean_return,
         |  round(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END)::DOUBLE * 1e6
         |    / count(*)) / 1e6 AS hit_rate
         |FROM ret GROUP BY 1""".stripMargin,

    "ic1_spearman" ->
      s"""WITH $panelCte,
         |fwd AS (
         |  SELECT sid, date, close,
         |    lead(close) OVER (PARTITION BY sid ORDER BY date) / close - 1 AS f
         |  FROM panel),
         |b AS (SELECT * FROM fwd WHERE f IS NOT NULL),
         |r AS (
         |  SELECT date,
         |    CAST(2*rank() OVER (PARTITION BY date ORDER BY close)
         |      + count(*) OVER (PARTITION BY date, close) - 1 AS HUGEINT) AS rx,
         |    CAST(2*rank() OVER (PARTITION BY date ORDER BY f)
         |      + count(*) OVER (PARTITION BY date, f) - 1 AS HUGEINT) AS ry
         |  FROM b),
         |st AS (
         |  SELECT date, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
         |         sum(rx*rx) AS sxx, sum(ry*ry) AS syy, sum(rx*ry) AS sxy
         |  FROM r GROUP BY date)
         |SELECT date, CAST(n AS BIGINT) AS n,
         |  round(CASE WHEN n >= 2 AND n*sxx - sx*sx <> 0 AND n*syy - sy*sy <> 0
         |    THEN CAST(n*sxy - sx*sy AS DOUBLE) /
         |      sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
         |    END, 6) + 0.0 AS ic
         |FROM st""".stripMargin,

    // signal eval: quintile-portfolio mean forward return per date —
    // ntile over (close, sid), exact pico mean per bucket
    "ic2_quantile_returns" ->
      s"""WITH $panelCte,
         |fwd AS (
         |  SELECT sid, date, close,
         |    lead(close) OVER (PARTITION BY sid ORDER BY date) / close - 1 AS f
         |  FROM panel),
         |b AS (SELECT * FROM fwd WHERE f IS NOT NULL),
         |q AS (
         |  SELECT date,
         |    ntile(5) OVER (PARTITION BY date ORDER BY close, sid) AS bin,
         |    CAST(round(f * 1e12) AS HUGEINT) AS fp
         |  FROM b)
         |SELECT date, bin, count(*) AS n,
         |  round(CAST(sum(fp) AS DOUBLE) / count(*) / 1e12, 6) + 0.0 AS mean_fwd
         |FROM q GROUP BY date, bin""".stripMargin,

    // M2 gbt: additive raw scores — base 0.25 + 0.5·(tree on close<30000
    // + tree on close<15000); all constants dyadic, so literal CASE
    // arithmetic reproduces the JVM sums bit-for-bit
    "ml10_gbt" ->
      s"""WITH $panelCte
         |SELECT sid, date,
         |  CAST(CASE WHEN NOT (close < 30000) THEN 0.625
         |            WHEN NOT (close < 15000) THEN 0.0 ELSE 0.3125 END AS DOUBLE)
         |    AS prediction,
         |  CAST((CASE WHEN NOT (close < 30000) THEN 0.625
         |             WHEN NOT (close < 15000) THEN 0.0 ELSE 0.3125 END) < 0.5 AS INT)
         |    AS signal
         |FROM panel""".stripMargin,

    // PX7: named-book correlation matrix — exact HUGEINT pair moments
    // (the oracle replays via a date self-join; the engine uses one
    // grid agg + one moment agg, same math)
    "px7_corr_matrix" ->
      s"""WITH $panelCte,
         |rr AS (
         |  SELECT sid, date,
         |    close / lag(close) OVER (PARTITION BY sid ORDER BY date) - 1 AS ret
         |  FROM panel),
         |m AS (
         |  SELECT CAST(sid AS VARCHAR) AS s, date,
         |         CAST(round(ret * 1e6) AS HUGEINT) AS v
         |  FROM rr
         |  WHERE ret IS NOT NULL AND CAST(sid AS VARCHAR) IN ('1','2','3','4')),
         |pj AS (
         |  SELECT a.s AS sa, b.s AS sb, a.v AS x, b.v AS y
         |  FROM m a JOIN m b
         |    ON a.date = b.date AND CAST(a.s AS BIGINT) < CAST(b.s AS BIGINT)),
         |st AS (
         |  SELECT sa, sb, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |         sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
         |  FROM pj GROUP BY 1, 2)
         |SELECT sa AS sid_a, sb AS sid_b, CAST(n AS BIGINT) AS n,
         |  round(CASE WHEN n >= 2 AND n*sxx - sx*sx <> 0 AND n*syy - sy*sy <> 0
         |    THEN CAST(n*sxy - sx*sy AS DOUBLE) /
         |      sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
         |    END, 6) + 0.0 AS corr
         |FROM st""".stripMargin,

    // W22: Hurst — micro block sums, decimal per-scale moments, nano
    // log-log points, integer OLS sums
    "w22_hurst" ->
      s"""WITH $panelCte,
         |rr AS (
         |  SELECT sid, date,
         |    CAST(round(ln(close / lag(close)
         |      OVER (PARTITION BY sid ORDER BY date)) * 1e6) AS BIGINT) AS r
         |  FROM panel),
         |rn AS (
         |  SELECT sid, r,
         |    row_number() OVER (PARTITION BY sid ORDER BY date) - 1 AS rn
         |  FROM rr WHERE r IS NOT NULL),
         |b AS (
         |  SELECT sid, k, rn // k AS blk, count(*) AS c, sum(r) AS bs
         |  FROM rn CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS k) sc
         |  GROUP BY 1, 2, 3),
         |vb AS (
         |  SELECT sid, k, count(*) AS nb, sum(bs::HUGEINT) AS s,
         |         sum(bs::HUGEINT * bs) AS ss
         |  FROM b WHERE c = k GROUP BY 1, 2),
         |vk AS (
         |  SELECT sid, k,
         |    (nb * ss - s * s)::DOUBLE / (nb::DOUBLE * (nb - 1)) AS var
         |  FROM vb WHERE nb >= 2),
         |pt AS (
         |  SELECT sid, CAST(round(ln(k::DOUBLE) * 1e9) AS BIGINT) AS lk,
         |         CAST(round(ln(var) * 1e9) AS BIGINT) AS lv
         |  FROM vk WHERE var > 0),
         |ag AS (
         |  SELECT sid, count(*) AS ns, sum(lk) AS slk, sum(lv) AS slv,
         |         sum(lk::HUGEINT * lk) AS slkk,
         |         sum(lk::HUGEINT * lv) AS slkv
         |  FROM pt GROUP BY 1)
         |SELECT sid, ns::BIGINT AS n_scales,
         |  round(CASE WHEN ns >= 2 AND ns * slkk - slk * slk <> 0
         |        THEN (ns * slkv - slk * slv)::DOUBLE
         |           / (ns * slkk - slk * slk)::DOUBLE / 2 END, 6) + 0.0
         |    AS hurst
         |FROM ag""".stripMargin,

    // COINT1: Engle-Granger — micro log prices, decimal OLS moments,
    // residuals re-quantized before the DW sums (mirrors the engine)
    "coint1_pairs" ->
      s"""WITH $cointCtes
         |SELECT * FROM scr""".stripMargin,

    // COINT2: the trading leg — pick the screen's best (lowest adf_t)
    // pair, z-score its spread with the ROUNDED beta/alpha constants
    "coint2_spread_signal" ->
      s"""WITH $cointCtes,
         |best AS (
         |  SELECT sid_a, sid_b, beta, alpha FROM scr
         |  WHERE adf_t IS NOT NULL
         |  ORDER BY adf_t, sid_a, sid_b LIMIT 1),
         |g AS (
         |  SELECT a.date, a.v AS la, c.v AS lb
         |  FROM m a
         |  JOIN m c ON a.date = c.date
         |  WHERE a.s = (SELECT sid_a FROM best)
         |    AND c.s = (SELECT sid_b FROM best)),
         |sp AS (
         |  SELECT g.date,
         |    CAST(round(g.la - b.beta * g.lb - b.alpha * 1e6) AS BIGINT)
         |      AS sq
         |  FROM g, best b),
         |wf AS (
         |  SELECT date, sq,
         |    count(sq) OVER win AS n,
         |    sum(sq::HUGEINT) OVER win AS s1,
         |    sum(sq::HUGEINT * sq) OVER win AS s2
         |  FROM sp
         |  WINDOW win AS (ORDER BY date
         |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |zz AS (
         |  SELECT date, sq,
         |    round(CASE WHEN n = 20 AND sdr > 0
         |          THEN (sq::DOUBLE - s1::DOUBLE / n) / sdr END, 6) + 0.0
         |      AS z
         |  FROM (SELECT *,
         |          round(sqrt(greatest((n * s2 - s1 * s1)::DOUBLE
         |            / (n::DOUBLE * (n - 1)), 0.0)), 6) AS sdr
         |        FROM wf))
         |SELECT date, round(sq::DOUBLE / 1e6, 6) + 0.0 AS spread, z,
         |  CAST(CASE WHEN z > 2.0 THEN -1 WHEN z < -2.0 THEN 1
         |       WHEN z IS NOT NULL THEN 0 END AS INT) AS signal
         |FROM zz""".stripMargin,


    // portfolio combination: two damped demo books, fixed-order blend
    "port1_combined" ->
      s"""WITH $panelCte,
         |${retChain(30000, "a")},
         |${retChain(15000, "b")}
         |SELECT reta.date, ra AS ret_0, rb AS ret_1,
         |  round(coalesce(ra, 0.0) * 0.6 + coalesce(rb, 0.0) * 0.4, 6) + 0.0
         |    AS combined_return
         |FROM reta JOIN retb ON reta.date = retb.date""".stripMargin,

    // risk-parity blend: 6dp vols → exact micro inverse-vol weights →
    // the port1 join with derived weights
    "port2_riskparity" ->
      s"""WITH $panelCte,
         |${retChain(30000, "a")},
         |${retChain(15000, "b")},
         |va AS (SELECT round(stddev_samp(ra), 6) AS v FROM reta),
         |vb AS (SELECT round(stddev_samp(rb), 6) AS v FROM retb),
         |wq AS (SELECT round(1e6 / va.v) AS qa, round(1e6 / vb.v) AS qb
         |       FROM va, vb)
         |SELECT reta.date, ra AS ret_0, rb AS ret_1,
         |  round(coalesce(ra, 0.0) * (qa / (qa + qb)) +
         |        coalesce(rb, 0.0) * (qb / (qa + qb)), 6) + 0.0
         |    AS combined_return,
         |  round(qa / (qa + qb), 6) AS weight_0,
         |  round(qb / (qa + qb), 6) AS weight_1
         |FROM reta JOIN retb ON reta.date = retb.date, wq""".stripMargin,

    // ML13: two-sample KS — exact integer CDF numerators, one division
    "ml13_ks_drift" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) AS v, date
         |  FROM panel),
         |t AS (
         |  SELECT v,
         |    CASE WHEN date < DATE '1995-01-01' THEN 1 ELSE 0 END AS a,
         |    CASE WHEN date >= DATE '1995-01-01' THEN 1 ELSE 0 END AS b
         |  FROM pr),
         |g AS (
         |  SELECT v, CAST(sum(a) AS HUGEINT) AS ca0,
         |         CAST(sum(b) AS HUGEINT) AS cb0
         |  FROM t GROUP BY 1),
         |c AS (
         |  SELECT *, sum(ca0) OVER wa AS ca, sum(cb0) OVER wa AS cb,
         |         sum(ca0) OVER () AS na, sum(cb0) OVER () AS nb
         |  FROM g
         |  WINDOW wa AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         |mx AS (
         |  SELECT max(na) AS fa, max(nb) AS fb,
         |         max(abs(ca * nb - cb * na)) AS d
         |  FROM c)
         |SELECT CAST(fa AS BIGINT) AS n_a, CAST(fb AS BIGINT) AS n_b,
         |  round(CASE WHEN fa > 0 AND fb > 0
         |             THEN CAST(d AS DOUBLE)
         |               / (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE)) END, 6) AS ks,
         |  round(CASE WHEN fa > 0 AND fb > 0
         |             THEN least(1.0, 2.0 * exp(-2.0
         |               * (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE)
         |                  / (CAST(fa AS DOUBLE) + CAST(fb AS DOUBLE)))
         |               * (CAST(d AS DOUBLE)
         |                  / (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE)))
         |               * (CAST(d AS DOUBLE)
         |                  / (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE)))))
         |        END, 6) AS p_value
         |FROM mx""".stripMargin,

    // ML21: class-separation KS — the ml13 chain with the label split
    "ml21_separation" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) AS v,
         |         CASE WHEN close >= 22000 THEN 1 ELSE 0 END AS y
         |  FROM panel),
         |t AS (SELECT v, y AS a, 1 - y AS b FROM pr),
         |g AS (
         |  SELECT v, CAST(sum(a) AS HUGEINT) AS ca0,
         |         CAST(sum(b) AS HUGEINT) AS cb0
         |  FROM t GROUP BY 1),
         |c AS (
         |  SELECT *, sum(ca0) OVER wa AS ca, sum(cb0) OVER wa AS cb,
         |         sum(ca0) OVER () AS na, sum(cb0) OVER () AS nb
         |  FROM g
         |  WINDOW wa AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         |mx AS (
         |  SELECT max(na) AS fa, max(nb) AS fb,
         |         max(abs(ca * nb - cb * na)) AS d
         |  FROM c)
         |SELECT CAST(fa AS BIGINT) AS n_a, CAST(fb AS BIGINT) AS n_b,
         |  round(CASE WHEN fa > 0 AND fb > 0
         |             THEN CAST(d AS DOUBLE)
         |               / (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE)) END, 6) AS ks,
         |  round(CASE WHEN fa > 0 AND fb > 0
         |             THEN least(1.0, 2.0 * exp(-2.0
         |               * (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE)
         |                  / (CAST(fa AS DOUBLE) + CAST(fb AS DOUBLE)))
         |               * (CAST(d AS DOUBLE)
         |                  / (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE)))
         |               * (CAST(d AS DOUBLE)
         |                  / (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE)))))
         |        END, 6) AS p_value
         |FROM mx""".stripMargin,

    // ML19: top-decile lift — integer-exact k, whole-tie cut at the
    // first distinct score reaching it
    "ml19_lift" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) AS s,
         |         CASE WHEN close >= 22000 THEN 1 ELSE 0 END AS y
         |  FROM panel),
         |sc AS (
         |  SELECT s, CAST(sum(y) AS BIGINT) AS p, count(*)::BIGINT AS c
         |  FROM pr GROUP BY 1),
         |cm AS (
         |  SELECT s AS threshold,
         |    CAST(sum(p) OVER wd AS BIGINT) AS tp,
         |    CAST(sum(c) OVER wd AS BIGINT) AS cnt,
         |    CAST(sum(p) OVER () AS BIGINT) AS tot,
         |    CAST(sum(c) OVER () AS BIGINT) AS nn
         |  FROM sc
         |  WINDOW wd AS (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)),
         |cut AS (
         |  SELECT *, (nn * 10 + 99) // 100 AS k FROM cm
         |  WHERE cnt >= (nn * 10 + 99) // 100
         |  ORDER BY cnt LIMIT 1)
         |SELECT nn AS n, CAST(k AS BIGINT) AS k, threshold,
         |  cnt AS n_taken, tp AS pos_taken,
         |  round(tp::DOUBLE / cnt, 6) AS precision_at_k,
         |  round(tot::DOUBLE / nn, 6) AS base_rate,
         |  round(CASE WHEN tot > 0
         |        THEN (tp::DOUBLE / cnt) / (tot::DOUBLE / nn) END, 6) AS lift
         |FROM cut""".stripMargin,

    // ML20: confusion at 0.5 — exact counts, balanced accuracy, MCC
    "ml20_confusion" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) >= 0.5 AS h,
         |         CASE WHEN close >= 22000 THEN 1 ELSE 0 END AS y
         |  FROM panel),
         |cm AS (
         |  SELECT count(*)::BIGINT AS n,
         |    CAST(sum(CASE WHEN h AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN h AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT h AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS tn,
         |    CAST(sum(CASE WHEN NOT h AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS fn
         |  FROM pr)
         |SELECT n, tp, fp, tn, fn,
         |  round((tp::DOUBLE + tn::DOUBLE) / n::DOUBLE, 6) AS accuracy,
         |  round(CASE WHEN tp + fn > 0 AND tn + fp > 0
         |        THEN (tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE) +
         |              tn::DOUBLE / (tn::DOUBLE + fp::DOUBLE)) / 2 END, 6)
         |    AS balanced_accuracy,
         |  round(CASE WHEN tp + fp > 0 AND tp + fn > 0
         |              AND tn + fp > 0 AND tn + fn > 0
         |        THEN (tp::DOUBLE * tn::DOUBLE - fp::DOUBLE * fn::DOUBLE) /
         |          sqrt((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |             * (tn::DOUBLE + fp::DOUBLE) * (tn::DOUBLE + fn::DOUBLE))
         |        END, 6) + 0.0 AS mcc
         |FROM cm""".stripMargin,

    // EV14: Markov removal-effect attribution — the power steps unroll
    // as generated CTEs (the pagerank precedent); integer half-up
    // rounding for effect/share (both engines agree on int division)
    "ev14_markov_attribution" -> {
      val touches = Seq("view", "click", "signup")
      val steps = 6
      def scen(tag: String, removed: Option[String]): String = {
        val e = removed match {
          case None => s"e_$tag AS (SELECT f, t, cnt FROM edges)"
          case Some(c) =>
            s"""e_$tag AS (
               |  SELECT f, CASE WHEN t = '$c' THEN 'NULL' ELSE t END AS t,
               |         CAST(sum(cnt) AS BIGINT) AS cnt
               |  FROM edges GROUP BY 1, 2)""".stripMargin
        }
        val p =
          s"""p_$tag AS (
             |  SELECT e_$tag.f, e_$tag.t, cnt, outc
             |  FROM e_$tag JOIN tot ON e_$tag.f = tot.f)""".stripMargin
        val v0 = s"v_${tag}_0 AS (SELECT 'START' AS state, " +
          "CAST(1000000000000 AS BIGINT) AS mass)"
        // ONE reference to the previous step per CTE: DuckDB inlines
        // CTE references, so a UNION reading v_{k-1} twice doubles the
        // expansion per step (2^steps copies of the whole chain — the
        // planner hang this replaced). Absorbing rows ride the LEFT
        // JOIN's null side instead.
        val vs = (1 to steps).map { k =>
          s"""v_${tag}_$k AS (
             |  SELECT state, CAST(sum(mass) AS BIGINT) AS mass FROM (
             |    SELECT
             |      CASE WHEN v.state IN ('CONV', 'NULL') THEN v.state
             |           ELSE p.t END AS state,
             |      CASE WHEN v.state IN ('CONV', 'NULL') THEN v.mass
             |           ELSE CAST(round(v.mass::DOUBLE *
             |             (p.cnt::DOUBLE / p.outc::DOUBLE)) AS BIGINT)
             |      END AS mass
             |    FROM v_${tag}_${k - 1} v
             |    LEFT JOIN p_$tag p
             |      ON v.state = p.f AND v.state NOT IN ('CONV', 'NULL')) q
             |  WHERE state IS NOT NULL
             |  GROUP BY state)""".stripMargin
        }.mkString(",\n")
        val cm = s"c_$tag AS (SELECT coalesce(max(mass), 0) AS m " +
          s"FROM v_${tag}_$steps WHERE state = 'CONV')"
        Seq(e, p, v0, vs, cm).mkString(",\n")
      }
      val scens = scen("base", None) + ",\n" +
        touches.zipWithIndex.map { case (c, i) =>
          scen(s"rm$i", Some(c))
        }.mkString(",\n")
      // every scalar referenced ONCE: DuckDB inlines CTEs, so repeated
      // scalar subqueries re-expand the whole power-step chain each
      // time (observed as a planner blowup/hang)
      val finCols = touches.indices
        .map(i => s"(SELECT m FROM c_rm$i) AS m$i").mkString(", ")
      val teExpr = touches.indices
        .map(i => s"greatest(bm - m$i, 0)").mkString(" + ")
      val rows = touches.zipWithIndex.map { case (c, i) =>
        s"""SELECT '$c' AS channel,
           |  bm::DOUBLE / 1e12 AS base_p,
           |  m$i::DOUBLE / 1e12 AS removed_p,
           |  ((greatest(bm - m$i, 0) + 500000) // 1000000)::DOUBLE / 1e6
           |    AS removal_effect,
           |  CASE WHEN te > 0
           |    THEN ((2 * greatest(bm - m$i, 0) * 1000000 + te)
           |          // (2 * te))::DOUBLE / 1e6
           |    ELSE 0.0 END AS share
           |FROM fin""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
         |  FROM events
         |  WHERE event_type IN (${(touches :+ "purchase")
            .map(t => s"'$t'").mkString(", ")})),
         |j AS (
         |  SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase'
         |      THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS pc
         |  FROM ev),
         |jr AS (SELECT * FROM j WHERE pc = 0),
         |sx AS (
         |  SELECT user_id, ts, event_id,
         |    coalesce(lag(event_type) OVER w, 'START') AS f,
         |    event_type AS t,
         |    lead(event_type) OVER w IS NULL AS lastr
         |  FROM jr
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |er AS (
         |  SELECT f, t FROM sx
         |  UNION ALL
         |  SELECT t AS f, 'NULL' AS t FROM sx
         |  WHERE lastr AND t <> 'purchase'),
         |edges AS (
         |  SELECT f, CASE WHEN t = 'purchase' THEN 'CONV' ELSE t END AS t,
         |         count(*)::BIGINT AS cnt
         |  FROM er GROUP BY 1, 2),
         |tot AS (SELECT f, CAST(sum(cnt) AS BIGINT) AS outc
         |        FROM edges GROUP BY 1),
         |$scens,
         |fin0 AS (SELECT (SELECT m FROM c_base) AS bm, $finCols),
         |fin AS (SELECT *, $teExpr AS te FROM fin0)
         |$rows""".stripMargin
    },

    // EV13: cohort LTV — exact cents, integer-quotient per-user values
    "ev13_cohort_ltv" ->
      """WITH fu AS (
        |  SELECT user_id,
        |    min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS f
        |  FROM events GROUP BY 1),
        |fc AS (
        |  SELECT user_id, f,
        |    CAST(date_trunc('week', f) AS DATE) AS cohort
        |  FROM fu),
        |sz AS (SELECT cohort, count(*)::BIGINT AS n_users FROM fc GROUP BY 1),
        |rv AS (
        |  SELECT fc.cohort,
        |    CAST(date_diff('day', fc.f, CAST(CAST(e.ts AS TIMESTAMP) AS DATE))
        |      AS BIGINT) AS age_days,
        |    CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        |  GROUP BY 1, 2),
        |cu AS (
        |  SELECT cohort, age_days,
        |    CAST(sum(c) OVER (PARTITION BY cohort ORDER BY age_days
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM rv)
        |SELECT cu.cohort, cu.age_days, sz.n_users,
        |  round(cu.cum::DOUBLE * 1e4 / sz.n_users) / 1e6
        |    AS cum_value_per_user
        |FROM cu JOIN sz ON cu.cohort = sz.cohort""".stripMargin,

    // EV12: stickiness over the ev9 sweep
    "ev12_stickiness" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id AS u, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |mx AS (SELECT max(d) AS m FROM ev),
        |iv AS (
        |  SELECT u, d,
        |    least(coalesce(lead(d) OVER (PARTITION BY u ORDER BY d) - 1,
        |                   (SELECT m FROM mx)),
        |          d + 27, (SELECT m FROM mx)) AS e
        |  FROM ev),
        |ex AS (
        |  SELECT d, CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
        |    CAST(e AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM iv),
        |ag AS (
        |  SELECT date,
        |    CAST(sum(CASE WHEN date = d THEN 1 ELSE 0 END) AS BIGINT) AS dau,
        |    count(*)::BIGINT AS active_28
        |  FROM ex GROUP BY 1)
        |SELECT date, dau, active_28,
        |  round(dau::DOUBLE * 1e6 / active_28) / 1e6 AS stickiness
        |FROM ag""".stripMargin,

    // ML14: PSI over 10 equal-width score bins — exact counts, ε-floored
    // fractions, micro-nat-quantized total (bins empty on both sides are
    // absent from the grouped frame, contribution 0)
    "ml14_psi" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) AS v, date
         |  FROM panel),
         |t AS (
         |  SELECT v,
         |    CASE WHEN date < DATE '1995-01-01' THEN 1 ELSE 0 END AS e,
         |    CASE WHEN date >= DATE '1995-01-01' THEN 1 ELSE 0 END AS a
         |  FROM pr),
         |g AS (
         |  SELECT CAST(least(greatest(floor((v - 0.0) / 0.1), 0), 9) AS BIGINT)
         |           AS bin,
         |         CAST(sum(e) AS BIGINT) AS n_expected,
         |         CAST(sum(a) AS BIGINT) AS n_actual
         |  FROM t GROUP BY 1),
         |c AS (
         |  SELECT *, sum(n_expected) OVER () AS ne, sum(n_actual) OVER () AS na,
         |    greatest(n_expected::DOUBLE / sum(n_expected) OVER (), 1e-6) AS pe,
         |    greatest(n_actual::DOUBLE / sum(n_actual) OVER (), 1e-6) AS pa
         |  FROM g),
         |k AS (SELECT *, (pa - pe) * ln(pa / pe) AS ctr FROM c)
         |SELECT bin, n_expected, n_actual,
         |  round(n_expected::DOUBLE / ne, 6) AS expected_frac,
         |  round(n_actual::DOUBLE / na, 6) AS actual_frac,
         |  round(ctr, 6) + 0.0 AS contribution,
         |  round(sum(CAST(round(ctr * 1e12) AS HUGEINT)) OVER ()::DOUBLE
         |    / 1e12, 6) AS psi
         |FROM k""".stripMargin,

    // ML11: PR curve — per-distinct-score cumulative tp/fp, exact ints
    "ml11_pr_curve" ->
      s"""WITH $panelCte,
         |pr AS (
         |  SELECT least(1.0::DOUBLE, round(close / 60000.0, 1)) AS s,
         |         CASE WHEN close >= 22000 THEN 1 ELSE 0 END AS y
         |  FROM panel),
         |sc AS (
         |  SELECT s, CAST(sum(y) AS BIGINT) AS p, count(*)::BIGINT AS c
         |  FROM pr GROUP BY 1),
         |cm AS (
         |  SELECT *,
         |    CAST(sum(p) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
         |                      AND CURRENT ROW) AS BIGINT) AS tp,
         |    CAST(sum(c - p) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
         |                          PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
         |    CAST(sum(p) OVER () AS BIGINT) AS tot
         |  FROM sc)
         |SELECT s AS threshold, tp, fp,
         |  round(tp::DOUBLE / (tp + fp), 6) AS precision,
         |  round(CASE WHEN tot > 0 THEN tp::DOUBLE / tot END, 6) AS recall
         |FROM cm""".stripMargin,
  ))
}
