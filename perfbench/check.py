"""Correctness checks for every op a benchmark run recorded.

Ops whose catalog query has DuckDB oracle SQL (backtest_pipeline, perf_*,
sw1_param_sweep, trade_full, dd29_incremental_simhash) are compared with a
DuckDB reference built from the same SQL, re-parameterised with the op's
drawn parameters and run on the generated inputs. Rows are compared as
tools/check_oracle.py compares them (same columns, same row multiset),
but numerically: floats within a tolerance instead of 9-place rounding,
and -0.0 equal to 0.0 (the engines disagree on the sign of a zero that
round() produces, and no result hash is taken here). The curate op, which
has no oracle, is checked against its invariants.

`check_ops(workload, inputs, ops)` returns one failure reason per op, None
for a pass. An op that raised already carries its error and fails as such.
"""
import math
from collections import defaultdict

import duckdb


# ---------------------------------------------------------------- comparing

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0  # -0.0 + 0.0 is 0.0
    if isinstance(v, bool):
        return int(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if v in ("NaN", "Infinity", "-Infinity"):
        return "NaN" if v == "NaN" else float(v)
    return v


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if a == b:
            return True
        # outputs rounded to 6 places may differ by one unit in the last
        # place when the unrounded values straddle a rounding boundary
        six = all(abs(x * 1e6 - round(x * 1e6)) < 1e-3 for x in (a, b))
        return abs(a - b) <= (1.01e-6 if six else 1e-12 + 1e-9 * abs(b))
    return a == b


def _key(row):
    # exact columns first, so float noise below 6 places cannot reorder rows
    return (tuple(str(x) for x in row if not isinstance(x, float)),
            tuple(f"{x:.6f}" for x in row if isinstance(x, float)))


def compare(got, cols, want):
    """`got`: list of dicts (the op's collected rows); `cols`, `want`: the
    reference's column names and row tuples. Returns None or a reason."""
    got_cols = sorted(got[0].keys()) if got else sorted(cols)
    if got and got_cols != sorted(cols):
        return f"columns {got_cols} != {sorted(cols)}"
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    g = sorted((tuple(_norm(r[cols[i]]) for i in order) for r in got), key=_key)
    w = sorted((tuple(_norm(r[i]) for i in order) for r in want), key=_key)
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for a, b in zip(g, w):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {a} != {b}"
    return None


def _ref(con, sql):
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


# -------------------------------------- live_trade: backtest, sweep, orders

def _signal_sql(src, window, factor, part=""):
    return f"""sig AS (
  SELECT {part}sid, date, close,
    CAST(close * count(*) OVER w < sum(close) OVER w * {factor} AS INT) AS signal
  FROM {src}
  WINDOW w AS (PARTITION BY {part}sid ORDER BY date
               ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW)),
wts AS (
  SELECT *, CAST(signal AS DOUBLE) /
    (CASE WHEN sum(abs(signal)) OVER (PARTITION BY {part}date) <> 0
          THEN sum(abs(signal)) OVER (PARTITION BY {part}date) ELSE 1 END) AS weight
  FROM sig)"""


def _returns_sql(src, p, factor="1.0", part=""):
    """backtest_pipeline's signal → weight → position → gross chain plus
    PercentageCommission and SLIPPAGE_BPS over turnover: one net Return
    per (sid, date), null on a sid's first bar like the engine's."""
    rate, slip = repr(float(p["commission"])), repr(float(p["slippage_bps"]) / 10000.0)
    over = f"OVER (PARTITION BY {part}sid ORDER BY date)"
    return f"""{_signal_sql(src, int(p["window"]), factor, part)},
pos AS (SELECT *, lag(weight) {over} AS position FROM wts),
trn AS (
  SELECT *, abs(coalesce(position, 0) - lag(coalesce(position, 0)) {over}) AS turnover
  FROM pos),
gro AS (
  SELECT *, (close / lag(close) {over} - 1) * lag(position) {over} AS gross FROM trn),
net AS (
  SELECT {part}sid, date,
    coalesce(gross, 0.0) - (turnover * {rate} + turnover * 0.0)
      - coalesce(0.0 + turnover * {slip}, 0.0) AS ret
  FROM gro)"""


def _perf_sql(p):
    """perf_daily / perf_summary / perf_drawdowns / perf_benchmark oracle
    CTEs over the backtest's per-date pico-exact return sum."""
    return f"""WITH {_returns_sql("panel", p)},
ret AS (
  SELECT date,
    CAST(sum(CAST(round(ret * 1e12) AS BIGINT)) AS BIGINT) / 1e12 AS r
  FROM net GROUP BY date),
cum AS (
  SELECT date, r,
    CASE WHEN sum(CASE WHEN 1 + r = 0 THEN 1 ELSE 0 END) OVER w > 0 THEN 0.0
         ELSE exp(sum(CASE WHEN 1 + r <> 0 THEN ln(abs(1 + r)) ELSE 0.0 END) OVER w) *
              (1.0 - (sum(CASE WHEN 1 + r < 0 THEN 1 ELSE 0 END) OVER w % 2) * 2)
    END AS c
  FROM ret
  WINDOW w AS (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
pk AS (
  SELECT *, max(c) OVER (ORDER BY date
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM cum)"""


PERF_SELECT = {
    "daily": """, d AS (
  SELECT date, r AS "return", round(c - 1, 6) AS cum_return,
         round(CASE WHEN p <> 0 THEN c / p - 1 END, 6) AS drawdown
  FROM pk)
SELECT * FROM d""",
    "summary": """, st AS (
  SELECT count(*) AS n_days, arg_max(c, date) AS endc, avg(r) AS mu,
         stddev_samp(r) AS sigma,
         min(CASE WHEN p <> 0 THEN c / p - 1 END) AS mdd
  FROM pk)
SELECT CAST(n_days AS BIGINT) AS n_days,
  round(endc - 1, 6) AS total_return,
  round(CASE WHEN endc > 0 THEN pow(endc, 252.0 / n_days) - 1 END, 6) AS cagr,
  round(mu / sigma * sqrt(252.0), 6) AS sharpe,
  round(mdd, 6) AS max_drawdown
FROM st""",
    "drawdowns": """, dd AS (
  SELECT date, CASE WHEN p <> 0 THEN c / p - 1 END AS d FROM pk),
isl AS (
  SELECT date, d,
    sum(CASE WHEN d IS NOT NULL AND d < 0 THEN 0 ELSE 1 END)
      OVER (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM dd),
u AS (SELECT date, round(d, 6) AS rdd, grp FROM isl WHERE d IS NOT NULL AND d < 0),
tr AS (SELECT grp, date AS trough_date,
         row_number() OVER (PARTITION BY grp ORDER BY rdd, date) AS rn
       FROM u),
ep AS (
  SELECT u.grp, min(u.date) AS start_date, max(u.date) AS end_date,
    CAST(count(*) AS BIGINT) AS n_days, min(u.rdd) AS depth
  FROM u GROUP BY u.grp)
SELECT CAST(row_number() OVER (ORDER BY ep.start_date) AS BIGINT) AS episode,
  ep.start_date, tr.trough_date, ep.end_date, ep.n_days, ep.depth
FROM ep JOIN tr ON ep.grp = tr.grp AND tr.rn = 1""",
    "vs_benchmark": """, dates AS (SELECT DISTINCT date FROM panel),
bcl AS (SELECT date, close FROM panel WHERE sid = 'BM'),
bf AS (
  SELECT d.date,
    last_value(bcl.close IGNORE NULLS) OVER (ORDER BY d.date
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM dates d LEFT JOIN bcl ON d.date = bcl.date),
br AS (SELECT date, coalesce(c / lag(c) OVER (ORDER BY date) - 1, 0.0) AS b FROM bf),
j AS (SELECT ret.date, r, b FROM ret JOIN br ON ret.date = br.date),
st AS (
  SELECT count(*) AS n_days, covar_samp(r, b) AS cv, var_samp(b) AS vb,
         avg(r) AS mur, avg(b) AS mub, corr(r, b) AS co
  FROM j)
SELECT CAST(n_days AS BIGINT) AS n_days,
  round(CASE WHEN vb <> 0 THEN cv / vb END, 6) AS beta,
  round(CASE WHEN vb <> 0 THEN (mur - cv / vb * mub) * 252 END, 6) AS alpha,
  round(co, 6) AS correlation
FROM st""",
}


def _sweep_sql(p):
    """sw1_param_sweep's oracle, with the op's variant factors."""
    values = ", ".join(f"('v{i}', {repr(float(f))})" for i, f in enumerate(p["factors"]))
    return f"""WITH vp AS (
  SELECT p.*, v.variant, v.factor FROM panel p
  CROSS JOIN (VALUES {values}) v(variant, factor)),
{_returns_sql("vp", p, "factor", "variant, ")}
SELECT variant, count(*) AS n_rows,
  CAST(CAST(sum(CAST(round(ret * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12
    AS sum_return
FROM net GROUP BY 1"""


def perf_sql(p, measure):
    return _perf_sql(p) + "\n" + PERF_SELECT[measure]


def _check_backtest(con, op):
    for name in PERF_SELECT:
        why = compare(op["outputs"][name], *_ref(con, perf_sql(op["params"], name)))
        if why:
            return f"{name}: {why}"
    return None

def _trade_sql(p):
    """trade_full's oracle with the op's window, signal date, account
    state and rebalance threshold."""
    k = int(p["state"])
    return f"""WITH {_signal_sql("panel", int(p["window"]), "1.0")},
today AS (SELECT sid, weight, close FROM wts WHERE date = DATE '{p["signal_date"]}'),
accounts AS (
  SELECT a.account, a.allocation, b.currency AS bc, b.netLiquidation AS nlv
  FROM (SELECT * FROM allocations WHERE state = {k}) a
  LEFT JOIN (SELECT * FROM balances WHERE state = {k}) b ON a.account = b.account),
fanned AS (
  SELECT t.sid, t.weight, t.close, m.currency AS qc, a.*
  FROM today t LEFT JOIN master m ON t.sid = m.sid CROSS JOIN accounts a),
withrate AS (
  SELECT f.*, CASE WHEN f.bc = f.qc THEN 1.0 ELSE r.rate END AS rate
  FROM fanned f LEFT JOIN (SELECT * FROM rates WHERE state = {k}) r
    ON f.bc = r.baseCurrency AND f.qc = r.quoteCurrency),
targets AS (
  SELECT sid, account,
    CAST(coalesce(round(weight * allocation * nlv * rate /
      abs(CASE WHEN close <> 0 THEN close END)), 0) AS BIGINT) AS tq
  FROM withrate),
pos AS (SELECT sid, account, quantity AS q FROM positions WHERE state = {k}),
oo AS (
  SELECT sid, account,
    sum(CASE WHEN action = 'SELL' THEN -remaining ELSE remaining END) AS rem
  FROM orders WHERE state = {k} GROUP BY 1, 2),
held AS (
  SELECT coalesce(pos.sid, oo.sid) AS sid,
         coalesce(pos.account, oo.account) AS account,
         coalesce(q, 0) + coalesce(rem, 0) AS quantity
  FROM pos FULL OUTER JOIN oo ON pos.sid = oo.sid AND pos.account = oo.account),
net AS (
  SELECT t.sid, t.account, coalesce(h.quantity, 0) AS held, t.tq,
         t.tq - coalesce(h.quantity, 0) AS nq
  FROM targets t LEFT JOIN held h ON t.sid = h.sid AND t.account = h.account),
gated AS (
  SELECT sid, account,
    CASE WHEN ((tq > 0 AND held > 0) OR (tq < 0 AND held < 0))
              AND abs(nq / held) < {repr(float(p["threshold"]))}
         THEN 0 ELSE nq END AS nq
  FROM net)
SELECT sid, account, CASE WHEN nq > 0 THEN 'BUY' ELSE 'SELL' END AS action,
       'perfbench' AS "orderRef", CAST(round(abs(nq)) AS BIGINT) AS "totalQuantity",
       'MKT' AS "orderType", 'DAY' AS tif
FROM gated WHERE nq <> 0 AND round(nq) <> 0"""


def _live(con, inputs):
    con.execute(f"CREATE VIEW panel AS SELECT * FROM read_parquet('{inputs}/panel/*.parquet')")
    con.execute(f"CREATE VIEW master AS SELECT * FROM read_parquet('{inputs}/master.parquet')")
    for t in ("balances", "rates", "allocations", "positions", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/state/{t}.parquet')")

    def check(op):
        if op["kind"] == "backtest":
            return _check_backtest(con, op)
        sql = (_sweep_sql if op["kind"] == "sweep" else _trade_sql)(op["params"])
        return compare(op["outputs"]["variants" if op["kind"] == "sweep" else "orders"],
                       *_ref(con, sql))
    return check


# ----------------------------------------------------------- corpus_ingest

# dd29_incremental_simhash's oracle fingerprint: distinct lowercase words,
# md5 → 64-bit hash, per-bit vote, two's-complement wrap
FINGERPRINTS = r"""CREATE TABLE fp AS
WITH words AS (
  SELECT doc_id,
    unnest(list_distinct(string_split_regex(
      trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'))) AS w
  FROM docs),
h0 AS (
  SELECT doc_id,
    CAST(CAST('0x' || substring(md5(w), 1, 8) AS UBIGINT) AS HUGEINT) AS hi,
    CAST(CAST('0x' || substring(md5(w), 9, 8) AS UBIGINT) AS HUGEINT) AS lo
  FROM words),
h AS (
  SELECT doc_id,
    CAST(hi * 4294967296::HUGEINT + lo
      - CASE WHEN hi >= 2147483648::HUGEINT
             THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS hv
  FROM h0),
v AS (
  SELECT doc_id, i, sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS i) bits
  GROUP BY 1, 2),
fp0 AS (
  SELECT doc_id,
    sum(CASE WHEN vote > 0 THEN 1::HUGEINT << i ELSE 0::HUGEINT END) AS s
  FROM v GROUP BY 1)
SELECT doc_id,
  CAST(s - CASE WHEN s >= 9223372036854775808::HUGEINT
           THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS simhash
FROM fp0"""

PAIRS = """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN member ma ON a.doc_id = ma.doc_id
JOIN fp b ON a.doc_id < b.doc_id
JOIN member mb ON b.doc_id = mb.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 AND (ma.new OR mb.new)"""

MAX_HAMMING = 3


def _curate_invariants(op, batch_ids):
    p, out = op["params"], op["outputs"]
    weights = out["weights"]
    if sorted(w["doc_id"] for w in weights) != sorted(batch_ids):
        return "soft weights do not cover the batch exactly once"
    for w in weights:
        size = w["cluster_size"] or 1
        if not _close(w["weight"], round(1.0 / size, 6)) and not _close(w["weight"], 1.0 / size):
            return f"soft weight {w} is not 1/cluster_size"
    seqs = defaultdict(int)
    for r in out["packed"]:
        if r["doc_id"] not in batch_ids:
            return f"packed doc {r['doc_id']} is not in the batch"
        seqs[(r["shard"], r["seq_id"])] += r["tok_in_seq"]
    last = {}
    for (shard, seq), n in seqs.items():
        last[shard] = max(last.get(shard, seq), seq)
        if n > p["seq_len"]:
            return f"sequence {(shard, seq)} holds {n} > {p['seq_len']} tokens"
    for (shard, seq), n in seqs.items():
        if seq != last[shard] and n != p["seq_len"]:
            return f"sequence {(shard, seq)} holds {n} tokens, not a full {p['seq_len']}"
    abl = {r["excluded_source"]: r for r in out["ablation"]}
    if set(abl) != {"(none)"} | set(p["ablate"]):
        return f"ablation rows {sorted(abl)}"
    full = abl["(none)"]["accuracy"]
    for r in abl.values():
        if not 0.0 <= r["accuracy"] <= 1.0 or not _close(r["delta_vs_full"], round(r["accuracy"] - full, 6)):
            return f"ablation row {r}"
    for dim in ("row_val", "col_val"):
        mass = defaultdict(float)
        for r in out["raking"]:
            mass[r[dim]] += r["n"] * r["weight"]
        lo, hi = min(mass.values()), max(mass.values())
        if hi > lo * (1 + RAKING_TOL[dim]):
            return f"raked {dim} marginals not uniform: {lo:.3f}..{hi:.3f}"
    return None


# IPF ends on the column pass, so column marginals are uniform up to the
# 6-place weights; rows are left within the fixed-iteration residual.
RAKING_TOL = {"col_val": 1e-3, "row_val": 0.05}


def _corpus(con, inputs):
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{inputs}/batches/*.parquet')")
    con.execute(FINGERPRINTS)
    batch_ids = defaultdict(list)
    for doc_id, in con.sql("SELECT doc_id FROM docs").fetchall():
        batch_ids[doc_id // 1_000_000].append(doc_id)
    state = {"cycle": None, "indexed": set(), "pairs": None}

    def check(op):
        p, out = op["params"], op["outputs"]
        b = int(p["batch"])
        if state["cycle"] != op["cycle"]:
            state.update(cycle=op["cycle"], indexed=set(batch_ids[0]))
        if op["kind"] == "probe":
            import pyarrow as pa
            ids = sorted(state["indexed"]) + batch_ids[b]
            member = pa.table({"doc_id": ids,
                               "new": [False] * len(state["indexed"]) + [True] * len(batch_ids[b])})
            con.register("member", member)
            state["pairs"] = out["pairs"]
            bad = [r for r in out["pairs"] if r["hamming"] > MAX_HAMMING]
            if bad:
                return f"pair {bad[0]} exceeds hamming {MAX_HAMMING}"
            return compare(out["pairs"], *_ref(con, PAIRS))
        if op["kind"] == "append":
            dropped = sorted(r[0] for r in out["dropped"])
            expect = sorted({r["id_b"] for r in state["pairs"] or []})
            state["indexed"] |= set(batch_ids[b]) - set(dropped)
            return None if dropped == expect else "admitted set differs from the probe's pairs"
        return _curate_invariants(op, set(batch_ids[b]))
    return check


CHECKERS = {"live_trade": _live, "corpus_ingest": _corpus}


def check_ops(workload, inputs, ops):
    con = duckdb.connect()
    check = CHECKERS[workload](con, inputs)
    reasons = []
    for op in ops:
        if op.get("error"):
            reasons.append(f"raised {op['error']}")
            continue
        try:
            reasons.append(check(op))
        except Exception as e:  # a checker crash must fail the op, not pass it
            reasons.append(f"check raised {type(e).__name__}: {e}")
    con.close()
    return reasons
