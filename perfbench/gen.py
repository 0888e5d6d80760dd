"""Seeded input generators for the benchmark workloads.

Each generator writes plain parquet files into one directory and returns a
small `meta` dict (sizes, shares) that is stored beside them as meta.json.
The same (workload, seed) always yields byte-identical files; `digest()`
hashes them so a cached input set can be verified before reuse.
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. They stay fixed across seeds so that only values, not volumes,
# change between runs of one workload.
LIVE_SIDS = 300
LIVE_DAYS = 400
LIVE_MISSING = 0.01
LIVE_FILES = 8
LIVE_STATES = 64
CORPUS_BATCHES = 3
CORPUS_BATCH_DOCS = 400
CORPUS_WORDS = 50
CORPUS_SOURCES = 20
CORPUS_LANGS = ["en", "de", "fr", "es", "it"]
CORPUS_DUP_SHARE = 0.2

BENCH_SID = "BM"
ACCOUNTS = ["U1", "U2"]
CURRENCIES = ["USD", "EUR"]


def _rng(workload, seed):
    tag = int(hashlib.sha256(workload.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([int(seed), tag])


def _business_days(n, start=dt.date(2015, 1, 1)):
    days, d = [], start
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _closes(rng, n_sids, n_days):
    """Random-walk closes in whole cents (integer-valued doubles, so every
    window sum is exact in any engine and summation order)."""
    start = rng.uniform(2000, 50000, size=(n_sids, 1))
    steps = rng.normal(0.0, 0.02, size=(n_sids, n_days))
    steps[:, 0] = 0.0
    return np.maximum(np.round(start * np.exp(np.cumsum(steps, axis=1))), 100.0)


def _sids(n):
    return [BENCH_SID] + [f"S{i:04d}" for i in range(1, n)]


def _write_panel(out, sids, days, closes, keep, files):
    os.makedirs(os.path.join(out, "panel"))
    sid_col, date_col, close_col = [], [], []
    for i, s in enumerate(sids):
        for j, d in enumerate(days):
            if keep[i, j]:
                sid_col.append(s)
                date_col.append(d)
                close_col.append(float(closes[i, j]))
    table = pa.table({
        "sid": pa.array(sid_col, pa.string()),
        "date": pa.array(date_col, pa.date32()),
        "close": pa.array(close_col, pa.float64()),
    })
    # a user's panel sits on disk as several files, sid-clustered
    per = -(-len(sids) // files)
    for f in range(files):
        lo, hi = f * per, min(len(sids), (f + 1) * per)
        mask = np.isin(np.array(sid_col), sids[lo:hi])
        pq.write_table(table.filter(pa.array(mask)),
                       os.path.join(out, "panel", f"part-{f:02d}.parquet"))
    return table.num_rows


def _write_master(out, rng, sids):
    cur = [CURRENCIES[int(x)] for x in rng.integers(0, 2, size=len(sids))]
    cur[0] = "USD"
    pq.write_table(pa.table({
        "sid": sids,
        "symbol": [s.lower() for s in sids],
        "currency": cur,
        "secType": ["STK"] * len(sids),
        "exchange": ["XNYS" if c == "USD" else "XPAR" for c in cur],
        "priceMagnifier": [1.0] * len(sids),
        "multiplier": [1.0] * len(sids),
    }), os.path.join(out, "master.parquet"))
    return cur.count("EUR")


def gen_live(out, seed):
    """An EOD universe with a benchmark sid, ~1% missing bars (the
    benchmark's ffill path) and a two-currency master, plus account states
    that drift from one to the next."""
    rng = _rng("live_trade", seed)
    sids, days = _sids(LIVE_SIDS), _business_days(LIVE_DAYS)
    closes = _closes(rng, len(sids), len(days))
    keep = rng.random(closes.shape) >= LIVE_MISSING
    keep[:, 0] = True  # every sid (the benchmark too) has a first bar
    keep[:, -5:] = True  # and a bar on every date an order op signals on
    rows = _write_panel(out, sids, days, closes, keep, LIVE_FILES)
    eur = _write_master(out, rng, sids)
    # account state: one row set per state id; ops cycle through states
    bal, rates, pos, oo, alloc = [], [], [], [], []
    nlv = np.array([1_000_000.0, 500_000.0])
    for k in range(LIVE_STATES):
        nlv = np.round(nlv * np.exp(rng.normal(0, 0.01, 2)), 2)
        bal += [(k, "U1", "USD", float(nlv[0])), (k, "U2", "EUR", float(nlv[1]))]
        eurusd = round(float(1.1 * np.exp(rng.normal(0, 0.01))), 6)
        rates += [(k, "EUR", "USD", eurusd), (k, "USD", "EUR", round(1 / eurusd, 6))]
        a1 = round(float(rng.uniform(0.3, 0.7)), 4)
        alloc += [(k, "U1", a1), (k, "U2", round(1 - a1, 4))]
        held = rng.choice(len(sids), size=len(sids) // 5, replace=False)
        for i in held:
            pos.append((k, sids[i], ACCOUNTS[int(rng.integers(0, 2))],
                        float(rng.integers(-300, 600))))
        for i in rng.choice(len(sids), size=len(sids) // 10, replace=False):
            oo.append((k, sids[i], ACCOUNTS[int(rng.integers(0, 2))], "live",
                       float(rng.integers(1, 200)),
                       "BUY" if rng.random() < 0.5 else "SELL"))

    def table(rows, names):
        return pa.table({n: [r[j] for r in rows] for j, n in enumerate(names)})

    os.makedirs(os.path.join(out, "state"))
    for name, rows_, cols in [
            ("balances", bal, ["state", "account", "currency", "netLiquidation"]),
            ("rates", rates, ["state", "baseCurrency", "quoteCurrency", "rate"]),
            ("allocations", alloc, ["state", "account", "allocation"]),
            ("positions", pos, ["state", "sid", "account", "quantity"]),
            ("orders", oo, ["state", "sid", "account", "orderRef", "remaining", "action"])]:
        pq.write_table(table(rows_, cols), os.path.join(out, "state", f"{name}.parquet"))
    return {"sids": len(sids), "days": len(days), "bars": rows,
            "missing_bars": int((~keep).sum()), "eur_sids": eur,
            "benchmark_sid": BENCH_SID, "states": LIVE_STATES,
            "positions": len(pos), "open_orders": len(oo)}


def _vocab(rng, lang, n=400):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 9))
        words.add(lang[:1] + "".join(rng.choice(letters, size=k)))
    return sorted(words)


def gen_corpus(out, seed):
    rng = _rng("corpus_ingest", seed)
    vocabs = {lang: _vocab(rng, lang) for lang in CORPUS_LANGS}
    shared = _vocab(rng, "x", 200)
    os.makedirs(os.path.join(out, "batches"))
    docs = []  # (doc_id, text, lang, source, quality)
    dup_in, dup_across = 0, 0
    for b in range(CORPUS_BATCHES):
        batch_start = len(docs)
        for i in range(CORPUS_BATCH_DOCS):
            doc_id = b * 1_000_000 + i
            if len(docs) > 0 and rng.random() < CORPUS_DUP_SHARE:
                # near-duplicate: one word of an earlier doc replaced
                src = docs[int(rng.integers(0, len(docs)))]
                words = src[1].split(" ")
                words[int(rng.integers(0, len(words)))] = shared[int(rng.integers(0, len(shared)))]
                text, lang = " ".join(words), src[2]
                if src[0] >= b * 1_000_000 and len(docs) > batch_start:
                    dup_in += 1
                else:
                    dup_across += 1
            else:
                lang = CORPUS_LANGS[int(rng.integers(0, len(CORPUS_LANGS)))]
                v = vocabs[lang]
                own = [v[int(x)] for x in rng.integers(0, len(v), size=CORPUS_WORDS * 4 // 5)]
                mix = [shared[int(x)] for x in rng.integers(0, len(shared), size=CORPUS_WORDS // 5)]
                words = own + mix
                rng.shuffle(words)
                text = " ".join(words)
            source = f"src{int(rng.integers(0, CORPUS_SOURCES))}"
            docs.append((doc_id, text, lang, source, round(float(rng.random()), 6)))
        batch = docs[batch_start:]
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in batch], pa.int64()),
            "text": [d[1] for d in batch],
            "lang": [d[2] for d in batch],
            "source": [d[3] for d in batch],
            "quality": pa.array([d[4] for d in batch], pa.float64()),
        }), os.path.join(out, "batches", f"batch-{b:02d}.parquet"))
    n = len(docs)
    return {"batches": CORPUS_BATCHES, "docs_per_batch": CORPUS_BATCH_DOCS, "docs": n,
            "mean_chars": round(sum(len(d[1]) for d in docs) / n, 1),
            "near_dup_share": round((dup_in + dup_across) / n, 4),
            "near_dup_in_batch": dup_in, "near_dup_across_batches": dup_across,
            "sources": CORPUS_SOURCES, "langs": len(CORPUS_LANGS)}


GENERATORS = {"live_trade": gen_live, "corpus_ingest": gen_corpus}


def digest(path):
    """sha256 over every file under `path` except meta.json/digest.txt."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f in ("meta.json", "digest.txt"):
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure(cache_dir, workload, seed):
    """Return (input dir, meta), generating the inputs unless a cached
    copy's digest still matches the one recorded at generation."""
    out = os.path.join(cache_dir, f"{workload}-{seed}")
    stamp = os.path.join(out, "digest.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest(out):
                with open(os.path.join(out, "meta.json")) as m:
                    return out, json.load(m)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](tmp, seed)
    meta["digest"] = digest(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    with open(os.path.join(tmp, "digest.txt"), "w") as f:
        f.write(meta["digest"] + "\n")
    os.rename(tmp, out)
    return out, meta
