#!/usr/bin/env python3
"""moonshotspark benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload live_trade --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the driver (sbt, into
perfbench/target) and later runs reuse the build while the sources are
unchanged. Inputs are generated from --seed into .bench_build/inputs and
reused while their digest matches. The driver JVM runs the ops; every op's
output is then checked (perfbench/check.py) outside the timed window. The
last stdout line is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# workload → the op kind behind op_p50_s
PRIMARY = {"live_trade": "orders", "corpus_ingest": "probe"}
# workload → the meta.json size one op's `rows` counts in
UNIT_ROWS = {"live_trade": "bars", "corpus_ingest": "docs_per_batch"}

END_TO_END = [
    ("setup_s", "s"), ("op_p50_s", "s"), ("rows_per_s", "1/s"), ("peak_rss_mb", "MB"),
]
OP_KINDS = ["backtest", "sweep", "orders", "probe", "append", "curate"]
PER_LAYER = (
    [(f"op.{k}_s", "s") for k in OP_KINDS]
    + [("pipeline.call_s", "s"), ("pipeline.action_s", "s"), ("pipeline.jobs", "count"),
       ("perf.call_s", "s"), ("perf.action_s", "s"), ("perf.jobs", "count"),
       ("scan.reads_per_input", "ratio"),
       ("trade.call_s", "s"), ("trade.action_s", "s"), ("trade.jobs", "count"),
       ("plan.s", "s"),
       ("dedup.probe_call_s", "s"), ("dedup.probe_action_s", "s"),
       ("dedup.append_s", "s"), ("dedup.neardup_s", "s"),
       ("dedup.index_bytes_per_doc", "B"), ("dedup.index_files", "count"),
       ("text.call_s", "s"), ("text.action_s", "s"), ("text.jobs", "count"),
       ("checkpoint.count", "count"), ("checkpoint.bytes", "B"),
       ("checkpoint.live_bytes", "B"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_busy_s", "s"), ("spark.core_busy_ratio", "ratio"),
       ("spark.driver_gap_s", "s"), ("spark.task_max_over_mean", "ratio"),
       ("spark.shuffle_write_bytes", "B"), ("spark.shuffle_read_bytes", "B"),
       ("spark.spill_bytes", "B"), ("spark.gc_s", "s"), ("spark.task_retries", "count"),
       ("scan.rows", "count"), ("scan.bytes", "B"),
       ("trace.overhead_pct", "%")])

XMX = "3g"
JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100) of `values` and the
    sample count it rests on: (value, n). (nan, 0) for no samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0] if values else 0.0


# ------------------------------------------------------------------ build

def _files(*roots):
    for root in roots:
        if os.path.isfile(root):
            yield root
        for d, dirs, files in os.walk(root):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def build(root, build_dir):
    """Compile the driver with the library sources; return its classpath.
    Cached per source digest, so an unchanged checkout builds once."""
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit(f"perfbench: library sources not found under {lib}")
    inputs = [lib, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in _files(*inputs):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, f"classpath-{h.hexdigest()[:20]}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "unknown"


# ---------------------------------------------------------------- metrics

def end_to_end(workload, ops, ok, run):
    prim = [o["secs"] for o, good in zip(ops, ok) if good and o["kind"] == PRIMARY[workload]]
    busy = sum(o["secs"] for o, good in zip(ops, ok) if good)
    rows = sum(o["rows"] for o, good in zip(ops, ok) if good)
    p50, n = percentile(prim, 50)
    setup, n_setup = percentile(run["setup_s"], 50)
    return {
        "setup_s": (setup, n_setup),
        "op_p50_s": (p50, n),
        "rows_per_s": (rows / busy if busy else 0.0, sum(ok)),
        "peak_rss_mb": (run["peak_rss_mb"], 1),
    }


def per_kind(ops, ok):
    """p50 and p90 of every op kind, e.g. backtest_p50_s, with sample counts."""
    out = {}
    for kind in OP_KINDS:
        xs = [o["secs"] for o, good in zip(ops, ok) if good and o["kind"] == kind]
        if xs:
            out[f"{kind}_p50_s"] = percentile(xs, 50)
            out[f"{kind}_p90_s"] = percentile(xs, 90)
    return out


def _union(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layers(workload, ops, ok, trace, run, meta):
    """Per-layer metrics from the traced ops that passed their check:
    per-op values, then the median over the ops where the layer is present
    (0 where it is not). Also returns, per op kind, the median shares of
    wall time spent outside jobs or planning, and of core time in tasks."""
    cores = int(run["header"]["cores"])
    good = [o for o, passed in zip(ops, ok) if passed]
    traced = [o for o in good if o["traced"]]
    win = {o["id"]: (o["t0"], o["t1"]) for o in traced}

    def op_at(t):
        for i, (a, b) in win.items():
            if a <= t <= b + 5:
                return i
        return None

    spans = [dict(zip(("id", "parent", "op", "name", "layer", "t0", "t1"), s))
             for s in trace["spans"]]
    jobs = [dict(zip(("id", "t0", "group", "t1"), j)) for j in trace["jobs"]]
    for j in jobs:
        tag = j["group"].rsplit("-", 1)
        j["op"] = int(tag[1]) if j["group"].startswith("perfbench-op-") and int(tag[1]) in win \
            else op_at(j["t0"])
    per = {i: {"tasks": [], "jobs": [], "plan": 0.0, "blocks": {}} for i in win}
    for j in jobs:
        if j["op"] in per:
            per[j["op"]]["jobs"].append(j)
    for t in trace["tasks"]:
        i = op_at(t[2])
        if i is not None:
            per[i]["tasks"].append(t)
    for start, _func, ms in trace["queries"]:
        i = op_at(start)
        if i is not None:
            per[i]["plan"] += ms / 1000.0
    for ts, rdd, name, size in trace["blocks"]:
        i = op_at(ts)
        if i is not None:
            per[i]["blocks"].setdefault(name, (rdd, size))

    def span_stats(i, pred):
        ss = [s for s in spans if s["op"] == i and pred(s)]
        if not ss:
            return None
        js = [j for j in per[i]["jobs"] if any(s["t0"] <= j["t0"] <= s["t1"] for s in ss)]
        return (sum(s["t1"] - s["t0"] for s in ss) / 1000.0,
                sum(_union([(j["t0"], j["t1"]) for j in js], s["t0"], s["t1"]) for s in ss) / 1000.0,
                len(js))

    values = {name: [] for name, _ in PER_LAYER}
    shares = {}  # kind → [(driver gap + plan) / wall, task busy / (cores × wall)]
    for o in traced:
        i, p = o["id"], per[o["id"]]
        tasks = p["tasks"]
        wall = o["secs"]
        busy = sum(t[3] for t in tasks) / 1000.0
        stages = {}
        for t in tasks:
            stages.setdefault((t[0], t[1]), []).append(t[3])
        skew = [max(ts) / (sum(ts) / len(ts)) for ts in stages.values()
                if len(ts) > 1 and sum(ts) > 0]
        gap = wall - _union([(j["t0"], j["t1"]) for j in p["jobs"]], o["t0"], o["t1"]) / 1000.0
        for name, v in [
                ("spark.jobs", len(p["jobs"])), ("spark.stages", len(stages)),
                ("spark.tasks", len(tasks)), ("spark.task_busy_s", busy),
                ("spark.core_busy_ratio", busy / (cores * wall) if wall else 0.0),
                ("spark.driver_gap_s", max(gap, 0.0)),
                ("spark.task_max_over_mean", max(skew) if skew else 1.0),
                ("spark.shuffle_write_bytes", sum(t[5] for t in tasks)),
                ("spark.shuffle_read_bytes", sum(t[6] for t in tasks)),
                ("spark.spill_bytes", sum(t[7] for t in tasks)),
                ("spark.gc_s", sum(t[4] for t in tasks) / 1000.0),
                ("spark.task_retries", sum(1 for t in tasks if t[10] > 0 or t[11])),
                ("scan.rows", sum(t[8] for t in tasks)),
                ("scan.bytes", sum(t[9] for t in tasks)),
                ("plan.s", p["plan"]),
                ("checkpoint.count", len({rdd for rdd, _ in p["blocks"].values()})),
                ("checkpoint.bytes", sum(size for _, size in p["blocks"].values()))]:
            values[name].append(v)
        if wall:
            shares.setdefault(o["kind"], []).append(
                ((max(gap, 0.0) + p["plan"]) / wall, busy / (cores * wall)))
        if o["kind"] == "backtest":
            values["scan.reads_per_input"].append(sum(t[8] for t in tasks) / meta["bars"])
        for layer in ("pipeline", "perf", "trade", "text"):
            st = span_stats(i, lambda s, layer=layer: s["layer"] == layer)
            if st:
                for k, v in zip(("call_s", "action_s", "jobs"), st):
                    values[f"{layer}.{k}"].append(v)
        for name, span, k in [("dedup.probe_call_s", "Dedup.incrementalSimhashPairs", 0),
                              ("dedup.probe_action_s", "Dedup.incrementalSimhashPairs", 1),
                              ("dedup.append_s", "Dedup.appendToSimhashIndex", 0),
                              ("dedup.neardup_s", "Dedup.nearDuplicates", 0)]:
            st = span_stats(i, lambda s, span=span: s["name"] == span)
            if st:
                values[name].append(st[k])

    out = {name: median(vs) for name, vs in values.items()}
    out["checkpoint.live_bytes"] = max((x[1] for x in trace["live"]), default=0)
    stats = run.get("stats") or {}
    if stats.get("index_docs"):
        out["dedup.index_bytes_per_doc"] = stats["index_bytes"] / stats["index_docs"]
        out["dedup.index_files"] = stats["index_files"]
    untraced = [o for o in good if not o["traced"]]
    for kind in OP_KINDS:
        out[f"op.{kind}_s"] = median([o["secs"] for o in untraced if o["kind"] == kind])
    prim = PRIMARY[workload]
    t_on = median([o["secs"] for o in traced if o["kind"] == prim])
    t_off = median([o["secs"] for o in untraced if o["kind"] == prim])
    out["trace.overhead_pct"] = (t_on / t_off - 1) * 100 if t_off else 0.0
    design = {k: (median([a for a, _ in v]), median([b for _, b in v]), len(v))
              for k, v in shares.items()}
    return out, design


# ------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    build_dir = os.path.abspath(".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    t_gen = time.time()
    inputs, meta = gen.ensure(os.path.join(build_dir, "inputs"), args.workload, args.seed)
    t_gen = time.time() - t_gen

    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"))
    # -XX:-UsePerfData: the JVM would otherwise write its perf file to /tmp
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", *JDK17_OPENS,
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--out", run_dir,
            "--unit-rows", str(meta[UNIT_ROWS[args.workload]]), "--commit", commit(root)])
    log_path = os.path.join(run_dir, "driver.log")
    t_jvm = time.time()
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                  stdin=subprocess.DEVNULL, timeout=args.seconds + 140)
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: driver timed out")
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: driver exited with {proc.returncode}")
    t_jvm = time.time() - t_jvm

    with open(os.path.join(run_dir, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(run_dir, "run.json")) as f:
        run = json.load(f)
    t_check = time.time()
    reasons = check.check_ops(args.workload, inputs, ops)
    t_check = time.time() - t_check
    ok = [r is None for r in reasons]
    failed = len(ops) - sum(ok)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"measured={run['measured_s']:.1f}s cycles={run['cycles']} "
          f"(inputs {t_gen:.1f}s, driver {t_jvm:.1f}s, "
          f"set-ups {'/'.join(f'{s:.1f}' for s in run['setup_s'])}s, checks {t_check:.1f}s)")
    print("inputs: " + json.dumps(meta, sort_keys=True))
    print("header: " + json.dumps(run["header"], sort_keys=True))
    for o, why in zip(ops, reasons):
        if why:
            print(f"FAILED op {o['id']} {o['kind']} {json.dumps(o['params'])}: {why[:500]}")
    print(f"ops: {len(ops)} attempted, {failed} failed, "
          f"failed_ops_ratio {failed / len(ops) if ops else 0.0:.4f}")

    if args.trace:
        with open(os.path.join(run_dir, "trace.json")) as f:
            trace = json.load(f)
        values, design = layers(args.workload, ops, ok, trace, run, meta)
        units = dict(PER_LAYER)
        for name, v in values.items():
            print(f"{name:30s} {v:16.6g} {units[name]}")
        for kind, (gap, busy, n) in sorted(design.items()):
            print(f"{kind}: (driver gap + plan) / wall {gap:.2f}, "
                  f"task busy / (cores x wall) {busy:.2f} (n={n})")
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        e2e = end_to_end(args.workload, ops, ok, run)
        for name, (v, n) in {**e2e, **per_kind(ops, ok)}.items():
            print(f"{name:20s} {v:14.6g} (n={n})")
        metrics = {name: {"value": e2e[name][0], "unit": unit} for name, unit in END_TO_END}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
