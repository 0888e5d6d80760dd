#!/usr/bin/env python3
"""Compare two `graft.tools.Explain` outputs query by query.

Usage:
  python3 tools/plan_diff.py BEFORE.txt AFTER.txt [--allow q1,q2 ...]

Each file is the captured stdout of `runMain graft.tools.Explain q ...`
(sbt and Spark log lines may be mixed in; they are dropped). The output
is split into one block per `========== name ==========` header, the
block holding the query's checkpointed segments and its final plan.
Before comparing, ids that differ between two otherwise equal runs are
normalized: expression ids (`x#123L`), `plan_id=`/`id=#` tags, RDD ids,
closure identities, `at File.scala:N` call sites and temp/warehouse
paths.

Prints `identical` or `DIFFERENT` per query, with a unified diff for
each query that differs, then a summary line. Exits 1 unless every
query that differs (or is in only one file) is named with --allow.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r'^========== (\S+) ==========$')
# log lines interleaved with the plans: Spark's log4j layout, the stack
# traces its errors print (frames are tab-indented; plans never are) and
# sbt's own lines
NOISE = re.compile(r'^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d [A-Z]+ |\t|Caused by: |'
                   r'[a-z][\w$]*(\.[\w$]+)*\.[A-Z][\w$]*(Exception|Error)\b|'
                   r'\[(info|warn|success)\] |exit \d+$)')

NORMALIZERS = [
    (re.compile(r'plan_id=\d+'), 'plan_id=N'),
    (re.compile(r'#\d+'), '#N'),
    (re.compile(r'RDD\[\d+\]'), 'RDD[N]'),
    # a closure's JVM class and identity hash
    (re.compile(r'\$\$Lambda\$?[\w/]*@[0-9a-f]+'), '$$Lambda@N'),
    (re.compile(r'\b(\w+\.(?:scala|java)):\d+'), r'\1:N'),
    (re.compile(r'(?:file:)?/[^\s,\]\)]*spark-warehouse[^\s,\]\)]*'), '<warehouse>'),
    (re.compile(r'(?:file:)?/(?:tmp|dev/shm)/[^\s,\]\)]*'), '<tmp>'),
]


def normalize(line):
    for pat, repl in NORMALIZERS:
        line = pat.sub(repl, line)
    return line


def blocks(text):
    """{query: [normalized lines]} in file order."""
    out = {}
    cur = None
    for line in text.splitlines():
        m = HEADER.match(line)
        if m:
            cur = out.setdefault(m.group(1), [])
            continue
        if cur is None or NOISE.match(line):
            continue
        cur.append(normalize(line.rstrip()))
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def compare(before, after, allow=()):
    """(report lines, failed) for two Explain outputs."""
    a, b = blocks(before), blocks(after)
    report, failed = [], False
    counts = {'identical': 0, 'different': 0, 'allowed': 0, 'one side': 0}
    for q in list(a) + [q for q in b if q not in a]:
        if q not in a or q not in b:
            side = 'before' if q in a else 'after'
            report.append(f'ONLY-{side.upper()}  {q}')
            counts['one side'] += 1
            if q in allow:
                counts['allowed'] += 1
            else:
                failed = True
            continue
        if a[q] == b[q]:
            report.append(f'identical  {q}')
            counts['identical'] += 1
            continue
        tag = ' (allowed)' if q in allow else ''
        report.append(f'DIFFERENT  {q}{tag}')
        report.extend(difflib.unified_diff(
            a[q], b[q], f'before/{q}', f'after/{q}', lineterm=''))
        counts['different'] += 1
        if q in allow:
            counts['allowed'] += 1
        else:
            failed = True
    report.append(', '.join(f'{v} {k}' for k, v in counts.items()))
    return report, failed


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('before')
    ap.add_argument('after')
    ap.add_argument('--allow', action='append', default=[],
                    help='query names (comma-separated, repeatable) that may differ')
    args = ap.parse_args(argv)
    allow = {q for arg in args.allow for q in arg.split(',') if q}
    with open(args.before, errors='replace') as f:
        before = f.read()
    with open(args.after, errors='replace') as f:
        after = f.read()
    report, failed = compare(before, after, allow)
    print('\n'.join(report))
    return 1 if failed else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1:]))
