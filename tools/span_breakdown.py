#!/usr/bin/env python3
"""Where a traced perfbench run spent its op time.

    python3 tools/span_breakdown.py .bench_build/results/dml_churn-s1003-t1.spans.jsonl
    python3 tools/span_breakdown.py RUN.spans.jsonl --op maintain

Reads the spans a `perfbench/run.py --trace 1` run writes (one JSON
object per line: op, id, parent, name, start_ns, end_ns, detail) and
prints two tables:

  1. per op kind (root span `op.<kind>`): ops, total wall time and its
     share of all op time;
  2. per span inside the `--op` kind (default `maintain`), keyed by
     its name and its ordinal among same-named spans of one op
     (`lake.procedures.rewrite#2` is an op's second rewrite call): the
     number of ops that had it, and the median over those ops of its
     wall time, of the Spark jobs under it and of their time (the union
     of the job intervals).

Engine-side spans (`exec.*`, `catalyst.*`) are not rows of table 2.
A span's jobs are its op's `exec.job` spans whose midpoint lies inside
it. Spark stamps job events in whole milliseconds on its own clock, so a
job of a short call can land in its neighbour: job counts per span are
approximate, span times are exact.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict


def union_ns(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spans", help="a *.spans.jsonl file of a traced run")
    ap.add_argument("--op", default="maintain",
                    help="op kind whose spans table 2 breaks down")
    a = ap.parse_args()

    spans = {}
    with open(a.spans) as f:
        for line in f:
            if line.strip():
                s = json.loads(line)
                spans[s["id"]] = s
    children = defaultdict(list)
    for s in spans.values():
        children[s["parent"]].append(s)
    roots = [s for s in spans.values()
             if s["parent"] == 0 and s["name"].startswith("op.")]
    if not roots:
        sys.exit(f"{a.spans}: no root spans")

    def ms(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    by_kind = defaultdict(list)
    for r in roots:
        by_kind[r["name"].removeprefix("op.")].append(ms(r))
    total = sum(sum(v) for v in by_kind.values())
    print(f"{'op kind':<24}{'ops':>6}{'total ms':>12}{'share':>8}")
    for kind, v in sorted(by_kind.items(), key=lambda kv: -sum(kv[1])):
        print(f"{kind:<24}{len(v):>6}{sum(v):>12.1f}{sum(v) / total:>8.1%}")
    print(f"{'all':<24}{sum(len(v) for v in by_kind.values()):>6}{total:>12.1f}")

    jobs_of = defaultdict(list)
    for s in spans.values():
        if s["name"] == "exec.job":
            jobs_of[s["op"]].append((s["start_ns"], s["end_ns"]))

    def jobs_under(c):
        return [(s, e) for s, e in jobs_of[c["op"]]
                if c["start_ns"] <= (s + e) // 2 <= c["end_ns"]]

    rows = defaultdict(list)
    for r in roots:
        if r["name"] != f"op.{a.op}":
            continue
        seen = defaultdict(int)
        inside, stack = [], [r]
        while stack:
            for c in children[stack.pop()["id"]]:
                if not c["name"].startswith(("exec.", "catalyst.")):
                    inside.append(c)
                    stack.append(c)
        for c in sorted(inside, key=lambda c: c["start_ns"]):
            seen[c["name"]] += 1
            jobs = jobs_under(c)
            rows[f"{c['name']}#{seen[c['name']]}"].append(
                (ms(c), len(jobs), union_ns(jobs) / 1e6))
    print()
    if not rows:
        print(f"no op.{a.op} ops with spans inside")
        return
    print(f"{'op.' + a.op + ' span':<32}{'ops':>5}{'p50 ms':>10}"
          f"{'p50 jobs':>10}{'p50 job ms':>12}")
    for key, v in sorted(rows.items()):
        med = [statistics.median(x[i] for x in v) for i in range(3)]
        print(f"{key:<32}{len(v):>5}{med[0]:>10.1f}{med[1]:>10g}{med[2]:>12.1f}")


if __name__ == "__main__":
    main()
