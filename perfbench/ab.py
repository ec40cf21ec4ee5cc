#!/usr/bin/env python3
"""A/B the lake benchmark: a parent tree against a change, same benchmark code.

    python3 perfbench/ab.py --base HEAD~1 --change HEAD --pairs 10

`--base` and `--change` are git revisions of this repository or source
directories. Each side is copied under `.bench_build/ab/`, its own
`perfbench/` is replaced by the one this script sits in (so both sides
run identical benchmark code and settings), and the workloads run in
pairs whose order alternates (base first on even pairs). Pair i uses
seed `--seed + i` on both sides.

Per workload and end-to-end metric it prints each side's median and
quartiles (inclusive method, as the benchmark computes them) and how
many pairs the change won, then a verdict:
  regression   the change failed more ops, or had more runs with a wrong
               answer, than the parent; or its median is worse than the
               parent's by more than the metric's bound;
  gain         the change won at least 9 of 10 pairs (ties count for
               neither), the medians differ by more than the parent's
               quartile spread, and the change had no more wrong runs
               than the parent;
  unresolved   the parent's own spread (quartile distance / median) is
               wider than the bound, and not every change run beat every
               parent run;
  same         none of the above.
With fewer than 10 pairs no verdict is given. A metric that a run could
not support (a tail with too few samples, written as null) gets none.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import io
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
AB = ROOT / ".bench_build" / "ab"

# Workload-specific end-to-end metrics: which way is better, and the
# bound used for them here (BENCHMARK.json holds the shared ones). Each
# bound is three times the widest quartile distance / median measured
# over ten seeds of one workload on a 4-vCPU VM, capped at 0.5. Measured
# spreads: write_p50_ms 0.35, timetravel_p50_ms 0.35, rows_per_s 0.19
# (dml_churn) and 0.13 (curation_ingest), epoch_p50_s 0.13, maint_s 0.25
# and 0.12. A dml_churn run holds only 4 writes, 2 time-travel reads and
# 1 maintenance pass, hence the wide spreads. write_tail_ms has no bound:
# 4 writes are too few for a tail, so it is null. error_rate is judged by
# counts, not by a bound.
OWN = {
    "write_p50_ms": ("lower", 0.5), "timetravel_p50_ms": ("lower", 0.5),
    "rows_per_s": ("higher", 0.5), "epoch_p50_s": ("lower", 0.4),
    "maint_s": ("lower", 0.5), "error_rate": ("lower", 0.0),
}
MIN_PAIRS = 10
IGNORE = ("target", ".bench_build", ".git", ".bsp", ".metals", ".bloop")


def materialize(spec, dest):
    """Copy a source directory or export a git revision to `dest`, then
    install this script's benchmark code there."""
    shutil.rmtree(dest, ignore_errors=True)
    src = Path(spec)
    if src.is_dir():
        shutil.copytree(src, dest, ignore=shutil.ignore_patterns(*IGNORE))
    else:
        blob = subprocess.run(["git", "archive", spec], cwd=ROOT, check=True,
                              capture_output=True).stdout
        dest.mkdir(parents=True)
        with tarfile.open(fileobj=io.BytesIO(blob)) as t:
            t.extractall(dest)
    shutil.rmtree(dest / "perfbench", ignore_errors=True)
    shutil.copytree(HERE, dest / "perfbench", ignore=shutil.ignore_patterns(*IGNORE))
    bench = ROOT / "BENCHMARK.json"
    if bench.is_file():
        shutil.copy(bench, dest / "BENCHMARK.json")


def run(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"], cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"ab: {tree.name} {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    res = json.loads((tree / ".bench_build" / "results" /
                      f"{workload}-s{seed}-t0.json").read_text())
    return res["end_to_end"], res["correct"], res["failed"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base, change, better, bound, more_wrong):
    """`more_wrong`: the change failed more ops or had more wrong runs."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    if len(base) < MIN_PAIRS:
        return f"too few pairs (< {MIN_PAIRS})", wins
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    worse = sign * (bmed - cmed) / abs(bmed) if bmed else 0.0
    spread = (bq3 - bq1) / abs(bmed) if bmed else 0.0
    all_better = min(sign * c for c in change) > max(sign * b for b in base)
    if more_wrong or worse > bound:
        return "regression", wins
    if wins >= 0.9 * len(base) and abs(cmed - bmed) > (bq3 - bq1):
        return "gain", wins
    if spread > bound and not all_better:
        return "unresolved", wins
    return "same", wins


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workloads", nargs="*")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    metrics = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    metrics.update(OWN)
    sides = {"base": AB / "base", "change": AB / "change"}
    materialize(a.base, sides["base"])
    materialize(a.change, sides["change"])

    report = {}
    for w in workloads:
        vals = {s: [] for s in sides}
        wrong = {s: 0 for s in sides}
        failed = {s: 0 for s in sides}
        for i in range(a.pairs):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for s in order:
                m, ok, nfail = run(sides[s], w, a.seed + i, spec["run_seconds"])
                vals[s].append(m)
                wrong[s] += 0 if ok else 1
                failed[s] += nfail
                print(f"  {w} pair {i} {s}: " +
                      ", ".join(f"{k}={v:.4g}" for k, v in m.items()
                                if v is not None), flush=True)
        more_wrong = wrong["change"] > wrong["base"] or failed["change"] > failed["base"]
        rows = []
        for k, (better, bound) in metrics.items():
            runs = vals["base"] + vals["change"]
            if not all(m.get(k) is not None for m in runs):
                continue
            b = [m[k] for m in vals["base"]]
            c = [m[k] for m in vals["change"]]
            v, wins = verdict(b, c, better, bound, more_wrong)
            rows.append({"metric": k, "better": better, "bound": bound,
                         "base": quartiles(b), "change": quartiles(c),
                         "change_wins": wins, "pairs": a.pairs, "verdict": v})
        report[w] = {"rows": rows, "wrong_runs": wrong, "failed_ops": failed}
        print(f"\n{w}  (pairs {a.pairs}; runs with a wrong answer: base "
              f"{wrong['base']}, change {wrong['change']}; failed ops: base "
              f"{failed['base']}, change {failed['change']})")
        print(f"  {'metric':<20} {'base q1/med/q3':>32} {'change q1/med/q3':>32} "
              f"{'wins':>6}  verdict")
        for r in rows:
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {r['metric']:<20} {fmt(r['base']):>32} {fmt(r['change']):>32} "
                  f"{r['change_wins']:>3}/{r['pairs']:<2}  {r['verdict']}")
    (AB / "report.json").write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
