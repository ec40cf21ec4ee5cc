#!/usr/bin/env python3
"""Run one seeded lake benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dml_churn --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from the sources of the checkout it
sits in (sbt, once per source state), then runs the workload in one JVM
on local[N], N = the processor count. Prints one line per metric with
its unit, a correctness verdict, and as its last line one JSON object
with `correct`, `attempted`, `failed` and `metrics`. Everything it
writes goes under `.bench_build/` at the root of the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("dml_churn", "curation_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, relative to the root."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(fp):
    """Compile engine + benchmark; cache the runtime classpath per source state."""
    stamp = OUT / "classpath.json"
    if stamp.is_file():
        cached = json.loads(stamp.read_text())
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = OUT / "build.log"
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    out_lines = p.stdout.strip().splitlines()
    with open(log, "a") as f:
        f.write(p.stdout)
    if p.returncode != 0 or not out_lines or ".jar" not in out_lines[-1]:
        fail(f"build failed (exit {p.returncode}), see {log}")
    cp = out_lines[-1].strip()
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": cp}))
    return cp


def heap():
    """The tier-1 driver heap: half the machine's memory, 2g to 8g."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def commit():
    if not (ROOT / ".git").exists():
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    if not any(os.access(Path(d) / "java", os.X_OK)
               for d in os.environ.get("PATH", "").split(os.pathsep)):
        fail("java not found")

    fp = fingerprint()
    cp = build(fp)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = OUT / "run" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = OUT / "results" / f"{name}.json"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap()}", "-XX:+ExplicitGCInvokesConcurrent",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work),
              "--out", str(result), "--commit", f"{commit()}/{fp}"])
    log = OUT / "logs" / f"{name}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"run failed (exit {p.returncode}), see {log}")
    print("\n".join(lines[:-1]))
    if a.trace:
        overhead(a, result)
    print(lines[-1])


def overhead(a, traced):
    """Tracing overhead: the traced run against the untraced run of the
    same workload and seed, when one is on disk."""
    plain = OUT / "results" / f"{a.workload}-s{a.seed}-t0.json"
    if not plain.is_file():
        print("  tracing overhead: no untraced run of this seed to compare")
        return
    t = json.loads(traced.read_text())["end_to_end"]
    u = json.loads(plain.read_text())["end_to_end"]
    for k in ("ops_per_s", "read_p50_ms"):
        if u.get(k) and t.get(k) is not None:
            print(f"  tracing overhead {k}: {100 * (t[k] - u[k]) / u[k]:+.1f} % "
                  f"(traced {t[k]:.4f}, untraced {u[k]:.4f})")


if __name__ == "__main__":
    main()
