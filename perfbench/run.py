#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the library and the harness
from the checkout's sources (cached under .bench_build/ until a source file
changes), generates the workload's inputs from the seed, runs the workload
in one JVM, checks the outputs against the DuckDB oracles, and prints every
metric by name and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics.
Each run's full record goes to .bench_build/perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("backtest_eod", "trade_live", "curate_batch", "dedup_ingest")
JVM_TIMEOUT_S = 150
HEAP = "3g"
# the workload-specific names the end-to-end metrics go by (ROADMAP item 1)
ALIASES = {
    "backtest_eod": {"items_per_s": "backtest_rows_per_s"},
    "trade_live": {"p50_ms": "trade_p50_ms", "p90_ms": "trade_p90_ms"},
    "curate_batch": {"items_per_s": "curate_docs_per_s"},
    "dedup_ingest": {"p50_ms": "ingest_p50_ms", "p90_ms": "ingest_p90_ms"},
}
# a percentile is reported only with this many samples beyond it
TAIL_SAMPLES = 10
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Fingerprint of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no library sources next to {HERE}; run from a source checkout")
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n")[:2]
        if saved_stamp == stamp:
            return cp
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = [ln for ln in proc.stdout.splitlines()
             if not ln.startswith("[") and "scala-library" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(f"{stamp}\n{lines[-1]}\n")
    return lines[-1]


def quantile(values, q):
    """Linear-interpolation quantile (the `inclusive` method)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    x = q * (len(v) - 1)
    lo = int(x)
    return v[lo] + (v[min(lo + 1, len(v) - 1)] - v[lo]) * (x - lo)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def derive_per_layer(run):
    """Per-layer metrics: the tracer's sums plus the ratios built from them."""
    m = dict(run["per_layer"])
    calls = m.get("sources.calls", 0.0)
    m["sources.cache_hit_ratio"] = m.get("sources.hits", 0.0) / calls if calls else 0.0
    docs_in = m.get("dedup.docs_in", 0.0)
    m["dedup.verify_share"] = (m.get("dedup.neardup_verify.docs_shingled", 0.0) / docs_in
                               if docs_in else 0.0)
    traced = [r["wall_s"] for r in run["requests"] if r["traced"]]
    untraced = [r["wall_s"] for r in run["requests"] if not r["traced"]]
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = classpath()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out, tmp = (os.path.join(run_dir, d) for d in ("inputs", "out", "tmp"))
    os.makedirs(tmp)
    try:
        t0 = time.monotonic()
        sizes = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.monotonic() - t0
        env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"))
        cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graft.bench.Main", "--workload", a.workload,
                  "--inputs", inputs, "--out", out, "--seconds", str(a.seconds),
                  "--trace", str(a.trace)])
        proc = subprocess.run(cmd, env=env, cwd=run_dir, timeout=JVM_TIMEOUT_S,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0 or not os.path.isfile(os.path.join(out, "run.json")):
            sys.stderr.write(proc.stdout[-4000:])
            fail(f"workload process exited with {proc.returncode}")
        with open(os.path.join(out, "run.json")) as fh:
            run = json.load(fh)
        t0 = time.monotonic()
        bad = check.check_run(run, os.path.join(out, "outputs"), run["oracle_sql"])
        check_s = time.monotonic() - t0
    finally:
        # keep the run record, drop the data
        for d in ("inputs", "out/work", "out/outputs", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    reqs = run["requests"]
    errors = {r["i"]: r["error"] for r in reqs if "error" in r}
    errors.update(bad)
    walls = [r["wall_s"] for r in reqs if not r["traced"]]
    values = {
        "setup_s": gen_s + run["to_first_request_s"],
        "p50_ms": statistics.median(walls) * 1e3,
        "items_per_s": statistics.median(run["items"] / w for w in walls),
        "live_heap_mb": run["live_heap_mb"],
    }
    # p90 only when ten samples lie beyond it
    p90 = quantile(walls, 0.9) * 1e3 if len(walls) * 0.1 >= TAIL_SAMPLES else None
    if a.trace:
        values = derive_per_layer(run)
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "commit": git_commit(), "sizes": sizes,
              "gen_s": gen_s, "host": run["host"], "attempted": len(reqs),
              "failed": len(errors), "errors": errors,
              "walls_s": [r["wall_s"] for r in reqs], "cpu_s": [r["cpu_s"] for r in reqs],
              "session_s": run["session_s"], "setup_only_s": run["setup_only_s"],
              "warmup_s": run["warmup_s"], "to_first_request_s": run["to_first_request_s"],
              "check_s": check_s, "peak_rss_mb": run["peak_rss_mb"], "metrics": metrics}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}.seed{a.seed}.trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(reqs)} requests ({len(walls)} untraced) after "
          f"{len(run['warmup_s'])} warm-up, {len(errors)} failed")
    print("host " + json.dumps(run["host"]))
    print(f"error_rate {len(errors) / max(len(reqs), 1):.4f} ratio")
    # VmHWM follows how far the collector grew the heap, so it is printed,
    # not reported as a metric; live_heap_mb stands in for it
    print(f"peak_rss_mb {run['peak_rss_mb']:.1f} MB (driver VmHWM)")
    print("cpu_s per request " + " ".join(f"{r['cpu_s']:.2f}" for r in reqs))
    for i, e in sorted(errors.items()):
        print(f"  request {i}: {e}")
    alias = ALIASES[a.workload]
    for name, m in metrics.items():
        also = f" (= {alias[name]})" if name in alias else ""
        print(f"{name} {m['value']:.6g} {m['unit']}{also}")
    if not a.trace:
        also = f" (= {alias['p90_ms']})" if "p90_ms" in alias else ""
        print(f"p90_ms {p90:.6g} ms{also}" if p90 is not None else
              f"p90_ms not reported: {len(walls)} samples, "
              f"{TAIL_SAMPLES / 0.1:.0f} needed{also}")
    print(json.dumps({"correct": not errors and bool(reqs), "attempted": len(reqs),
                      "failed": len(errors), "metrics": metrics}))


if __name__ == "__main__":
    main()
