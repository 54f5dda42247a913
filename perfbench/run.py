#!/usr/bin/env python3
"""graft benchmark: a seeded corpus, workloads of the query registry,
end-to-end latency, and a traced per-layer profile (see perfbench/README.md).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 15 --trace 0

It builds the program, makes or reuses the corpus of the seed, runs the
workload's mix in a fresh JVM, checks every timed query's output, and prints a
summary followed by one JSON line: the end-to-end metrics with --trace 0, the
per-layer ones with --trace 1. Each run's report is kept under
$CARGO_TARGET_DIR/perfbench/results (default .bench_build).
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import corpus as corpus_layout  # noqa: E402

JVM_FLAGS = [
    # what build.sbt gives a forked run: the module opens Spark needs on
    # JDK 17 outside spark-submit, UTC, no UI, a large JIT code cache
    *[x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar"]
      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=512m",
    # no hsperfdata file in the system temp directory
    "-XX:-UsePerfData",
]
HEAP = "-Xmx3g"
WORKLOADS = ("olap_read", "lake_write", "llm_iterative")
# corpus scale factor; a run that has not ended after TIMEOUT_S fails
SF = 0.01
TIMEOUT_S = 170
END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p90_s": "s"}
# printed, but no metric of BENCHMARK.json: space_amp measures stored
# data on lake_write only (see README.md), and peak_rss_mb spreads by
# 0.1-0.4 (quartile distance over median) from run to run
PRINTED = {"space_amp": "ratio", "query_p50_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {"_s": "s", "_bytes": "bytes", "_frac": "ratio", "overhead": "ratio"}


def java(classes, args, props, timeout, extra=()):
    cmd = ["java", HEAP, *JVM_FLAGS, *extra, *[f"-D{k}={v}" for k, v in props.items()],
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "graft.perfbench.PerfBench", *args]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=timeout)


def corpus(classes, base, sf, seed, cpus, deadline):
    """Directory and manifest of the (sf, seed) corpus, generated on first
    use by a short-lived JVM (the C1 compiler alone starts it faster) and
    rewritten by corpus.py. Generation is outside every timing, in its own
    JVM, so that a cached corpus leaves the benchmark JVM unchanged."""
    out = os.path.join(base, "corpus", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(out, "manifest.json")):
        tmp = f"{out}.tmp{os.getpid()}"
        staging = os.path.join(tmp, "_gendata")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(staging)
        t0 = time.time()
        try:
            java(classes, ["gen", str(sf), str(seed), str(cpus), staging],
                 {"java.io.tmpdir": staging, "spark.local.dir": staging,
                  "spark.sql.warehouse.dir": os.path.join(staging, "warehouse")},
                 deadline - time.time(), ["-XX:TieredStopAtLevel=1"])
            tables = corpus_layout.rewrite(staging, tmp)
            shutil.rmtree(staging)
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                json.dump({"sf": sf, "seed": seed, "gen_s": time.time() - t0, "tables": tables}, f)
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(out, "manifest.json")) as f:
        return out, json.load(f)


def digest(path):
    """(rows, order-independent digest) of a dumped frame."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else pd.DataFrame()
    # repr of lists, not of numpy arrays, which elides long ones
    df = df.reindex(sorted(df.columns), axis=1).map(
        lambda v: repr(v.tolist() if hasattr(v, "tolist") else v))
    return len(df), int(pd.util.hash_pandas_object(df, index=False).sum()) if len(df) else 0


def check(corpus_dir, check_dir, modes, deadline):
    """Failure cause per query that fails its check."""
    failures = {}
    oracle = sorted(q for q, m in modes.items() if m == "oracle")
    if oracle:
        p = subprocess.run([sys.executable, "tools/check.py", corpus_dir,
                            os.path.join(check_dir, "a"), *oracle],
                           capture_output=True, text=True, timeout=deadline - time.time())
        seen = set()
        lines = p.stdout.splitlines()
        for i, line in enumerate(lines):
            verdict, _, rest = line.partition(" ")
            name = rest.split(" ")[0].rstrip(":")
            if verdict in ("PASS", "FAIL") and name in modes:
                seen.add(name)
                if verdict == "FAIL":
                    detail = [rest] + [x.strip() for x in lines[i + 1:i + 3] if x.startswith("   ")]
                    failures[name] = "oracle: " + " | ".join(detail)
        for q in oracle:
            if q not in seen:
                failures[q] = f"oracle: no verdict from tools/check.py (exit {p.returncode}): " \
                              + (p.stderr.strip().splitlines() or [""])[-1]
    for q, m in sorted(modes.items()):
        if m == "digest":
            a, b = (digest(os.path.join(check_dir, s, q)) for s in ("a", "b"))
            if a[0] == 0:
                failures[q] = "digest: empty output"
            elif a != b:
                failures[q] = f"digest: dumps differ (rows {a[0]} vs {b[0]})"
    return failures


def unit(name):
    if name in END_TO_END:
        return END_TO_END[name]
    return next((u for suf, u in PER_LAYER_UNITS.items() if name.endswith(suf)), "count")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + TIMEOUT_S
    cpus = len(os.sched_getaffinity(0))

    base = build.target_dir()
    classes = build.build()
    corpus_dir, manifest = corpus(classes, base, SF, a.seed, cpus, deadline)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    scratch = os.path.abspath(os.path.join(base, "runs", f"{tag}-{os.getpid()}"))
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    try:
        tmp = os.path.join(scratch, "tmp")
        for d in ("tmp", "local", "check"):
            os.makedirs(os.path.join(scratch, d))
        report_path = os.path.join(scratch, "report.json")
        java(classes, ["run", a.workload, os.path.abspath(corpus_dir), str(a.seconds), str(a.trace),
                       str(cpus), scratch, report_path],
             {"java.io.tmpdir": tmp, "spark.local.dir": os.path.join(scratch, "local"),
              "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")},
             deadline - time.time())
        with open(report_path) as f:
            r = json.load(f)
        failures = dict(r["errors"])
        t0 = time.time()
        for q, why in check(corpus_dir, os.path.join(scratch, "check"), r["checks"], deadline).items():
            failures.setdefault(q, why)
        r["check_s"] = time.time() - t0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    corpus_bytes = sum(t["bytes"] for t in manifest["tables"].values())
    rows = sum(t["rows"] for t in manifest["tables"].values())
    attempted, failed = len(r["mix"]), len(failures)
    r.update(seed=a.seed, sf=SF, corpus=manifest, failures=failures,
             failed_frac=failed / attempted, space_amp=r["scratch_bytes"] / corpus_bytes)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(r, f, indent=1)

    names = r["per_layer"].keys() if a.trace else END_TO_END
    metrics = {k: {"value": r["per_layer"][k] if a.trace else r[k], "unit": unit(k)} for k in names}
    fp = r["fingerprint"]
    print(f"workload={a.workload} seed={a.seed} sf={SF} cpus={cpus} "
          f"mix={attempted}/{r['workload_sizes'][a.workload]} "
          f"passes={len(r['pass_times_s'])} samples={r['samples']} "
          f"corpus={rows} rows/{corpus_bytes} bytes contended={fp['contended']}")
    for when in ("start", "end"):
        print(f"  fingerprint {when}: " + " ".join(f"{k}={v:.2f}" for k, v in fp[when].items()))
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    for k, u in PRINTED.items():
        print(f"  {k} = {r[k]:.6g} {u} (printed only)")
    print(f"  failed_frac = {failed / attempted:.6g} ratio ({failed} of {attempted} queries)")
    for q, why in sorted(failures.items()):
        print(f"  FAILED {q}: {why}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
