#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <analytics|serve|intake|corpus> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the harness (build.py: scalac, cached under .bench_build/ by a
fingerprint of the sources), runs it in one JVM with a local[4] Spark
session, checks every output and prints, as the last stdout line, one JSON
object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, computed from the span trace by report.py. Everything
else (seed, heat probes, checks, sample counts) goes to stdout before it.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "serve", "intake", "corpus")
DEADLINE_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

BUILD = build.BUILD


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(cp, args, work, deadline):
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: harness exceeded its time budget")
    finally:  # on every way out, the JVM has ended
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited with {rc}")


# which graded workload measures each per-layer row (by name prefix; the
# rest are serve's). A row its own workload's trace lacks fails the run
# instead of reading 0; another workload's rows read 0.
PRODUCERS = (
    ("SparkEntry.", ("analytics",)),
    ("CorpusPipeline.", ("analytics",)),
    # call-site phases of the corpus pass
    ("phase.at_", ("analytics",)),
    ("session.", ("analytics", "serve")),
)


def producers(name):
    return next((ws for prefix, ws in PRODUCERS if name.startswith(prefix)), ("serve",))


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(rec):
    lat = [o["s"] for o in rec["ops"]]
    return {
        "setup_s": rec["session_s"] + rec["setup_s"] + rec["warm_s"],
        "ops_per_s": len(lat) / rec["loop_s"],
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
    }


def main():
    t0 = time.time()
    # a SIGTERM unwinds like an error, so the JVM and work dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cp = build.build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "record.json")
        spans = os.path.join(work, "trace.jsonl")
        # without duckdb the harness checks analytics results itself
        reference = a.workload == "analytics" and not oracle.available()
        if reference:
            log(f"duckdb is not importable by {sys.executable}: analytics results are "
                "checked against a reference engine setup instead of the DuckDB oracle")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--work", work, "--out", out,
                     "--trace-out", spans, "--reference", str(int(reference))], work, deadline)
        with open(out) as f:
            rec = json.load(f)
        failures = list(rec["failures"])
        failed_ops = {i for i, o in enumerate(rec["ops"]) if not o["ok"]}
        if a.workload == "analytics":
            if reference:  # its failures are already in rec["failures"]
                bad, rows = set(rec["info"]["reference_bad"]), rec["info"]["result_rows"]
            else:
                errs, rows = oracle.check(rec["info"], log)
                failures += [f"oracle: {e}" for e in errs.values()]
                bad = set(errs)
            for i, o in enumerate(rec["ops"]):
                if o["kind"] in bad or rows.get(o["kind"]) != o["rows"]:
                    failed_ops.add(i)
        if a.trace:
            keep = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(spans, keep)
            metrics_all = report.compute(report.load(spans), rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(rec)
    ops = rec["ops"]
    info = {
        "workload": a.workload, "seed": a.seed, "ops": len(ops),
        "loop_s": round(rec["loop_s"], 3),
        "session_s": round(rec["session_s"], 3), "setup_s": round(rec["setup_s"], 3),
        "warm_s": round(rec["warm_s"], 3), "finish_s": round(rec["finish_s"], 3),
        "coverage_s": round(rec["coverage_s"], 3),
        "calib_before": rec["calib_before"], "calib_after": rec["calib_after"],
        "error_rate": len(failed_ops) / max(1, len(ops)),
        "latency_growth": report.latency_growth(ops),
        "op_median_s": {k: statistics.median(o["s"] for o in ops if o["kind"] == k)
                        for k in sorted({o["kind"] for o in ops})},
        "retained_storage_mb": rec["retained_storage_mb"],
        "checks": rec["checks"],
    }
    docs = sum(o.get("docs", 0) for o in ops)
    if docs:
        info["docs_per_s"] = docs / rec["loop_s"]
    for k in ("oracle", "disk_bytes_per_doc", "shard_digest", "exact_duplicate_probes"):
        if k in rec["info"]:
            info[k] = rec["info"][k]
    info["run_wall_s"] = round(time.time() - t0, 1)  # this whole command, build included
    print("PERFBENCH-INFO " + json.dumps(info, sort_keys=True))
    for msg in failures:
        print(f"PERFBENCH-FAIL {msg}")
    if a.trace:
        print("PERFBENCH-TRACED-E2E " + json.dumps(e2e, sort_keys=True))
        metrics = {}
        for m in bench["per_layer"]:
            name = m["name"]
            if name in metrics_all:
                value = metrics_all[name]
            elif a.workload in producers(name):
                failures.append(f"trace has no {name}")
                print(f"PERFBENCH-FAIL trace has no {name}")
                value = 0.0
            else:
                value = 0.0  # another workload's layer
            metrics[name] = {"value": float(value), "unit": m["unit"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    attempted = len(ops)
    failed = len(failed_ops)
    correct = failed == 0 and not failures and attempted > 0
    log(f"done in {time.time() - t0:.1f} s")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
