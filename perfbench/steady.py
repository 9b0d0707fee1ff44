#!/usr/bin/env python3
"""Steadiness tool for the benchmark.

  steady.py run --workload W [--seeds 1-10] [--seconds S] [--out runs.json]
      Runs the workload once per seed (tracing off) and prints, for every
      end-to-end metric, the median, the quartiles and the spread
      (q3 - q1) / median next to the metric's bound in BENCHMARK.json.
      The runs are appended to --out (JSON: {workload: [metrics, ...]}).

  steady.py compare A.json B.json
      For every workload and end-to-end metric in both files, how much
      worse B's median is than A's, as a share of A's median, against the
      bound. Exits 1 if any metric is worse by more than its bound.

  steady.py overhead --workload W [--seed N] [--seconds S]
      Runs the same seed untraced and traced and prints the tracing
      overhead: traced minus untraced, for every end-to-end metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace):
    """Runs run.py; returns (final JSON, traced end-to-end metrics or None)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {out.returncode})")
    traced = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("PERFBENCH-TRACED-E2E ")), None)
    info = next((l for l in lines if l.startswith("PERFBENCH-INFO ")), "")
    print(info, file=sys.stderr)
    return json.loads(lines[-1]), traced


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cmd_run(a):
    b = bench()
    seconds = a.seconds or b["run_seconds"]
    runs = []
    for s in seeds(a.seeds):
        res, _ = run_once(a.workload, s, seconds, 0)
        if not res["correct"]:
            print(f"seed {s}: INCORRECT ({res['failed']}/{res['attempted']} failed)")
        runs.append({k: v["value"] for k, v in res["metrics"].items()})
        print(f"seed {s}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
    print(f"{'metric':16} {'q1':>10} {'median':>10} {'q3':>10} {'spread':>8} {'bound':>6}")
    for m in b["end_to_end"]:
        q1, med, q3, sp = spread([r[m["name"]] for r in runs])
        flag = "" if m["name"] == "setup_s" or sp <= m["bound"] / 3 else "  > bound/3"
        print(f"{m['name']:16} {q1:10.4g} {med:10.4g} {q3:10.4g} {sp:8.3f} {m['bound']:6.2f}{flag}")
    if a.out:
        data = {}
        if os.path.exists(a.out):
            with open(a.out) as f:
                data = json.load(f)
        data.setdefault(a.workload, []).extend(runs)
        with open(a.out, "w") as f:
            json.dump(data, f, indent=1)


def cmd_compare(a):
    b = bench()
    with open(a.a) as f:
        da = json.load(f)
    with open(a.b) as f:
        db = json.load(f)
    bad = 0
    for w in sorted(set(da) & set(db)):
        for m in b["end_to_end"]:
            ma = statistics.median(r[m["name"]] for r in da[w])
            mb = statistics.median(r[m["name"]] for r in db[w])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            ok = worse <= m["bound"]
            bad += not ok
            print(f"{w:10} {m['name']:16} {ma:10.4g} {mb:10.4g} worse={worse:+.3f} "
                  f"bound={m['bound']:.2f} {'ok' if ok else 'WORSE'}")
    sys.exit(1 if bad else 0)


def cmd_overhead(a):
    seconds = a.seconds or bench()["run_seconds"]
    plain, _ = run_once(a.workload, a.seed, seconds, 0)
    _, traced = run_once(a.workload, a.seed, seconds, 1)
    for k, v in plain["metrics"].items():
        t = traced[k]
        print(f"{k:16} untraced={v['value']:.4g} traced={t:.4g} "
              f"overhead={t - v['value']:+.4g} ({(t - v['value']) / v['value']:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=float)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    o = sub.add_parser("overhead")
    o.add_argument("--workload", required=True)
    o.add_argument("--seed", type=int, default=1)
    o.add_argument("--seconds", type=float)
    a = ap.parse_args()
    {"run": cmd_run, "compare": cmd_compare, "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    main()
