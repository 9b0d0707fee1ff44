#!/usr/bin/env python3
"""Per-layer report from a span trace written by a --trace 1 run.

    python3 perfbench/report.py <trace.jsonl>

Prints every per-layer metric as `name value`, over the set-up, the timed
loop and the coverage calls after it (not the warm pass). Layers are the graft functions the
harness calls (`<Layer>.<function>`); per call name:

  calls, wall_s            spans and their summed duration
  jobs, tasks              Spark jobs the calls launched, and their tasks
  cpu_s, gc_s              executor CPU and GC time of those tasks
  driver_gap_s             call time not covered by any of its jobs (the
                           union of job intervals, since jobs overlap)
  shuffle_bytes, input_rows, bytes_written, failed_tasks   task counters
  files_written            files the call added on disk (intake calls)
  core_util                cpu_s / (wall_s * 4 cores)
  small_job_share          share of jobs shorter than 100 ms
  input_rows_per_result_row   input rows read per result row (serve calls)

and per phase (job description, else the call site's source file, as
at_<File>): phase.<name>.{wall_s,jobs}.
"""
import json
import re
import statistics
import sys

CORES = 4
SMALL_JOB_S = 0.1


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def union_s(intervals, lo=None, hi=None):
    """Total length, in seconds, of the union of [start, end] ns intervals,
    clipped to [lo, hi] when given."""
    ivs = []
    for s, e in intervals:
        if lo is not None:
            s, e = max(s, lo), min(e, hi)
        if e > s:
            ivs.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e9


def phase_name(desc):
    return re.sub(r"[^A-Za-z0-9_.-]+", "_", desc).strip("_")[:48]


def site_name(callsite):
    """An unlabelled job's phase: the source file of its call site, without
    the action or line ("count at CorpusPipeline.scala:120" -> at_CorpusPipeline),
    so the name survives edits that move lines."""
    m = re.search(r"at (\w+)\.(?:scala|java):\d+", callsite)
    return "at_" + m.group(1) if m else "unlabeled"


def compute(spans, rec=None):
    # set-up (the index builds), the timed loop and the coverage calls made
    # after it; the warm pass pays JIT warm-up and the finish stage only checks
    done = [s for s in spans if s["end_ns"] >= 0 and s["stage"] in ("setup", "loop", "coverage")]
    jobs_of, stages_of = {}, {}
    for s in done:
        if s["kind"] == "job":
            jobs_of.setdefault(s["parent"], []).append(s)
        elif s["kind"] == "stage":
            stages_of.setdefault(s["parent"], []).append(s)
    out = {}
    per = {}
    for c in done:
        if c["kind"] != "call":
            continue
        m = per.setdefault(c["name"], dict.fromkeys(
            ("calls", "wall_s", "jobs", "tasks", "cpu_s", "gc_s", "driver_gap_s", "shuffle_bytes",
             "input_rows", "bytes_written", "files_written", "failed_tasks", "small_jobs",
             "result_rows"), 0))
        js = jobs_of.get(c["id"], [])
        dur = (c["end_ns"] - c["start_ns"]) / 1e9
        m["calls"] += 1
        m["wall_s"] += dur
        m["jobs"] += len(js)
        m["driver_gap_s"] += dur - union_s([(j["start_ns"], j["end_ns"]) for j in js],
                                           c["start_ns"], c["end_ns"])
        m["files_written"] += c.get("disk_files", 0)
        m["result_rows"] += c.get("result_rows", 0)
        for j in js:
            m["small_jobs"] += (j["end_ns"] - j["start_ns"]) / 1e9 < SMALL_JOB_S
            for st in stages_of.get(j["id"], []):
                m["tasks"] += st.get("tasks_ended", 0)
                m["cpu_s"] += st.get("cpu_ns", 0) / 1e9
                m["gc_s"] += st.get("gc_ms", 0) / 1e3
                m["shuffle_bytes"] += st.get("shuffle_bytes", 0)
                m["input_rows"] += st.get("input_rows", 0)
                m["bytes_written"] += st.get("bytes_written", 0)
                m["failed_tasks"] += st.get("failed_tasks", 0)
    for name, m in per.items():
        for k in ("calls", "wall_s", "jobs", "tasks", "cpu_s", "gc_s", "driver_gap_s",
                  "shuffle_bytes", "input_rows", "bytes_written", "files_written", "failed_tasks"):
            out[f"{name}.{k}"] = m[k]
        out[f"{name}.core_util"] = m["cpu_s"] / (m["wall_s"] * CORES) if m["wall_s"] else 0.0
        out[f"{name}.small_job_share"] = m["small_jobs"] / m["jobs"] if m["jobs"] else 0.0
        if m["result_rows"]:
            out[f"{name}.input_rows_per_result_row"] = m["input_rows"] / m["result_rows"]
    phases = {}
    for j in (s for s in done if s["kind"] == "job"):
        name = phase_name(j.get("description") or "") or site_name(
            j.get("sql_callsite") or j.get("callsite") or "")
        phases.setdefault(name, []).append((j["start_ns"], j["end_ns"]))
    for name, ivs in phases.items():
        out[f"phase.{name}.wall_s"] = union_s(ivs)
        out[f"phase.{name}.jobs"] = len(ivs)
    if rec is not None:
        out.update(record_metrics(rec))
    return out


def latency_growth(ops):
    """Median latency of the last quarter of ops over that of the first."""
    q = max(1, len(ops) // 4)
    return (statistics.median(o["s"] for o in ops[-q:]) /
            statistics.median(o["s"] for o in ops[:q]))


def record_metrics(rec):
    """Whole-run numbers the harness measured outside any one call."""
    out = {"session.retained_storage_mb": rec["retained_storage_mb"]}
    ops = rec["ops"]
    if rec["workload"] == "intake" and ops:
        out["intake.latency_growth"] = latency_growth(ops)
        out["intake.disk_bytes_per_doc"] = rec["info"].get("disk_bytes_per_doc", 0.0)
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    for name, value in sorted(compute(load(sys.argv[1])).items()):
        print(f"{name} {value:.6g}" if isinstance(value, float) else f"{name} {value}")


if __name__ == "__main__":
    main()
