"""Repeatability runs: the benchmark several times per workload, one seed
each, and the spread of every end-to-end metric.

    python3 perfbench/repeat.py --out perfbench/results/NAME.jsonl \
        --seeds 1-10 [--workloads report_refresh,query_mix] [--trace]

Each run is recorded as one JSON line (wall time of the whole run, the
result line and the run's detail line: per-pass times, their quartiles
and the host CPU probe), so a noisy run can be told apart as host or
program. The summary printed at the end (and appended as a last
``summary`` line) gives, per workload and metric, the median and the
spread: the distance between the first and third quartile as a share of
the median, as ``statistics.quantiles(values, n=4)`` gives them. With
``--trace`` the runs are traced and the summary also gives the tracing
overhead, traced ``pass_s`` over the untraced median found in the same
file or in ``--untraced``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    rec = {"workload": workload, "seed": seed, "trace": trace, "exit": proc.returncode,
           "run_s": time.time() - t0, "started": t0}
    lines = proc.stdout.strip().splitlines()
    rec["result"] = json.loads(lines[-1]) if lines else None
    for line in proc.stderr.splitlines():
        if line.startswith("perfbench-detail "):
            rec["detail"] = json.loads(line[len("perfbench-detail "):])
    if proc.returncode:
        rec["stderr_tail"] = proc.stderr.splitlines()[-20:]
    return rec


def spread(xs: list[float]) -> tuple[float, float | None]:
    """Median and (Q3 - Q1) / median; no spread for a metric whose median
    is 0 (a layer the workload does not exercise)."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, (q3 - q1) / med if med else None


def summarize(records: list[dict], untraced: list[dict]) -> dict:
    out = {}
    for w in sorted({r["workload"] for r in records}):
        runs = [r for r in records if r["workload"] == w and r["result"]]
        entry = {"runs": len(runs), "failed_runs": sum(1 for r in runs if r["exit"]),
                 "run_s_max": max(r["run_s"] for r in runs)}
        for name in runs[0]["result"]["metrics"]:
            xs = [r["result"]["metrics"][name]["value"] for r in runs if name in r["result"]["metrics"]]
            if len(xs) >= 2:
                med, spr = spread(xs)
                entry[name] = {"median": med, "spread": spr}
        probes = [r["detail"]["cpu_probe_s_quartiles"][1] for r in runs if r.get("detail")]
        if len(probes) >= 2:
            med, spr = spread(probes)
            entry["host.cpu_probe_s"] = {"median": med, "spread": spr}
        base = [r["result"]["metrics"]["pass_s"]["value"] for r in untraced
                if r["workload"] == w and r["result"] and "pass_s" in r["result"]["metrics"]]
        traced = [r["result"]["metrics"]["traced.pass_s"]["value"] for r in runs
                  if "traced.pass_s" in r["result"]["metrics"]]
        if base and traced:
            entry["tracing_overhead"] = statistics.median(traced) / statistics.median(base)
        out[w] = entry
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--untraced", default=None, help="a record of untraced runs, for the overhead")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    records = []
    for w in names:
        for s in seeds(args.seeds):
            rec = one_run(w, s, spec["run_seconds"], args.trace)
            records.append(rec)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            m = rec["result"]["metrics"] if rec["result"] else {}
            print(w, s, "exit", rec["exit"], f"{rec['run_s']:.1f}s",
                  {k: round(v["value"], 3) for k, v in m.items() if k in ("setup_s", "pass_s", "peak_pss_mb", "batch_p50_ms", "traced.pass_s")},
                  flush=True)
    untraced = records
    if args.untraced:
        with open(args.untraced) as fh:
            untraced = [json.loads(line) for line in fh if '"summary"' not in line[:12]]
    summary = summarize(records, untraced)
    with open(args.out, "a") as fh:
        fh.write(json.dumps({"summary": summary}) + "\n")
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
