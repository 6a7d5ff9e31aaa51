"""Benchmark of the medallion lakehouse: report refresh, analyst query mix
and transactional stream ingest.

    python3 perfbench/run.py --workload report_refresh|query_mix|txn_ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client in one process on
``local[<nproc>]``: after the session starts, the workload generates its
inputs from the seed and runs a fixed number of warm-up passes (all of
that is ``setup_s``), then runs passes back to back until ``--seconds``
have been measured, then checks the outputs against DuckDB oracles. The
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Diagnostics go to stderr. The
exit code is non-zero on any failed operation or wrong output.

Every run works in a fresh scratch directory under the checkout
(``.perfbench_tmp/``), which holds Spark's local dirs, warehouse, event
log and checkpoints, the generated inputs and the stores, and is deleted
on exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
DRIVER_MEMORY = "1g"


def fingerprint(pattern: str) -> dict[str, tuple[int, int]]:
    """(mtime, size) of every path under the roots matching ``pattern``:
    enough to tell whether a run created, removed or rewrote anything."""
    out = {}
    for root in glob.glob(pattern):
        for dp, _, files in os.walk(root):
            for name in [dp, *(os.path.join(dp, f) for f in files)]:
                st = os.lstat(name)
                out[name] = (st.st_mtime_ns, st.st_size)
    return out


def outside_state() -> dict:
    """The derived-state roots a run must leave as it found them."""
    return {
        "tmp": fingerprint("/tmp/spark_de_*"),
        "warehouse": fingerprint(os.path.join(ROOT, "spark-warehouse")),
    }


def layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn a driver's SIGTERM into SystemExit, so the scratch directory is
    # removed and the Spark JVM stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "spark_data_engineering_spark")):
        print(f"no program to benchmark: {ROOT}/spark_data_engineering_spark is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    scratch_parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch_parent, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch_parent)
    try:
        return run(args, W, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(scratch_parent)
        except OSError:
            pass  # another run still owns a directory there


def run(args, W, run_dir: str) -> int:
    from perfbench import trace as T

    before = outside_state()
    cpus = os.cpu_count() or 1
    for sub in ("local", "tmp", "events", "checkpoints", "warehouse", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            # every JVM, spark-submit's launcher too: temp files in the run
            # dir and no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    t_setup = time.perf_counter()
    tracer = T.Tracer(enabled=bool(args.trace))
    with tracer.span("session.get_spark"):
        from spark_data_engineering_spark.session import get_spark

        spark = get_spark(f"perfbench {args.workload}", extra_conf=conf)
    tracer.spark = spark
    ctx = W.Ctx(spark, tracer, SF_DIR, os.path.join(run_dir, "work"), args.seed)
    workload = W.WORKLOADS[args.workload]()

    attempted = failed = 0
    failures: list[str] = []
    passes: list[dict] = []  # measured passes: wall, probe, window, samples
    try:
        workload.setup(ctx)
        for i in range(workload.warmup_passes):
            tracer.pass_id = f"warmup-{i}"
            attempted += workload.ops_per_pass
            workload.run_pass(ctx, i)
        setup_s = time.perf_counter() - t_setup

        # a fixed pass count sized from --seconds: the same work in every
        # run, however fast the host is at the time
        n_passes = max(1, round(args.seconds / workload.nominal_pass_s))
        with T.PssSampler() as pss:
            for i in range(workload.warmup_passes, workload.warmup_passes + n_passes):
                probe = T.cpu_probe()
                steal0 = T.host_steal_s()
                gc0 = T.jvm_gc_seconds(spark) if tracer.enabled else 0.0
                tracer.pass_id = f"pass-{i}"
                attempted += workload.ops_per_pass
                w0, t0 = time.time(), time.perf_counter()
                samples = workload.run_pass(ctx, i)
                wall = time.perf_counter() - t0
                rec = {
                    "id": tracer.pass_id,
                    "wall": wall,
                    "probe": probe,
                    "steal": T.host_steal_s() - steal0,
                    "window": (w0, time.time()),
                    "samples": samples,
                }
                if tracer.enabled:
                    rec["jvm_gc_s"] = T.jvm_gc_seconds(spark) - gc0
                    rec["layers"] = workload.layer_metrics(ctx, tracer.pass_id)
                passes.append(rec)
        peak_pss_mb = pss.peak_kb / 1024

        attempted += 1
        failures = workload.check(ctx)
    except Exception as e:  # the run reports the failure instead of a number
        failures.append(f"{type(e).__name__}: {e}")
        import traceback

        traceback.print_exc()
    finally:
        stop_spark(spark)

    if before != outside_state():
        failures.append("the run changed /tmp/spark_de_* or spark-warehouse/")
    failed = len(failures)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)

    walls = [p["wall"] for p in passes]
    probes = [p["probe"] for p in passes]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "spark_graft_cpus": cpus,
        "spark_driver_memory": DRIVER_MEMORY,
        "passes": len(passes),
        "pass_s_quartiles": quartiles(walls) if walls else None,
        "cpu_probe_s_quartiles": quartiles(probes) if probes else None,
        "pass_s": walls,
        "steal_s": [p["steal"] for p in passes],
    }
    print("perfbench-detail " + json.dumps(detail), file=sys.stderr)

    metrics: dict[str, dict] = {}
    if passes and not failures:
        pass_s = statistics.median(walls)
        if args.trace:
            metrics = traced_metrics(workload, ctx, passes, run_dir, pass_s)
        else:
            metrics["setup_s"] = {"value": setup_s, "unit": "s"}
            metrics["pass_s"] = {"value": pass_s, "unit": "s"}
            metrics["peak_pss_mb"] = {"value": peak_pss_mb, "unit": "MB"}
            metrics["batch_p50_ms"] = {"value": batch_p50_ms(passes), "unit": "ms"}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 1 if failures else 0


def batch_p50_ms(passes: list[dict]) -> float:
    """Median latency of each kind of delivery unit over the measured
    passes (a report, an ingest micro-batch), averaged over the kinds. A
    median pooled over two reports of different cost would sit on the gap
    between them and swing with single samples."""
    kinds = {k for p in passes for k in p["samples"]}
    return statistics.mean(
        statistics.median(x for p in passes for x in p["samples"][k]) for k in kinds
    )


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited:
    the gateway JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def traced_metrics(workload, ctx, passes: list[dict], run_dir: str, pass_s: float) -> dict:
    """Per-layer metrics, each the median over the measured passes. Layers
    a workload does not exercise read 0."""
    from perfbench import trace as T

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    ctx.tracer.dump(os.path.join(out_dir, f"spans-{workload.name}-seed{ctx.seed}.jsonl"))
    engine = T.engine_metrics(
        os.path.join(run_dir, "events"), {p["id"]: p["window"] for p in passes}
    )
    rows = []
    for p in passes:
        row = {f"spark.{k}": v for k, v in engine[p["id"]].items()}
        row["spark.jvm_gc_s"] = p["jvm_gc_s"]
        row["host.cpu_probe_s"] = p["probe"]
        row["host.steal_s"] = p["steal"]
        row.update(p["layers"])
        rows.append(row)
    units = layer_units()
    undeclared = set(rows[0]) - set(units)
    if undeclared:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    values = {name: 0.0 for name in units}
    for name in rows[0]:
        values[name] = statistics.median(r[name] for r in rows)
    values["session.get_spark_s"] = ctx.tracer.total("setup", "session.get_spark")
    values["traced.pass_s"] = pass_s
    return {name: {"value": values[name], "unit": units[name]} for name in units}


if __name__ == "__main__":
    sys.exit(main())
