"""Scale smoke: run registered queries at two scale factors and report
wall time + output rows at each, so N× growth is measurable and
reproducible (pair with tools/make_scale_data.py).

Usage:
    python tools/scale_smoke.py q1 q2 ...          # sf0.1 vs /tmp/spark_graft_sf1
    SMOKE_BASE=/root/testdata/sf0.1 SMOKE_BIG=/tmp/spark_graft_sf1 \
        python tools/scale_smoke.py q1 q2 ...
    SMOKE_RUNS=2 python tools/scale_smoke.py q1    # best-of-N per sf

Prints one JSON line per query:
    {"query": ..., "base_s": ..., "big_s": ..., "base_rows": ...,
     "big_rows": ..., "wall_ratio": ...}

Steady-state streaming (VERDICT r7 task 7): the FIRST streaming query
through the Python DataSourceStreamReader path pays ~6 s of one-time
stream-worker startup that the batch warm-up does not cover, which used
to inflate ``base_s`` for such queries (hand-noted per query in
SCALE.md). The warm-up now also drives a tiny txn-source stream to
completion, so every recorded number is steady-state by construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from spark_data_engineering_spark import registry  # noqa: E402
from spark_data_engineering_spark.session import get_spark  # noqa: E402

registry.load_all()


def _warm_stream_worker(spark) -> None:
    """Pay the one-time Python stream-reader/writer worker startup off
    the clock: run a minimal format('txn') stream end-to-end once. A
    failure here only costs warm-up (never a smoke result)."""
    import shutil

    from pyspark.sql import functions as F

    from spark_data_engineering_spark.cacheutil import scratch_dir
    from spark_data_engineering_spark.sources.txn import TxnTable
    from spark_data_engineering_spark.sources.txn_datasource import register_txn
    from spark_data_engineering_spark.streaming.events import run_to_memory

    root = scratch_dir("smokewarm")
    try:
        register_txn(spark)
        t = TxnTable(root, "warm")
        t.append(spark.range(4).withColumn("v", F.col("id")).coalesce(1))
        run_to_memory(spark.readStream.format("txn").load(t.table_dir), "smoke_warm_stream")
    except Exception as e:  # pragma: no cover - warm-up must never gate
        print(f"# stream warm-up skipped: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    base = os.environ.get("SMOKE_BASE", "/root/testdata/sf0.1")
    big = os.environ.get("SMOKE_BIG", "/tmp/spark_graft_sf1")
    runs = int(os.environ.get("SMOKE_RUNS", "1"))
    names = sys.argv[1:]
    spark = get_spark("scale-smoke")
    # warm the JVM + python worker pool off the clock
    registry.QUERIES["daily_order_report"](spark, base).write.format(
        "noop"
    ).mode("overwrite").save()
    _warm_stream_worker(spark)

    for name in names:
        fn = registry.QUERIES[name]
        out = {}
        for tag, sf_dir in (("base", base), ("big", big)):
            best, rows = None, None
            for _ in range(max(1, runs)):
                t0 = time.time()
                df = fn(spark, sf_dir)
                rows = df.count()
                wall = time.time() - t0
                best = wall if best is None else min(best, wall)
            out[f"{tag}_s"] = round(best, 2)
            out[f"{tag}_rows"] = rows
        out["wall_ratio"] = round(out["big_s"] / max(out["base_s"], 1e-9), 2)
        print(json.dumps({"query": name, **out}))


if __name__ == "__main__":
    main()
