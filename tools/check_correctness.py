"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the
given sf dir, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, values normalized,
rows sorted). Reports per-query PASS/FAIL with a diff sample on failure.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from spark_data_engineering_spark.session import (  # noqa: E402
    default_driver_memory,
    get_spark,
)
from spark_data_engineering_spark.sources import TABLES  # noqa: E402


def _norm_obj(v):
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").map(lambda v: v.isoformat())
        elif s.dtype == object:
            df[c] = s.map(_norm_obj)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def plain_spark():
    """A session the library did NOT build — mirrors the driver gate.

    The driver runs queries() on its own SparkSession with none of this
    repo's session-factory confs; r8's only red rows were conf-coupling
    bugs (pushFilters + filterPushdown.enabled=false) invisible to a
    replica built via get_spark. Default to a plain session so that
    class of bug is caught locally; CHECK_SESSION=library restores the
    tuned builder for fast iteration.
    """
    import os

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName("correctness-check-plain")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def main() -> int:
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    if os.environ.get("CHECK_SESSION") == "library":
        spark = get_spark("correctness-check")
    else:
        spark = plain_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        sn, on = normalize(sdf), normalize(odf)
        ok_rows = len(sn) == len(on)
        ok_cols = list(sn.columns) == list(on.columns)
        ok_vals = ok_rows and ok_cols and sn.equals(on)
        if ok_vals:
            print(f"PASS  {name}: {len(sn)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
            print(
                f"FAIL  {name}: rows {len(sn)}/{len(on)} cols_match={ok_cols} [{time.time()-t0:.1f}s]"
            )
            if not ok_cols:
                print(f"      spark cols:  {list(sn.columns)}")
                print(f"      oracle cols: {list(on.columns)}")
            elif ok_rows:
                neq = (sn != on).any(axis=1)
                print("      first diffs (spark vs oracle):")
                print(pd.concat([sn[neq].head(3), on[neq].head(3)]).to_string())
            else:
                merged = sn.merge(on, how="outer", indicator=True)
                print(merged[merged["_merge"] != "both"].head(6).to_string())
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
