"""Phase profile of ann_recall_report: time each method branch's own
noop-sink action separately (warm session), plus the brute-force
materialize and the full report, so the 7-method residual is attributed
line-by-line. Prints seconds per phase, best of N.

Usage: python tools/profile_ann.py [n] [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from spark_data_engineering_spark.materialize import materialize  # noqa: E402
from spark_data_engineering_spark.operators import similarity as S  # noqa: E402
from spark_data_engineering_spark.session import get_spark  # noqa: E402
from spark_data_engineering_spark.sources import load_table  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("profile_ann")
    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)

    from spark_data_engineering_spark.operators.ann_index import IVFIndex, IVFPQIndex
    from spark_data_engineering_spark.queries.similarity import (
        _incremental_ivf_index,
        ann_recall_report,
        cached_index_paths,
    )

    # warm the cached indexes + JVM before timing
    ann_recall_report(spark, sf_dir).write.format("noop").mode("overwrite").save()

    root = cached_index_paths(sf_dir)["ann_recall_report"]
    idx = IVFIndex(root)
    pq_idx = IVFPQIndex(root)

    def phases():
        return {
            "bf_materialize": lambda: S.brute_force_knn(emb, queries_df, k=10)
            .select("query_id", "neighbor_id")
            .transform(materialize),
            "lsh_1probe": lambda: S.lsh_knn(emb, queries_df, k=10, n_probes=1),
            "lsh_multiprobe": lambda: S.lsh_knn_multiprobe(
                emb, queries_df, k=10, n_probes=9
            ),
            "ivf_percall": lambda: S.ivf_knn(
                emb, queries_df, k=10, n_centroids=32, n_probe=12
            ),
            "ivf_index": lambda: idx.search(spark, queries_df, k=10, n_probe=12),
            "ivf_index_inc": lambda: _incremental_ivf_index(
                spark, sf_dir, emb
            ).search(spark, queries_df, k=10, n_probe=12),
            "pq_percall": lambda: S.pq_knn(emb, queries_df, k=10, m=16, n_codes=32),
            "ivfpq_index": lambda: pq_idx.search(
                spark, queries_df, k=10, n_probe=12, rerank_with=emb
            ),
            "FULL_report": lambda: ann_recall_report(spark, sf_dir),
        }

    best: dict[str, float] = {}
    for rep in range(n):
        for name, make in phases().items():
            spark.sparkContext.setJobDescription(f"ann-profile:{name}")
            t0 = time.perf_counter()
            df = make()
            df.write.format("noop").mode("overwrite").save()
            w = time.perf_counter() - t0
            best[name] = min(best.get(name, 1e9), w)
            print(f"rep{rep} {name}: {w:.2f}s", flush=True)
    print("---- best of", n)
    for name, w in best.items():
        print(f"{name}: {w:.2f}s")


if __name__ == "__main__":
    main()
