"""Synthesize an N× scale-up of a testdata dir (default: sf0.1 → "sf1")
for scale smokes, reproducibly.

Replication preserves the properties each operator family is sensitive
to, so wall-clock growth at N× is attributable to data volume, not to a
changed problem shape:

- ``documents``: per-replica VOCABULARY BIJECTION — every word w in
  replica r becomes md5(w|r)-derived token, so Jaccard/MinHash/SimHash
  similarity structure is exactly preserved *within* a replica while
  shingle universes are disjoint *across* replicas → true near-dup pair
  count scales exactly N×, candidate buckets don't collapse.
- ``embeddings``: replicated with deterministic hash-jitter (±0.01 per
  dim) so no two replicas are bit-identical (brute-force top-k stays
  discriminating) while the overall distribution is unchanged.
- ``lineitem``/``orders``/``customer``: replicated with key offsets that
  preserve join integrity (orderkey/custkey shifted per replica);
  ``part``/``supplier``/``nation``/``region`` stay fixed — facts grow,
  dims don't, which is exactly the 100 TB shape (broadcast sides stay
  broadcastable).
- ``events``: event_id/user_id offset per replica, timestamps unchanged
  (group cardinality per hour grows N×, the aggregation stress).

Usage: python tools/make_scale_data.py [src_dir] [dst_dir] [factor]
Defaults: /root/testdata/sf0.1 /tmp/spark_graft_sf1 10
"""

from __future__ import annotations

import os
import sys

import duckdb


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_sf1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE reps AS SELECT range AS r FROM range({factor})")

    def emit(name: str, sql: str) -> None:
        out = f"{dst}/{name}.parquet"
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
        print(f"{name}: {n} rows")

    for small in ("region", "nation", "part", "supplier"):
        emit(small, f"SELECT * FROM '{src}/{small}.parquet'")

    emit(
        "customer",
        f"""
        SELECT * EXCLUDE (stride, r) REPLACE (c_custkey + r * stride AS c_custkey)
        FROM '{src}/customer.parquet',
             (SELECT max(c_custkey) + 1 AS stride FROM '{src}/customer.parquet'),
             reps
        """,
    )
    emit(
        "orders",
        f"""
        SELECT * EXCLUDE (ostride, cstride, r)
               REPLACE (o_orderkey + r * ostride AS o_orderkey,
                          o_custkey + r * cstride AS o_custkey)
        FROM '{src}/orders.parquet',
             (SELECT max(o_orderkey) + 1 AS ostride FROM '{src}/orders.parquet'),
             (SELECT max(c_custkey) + 1 AS cstride FROM '{src}/customer.parquet'),
             reps
        """,
    )
    emit(
        "lineitem",
        f"""
        SELECT * EXCLUDE (ostride, r) REPLACE (l_orderkey + r * ostride AS l_orderkey)
        FROM '{src}/lineitem.parquet',
             (SELECT max(o_orderkey) + 1 AS ostride FROM '{src}/orders.parquet'),
             reps
        """,
    )
    emit(
        "events",
        f"""
        SELECT * EXCLUDE (estride, ustride, r)
               REPLACE (event_id + r * estride AS event_id,
                          user_id + r * ustride AS user_id)
        FROM '{src}/events.parquet',
             (SELECT max(event_id) + 1 AS estride FROM '{src}/events.parquet'),
             (SELECT max(user_id) + 1 AS ustride FROM '{src}/events.parquet'),
             reps
        """,
    )
    emit(
        "documents",
        f"""
        SELECT * EXCLUDE (dstride, r) REPLACE (doc_id + r * dstride AS doc_id,
               CASE WHEN r = 0 THEN text ELSE
                 -- fixed 8-hex-char tokens: 4e9 token space makes the
                 -- word mapping collision-free in practice, so the
                 -- bijection claim holds (length-preserving truncation
                 -- collided on 1-2 char words: 256-token space)
                 array_to_string(list_transform(string_split(text, ' '),
                   w -> substr(md5(w || '|' || CAST(r AS VARCHAR)), 1, 8)), ' ')
               END AS text)
        FROM '{src}/documents.parquet',
             (SELECT max(doc_id) + 1 AS dstride FROM '{src}/documents.parquet'),
             reps
        """,
    )
    emit(
        "embeddings",
        f"""
        SELECT * EXCLUDE (vstride, r) REPLACE (vec_id + r * vstride AS vec_id,
               CASE WHEN r = 0 THEN embedding ELSE
                 list_transform(list_zip(embedding,
                     range(1, len(embedding) + 1)),
                   z -> CAST(z[1] +
                        ((hash(vec_id * 1000 + CAST(z[2] AS BIGINT) + r * 7919)
                          % 1000) / 1000.0 * 0.02 - 0.01) AS FLOAT))
               END AS embedding)
        FROM '{src}/embeddings.parquet',
             (SELECT max(vec_id) + 1 AS vstride FROM '{src}/embeddings.parquet'),
             reps
        """,
    )


if __name__ == "__main__":
    main()
