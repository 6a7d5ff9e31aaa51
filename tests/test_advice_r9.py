"""Round-10 regressions for the five ADVICE r9 findings:

1. (medium) ``generate_manifest`` refuses while live files physically
   predate a column rename/drop — a log-oblivious manifest consumer
   would see old column names / resurrected dropped bytes; unblocked
   by ``reorg_purge`` (symmetric with the DV refusal).
2. (medium) ``by_source_update_set`` validates its SET keys against
   the logical schema (a typo'd column used to silently never apply).
3. (low) a failed ``_manifest`` swap restores the previous manifest
   instead of deleting it.
4. (low) a conditional by-source clause rewrites only the zero-match
   files that actually CONTAIN condition-hit rows.
5. (low) ``sweep_stale`` tombstone-first deletion: stale entries go,
   fresh entries stay, orphaned tombstones are reaped (tested in
   tests/test_cacheutil.py).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources.txn import TxnTable


def _rows(spark, pairs):
    return spark.createDataFrame(
        [Row(k=k, v=v) for k, v in pairs], "k int, v string"
    )


# ---- 1: manifest column-mapping refusal --------------------------------


def test_manifest_refuses_renamed_physical_files_then_purge_unblocks(
    spark, tmp_path
):
    t = TxnTable(str(tmp_path), "t")
    t.append(_rows(spark, [(1, "a"), (2, "b")]))
    t.rename_column(spark, "v", "val")
    with pytest.raises(ValueError, match="rename/drop"):
        t.generate_manifest()
    t.reorg_purge(spark)  # rewrites the file under the new physical name
    path = t.generate_manifest()
    assert os.path.isdir(path)


def test_manifest_refuses_dropped_column_bytes_then_purge_unblocks(
    spark, tmp_path
):
    t = TxnTable(str(tmp_path), "t")
    t.append(
        spark.createDataFrame(
            [Row(k=1, v="a", extra=9)], "k int, v string, extra int"
        )
    )
    t.drop_column(spark, "extra")
    with pytest.raises(ValueError, match="rename/drop"):
        t.generate_manifest()
    t.reorg_purge(spark)
    t.generate_manifest()


def test_manifest_allows_postrename_clean_files(spark, tmp_path):
    # files written AFTER the rename already carry the new physical
    # name; if no pre-rename file is live, no refusal
    t = TxnTable(str(tmp_path), "t")
    t.append(_rows(spark, [(1, "a")]))
    t.rename_column(spark, "v", "val")
    t.overwrite(t.read(spark))  # all live files now post-rename
    t.generate_manifest()


# ---- 2: by_source_update_set unknown-column check ----------------------


def test_by_source_update_set_unknown_column_raises(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(_rows(spark, [(1, "a"), (2, "b")]))
    with pytest.raises(ValueError, match="no such column"):
        t.merge(
            spark,
            _rows(spark, [(1, "a")]),
            on=["k"],
            when_matched=None,
            when_not_matched=None,
            when_not_matched_by_source="update",
            by_source_update_set={"is_curent": "true"},  # typo'd
        )


# ---- 3: failed manifest swap restores the old manifest -----------------


def test_failed_manifest_swap_restores_previous(spark, tmp_path, monkeypatch):
    t = TxnTable(str(tmp_path), "t")
    t.append(_rows(spark, [(1, "a")]))
    final = t.generate_manifest()
    before = open(os.path.join(final, "manifest")).read()
    t.append(_rows(spark, [(2, "b")]))

    real_rename = os.rename

    def failing(srcp, dstp):
        if dstp == final and ".manifest-" in os.path.basename(srcp):
            raise OSError("simulated concurrent regeneration (ENOTEMPTY)")
        return real_rename(srcp, dstp)

    monkeypatch.setattr(os, "rename", failing)
    with pytest.raises(OSError, match="simulated"):
        t.generate_manifest()
    monkeypatch.undo()
    # the previous manifest was restored, not deleted
    assert os.path.isdir(final)
    assert open(os.path.join(final, "manifest")).read() == before


# ---- 4: conditional by-source rewrites only condition-hit files --------


def test_conditional_by_source_delete_skips_nonhit_files(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    # three single-file appends: one matched, two zero-match — of which
    # only one contains condition-hit rows
    t.append(_rows(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.append(_rows(spark, [(10, "x"), (11, "y")]).coalesce(1))
    t.append(_rows(spark, [(20, "p"), (21, "q")]).coalesce(1))
    before = set(t.live_files())
    src = _rows(spark, [(1, "A")])
    t.merge(
        spark,
        src,
        on=["k"],
        when_not_matched_by_source="delete",
        by_source_condition=F.col("k").between(10, 19),
    )
    commit = t.history()[-1]
    # rewrites: the matched file (k=1,2) and the hit file (k=10,11);
    # the k=20,21 file has no condition-hit row -> survives byte-identical
    assert len(commit["remove"]) == 2
    assert len(before & set(t.live_files())) == 1
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "A", 2: "b", 20: "p", 21: "q"}


def test_conditional_by_source_update_skips_nonhit_files(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(_rows(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.append(_rows(spark, [(10, "x")]).coalesce(1))
    t.append(_rows(spark, [(20, "p")]).coalesce(1))
    before = set(t.live_files())
    t.merge(
        spark,
        _rows(spark, [(1, "KEEP")]),
        on=["k"],
        when_matched=None,
        when_not_matched=None,
        when_not_matched_by_source="update",
        by_source_update_set={"v": F.lit("CLOSED")},
        by_source_condition=F.col("k") == 10,
    )
    commit = t.history()[-1]
    assert len(commit["remove"]) == 2  # matched file + the k=10 file
    assert len(before & set(t.live_files())) == 1  # k=20 file untouched
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "b", 10: "CLOSED", 20: "p"}
