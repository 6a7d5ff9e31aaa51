"""How TxnTable reads and writes its log: one property resolver (the
newest commit carrying a field, head answers from one version-keyed
cache), one replay from the nearest checkpoint, and one commit loop
that applies the checkpoint rule to every commit it lands."""

from __future__ import annotations

import os
import re
from pathlib import Path

from spark_data_engineering_spark.sources import txn as txn_module
from spark_data_engineering_spark.sources.txn import TxnTable


def test_log_plumbing_is_written_once():
    """The backwards "newest commit carrying a field" walk, the DDL
    retry bound and the checkpoint rule each appear once in txn.py."""
    src = Path(txn_module.__file__).read_text()
    assert src.count("reversed(self._commit_files())") == 1
    assert len(re.findall(r"\brange\(5\)", src)) <= 1
    assert src.count("checkpoint_every == 0") == 1


def test_warm_append_idempotent_log_reads_do_not_grow(spark, tmp_path, monkeypatch):
    """On one warm handle, an exactly-once append parses no more commit
    files at v45 than at v15 (same checkpoint phase): replays start at
    the checkpoint and the property cache reads only new commits."""
    t = TxnTable(str(tmp_path), "t", checkpoint_every=10)
    one = spark.createDataFrame([(1,)], "x bigint")
    t.append_idempotent(one, "app", 0)
    parsed: list[int] = []
    read_commit = TxnTable._read_commit

    def counting(self, v):
        parsed.append(v)
        return read_commit(self, v)

    monkeypatch.setattr(TxnTable, "_read_commit", counting)

    def append_at(version: int, epoch: int) -> int:
        while t.version() < version - 1:  # metadata commits, no Spark job
            t.set_properties({"n": str(t.version())})
        parsed.clear()
        assert t.append_idempotent(one, "app", epoch) == version
        return len(parsed)

    at15 = append_at(15, 1)
    at45 = append_at(45, 2)
    assert at45 <= at15, (at15, at45)


def test_ddl_commits_follow_the_checkpoint_rule(tmp_path):
    """Metadata DDL lands through the same loop as data commits, so a
    DDL commit at a multiple of ``checkpoint_every`` checkpoints too,
    and the checkpoint holds the replayed state."""
    t = TxnTable(str(tmp_path), "t", checkpoint_every=3)
    t.set_properties({"a": "1"})
    t.create_tag("first")
    t.set_properties({"b": "2"})
    assert os.path.isfile(t._checkpoint_path(3))
    assert t._latest_checkpoint(3) == (3, t._replay(3))
    assert t.properties() == {"a": "1", "b": "2"}
    assert t.tags() == {"first": 1}
