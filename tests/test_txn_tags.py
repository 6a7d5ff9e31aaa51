"""Tags (round 12; Iceberg named references): immutable named pointers
to versions, resolved like every other log property, honored by vacuum
as GC ref roots — a tagged corpus release stays readable forever,
whatever ``keep_versions`` says."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources.txn import TxnTable


def _df(spark, *ks):
    return spark.createDataFrame(
        [(k, f"r{k}") for k in ks], "k int, tag string"
    ).coalesce(1)


def test_tag_lifecycle_and_read(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(_df(spark, 1, 2))
    v1 = t.version()
    t.create_tag("release")  # default: head
    t.append(_df(spark, 3))
    assert t.tags() == {"release": v1}
    # tag read = time travel to the pinned version
    assert sorted(r.k for r in t.read(spark, tag="release").collect()) == [1, 2]
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 3]
    # explicit version, refusals
    t.create_tag("early", at_version=v1)
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("release")
    with pytest.raises(ValueError, match="outside the log"):
        t.create_tag("nope", at_version=99)
    with pytest.raises(ValueError, match="no tag"):
        t.read(spark, tag="ghost")
    with pytest.raises(ValueError, match="at most one"):
        t.read(spark, at_version=1, tag="release")
    # metadata-only commits: row-neutral for CDF / detail surfaces them
    assert sorted(r.k for r in t.read_changes(spark, 0).collect()) == [1, 2, 3]
    assert t.detail()["tags"] == {"release": v1, "early": v1}
    t.delete_tag("early")
    assert t.tags() == {"release": v1}
    with pytest.raises(ValueError, match="no tag"):
        t.delete_tag("early")
    assert t.fsck()["ok"]


def test_tagged_snapshot_survives_vacuum(spark, tmp_path):
    """The point of tags at 100 TB: retention expires untagged history,
    but a tagged release's files are ref roots — pinned through an
    overwrite + vacuum(keep_versions=1) that expires everything else."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_df(spark, 1, 2))
    t.create_tag("train-v1")
    t.overwrite(_df(spark, 9))  # replaces every file
    t.append(_df(spark, 10))
    removed = t.vacuum(keep_versions=1)
    # the tagged version still reads exactly, post-vacuum
    assert sorted(
        r.k for r in t.read(spark, tag="train-v1").collect()
    ) == [1, 2]
    assert sorted(r.k for r in t.read(spark).collect()) == [9, 10]
    # and after the tag is dropped, the same vacuum reclaims its files
    t.delete_tag("train-v1")
    removed2 = t.vacuum(keep_versions=1)
    assert removed2, "dropping the tag should release its files to GC"
    with pytest.raises(Exception):
        t.read(spark, tag="train-v1")
    assert sorted(r.k for r in t.read(spark).collect()) == [9, 10]
    assert t.fsck()["ok"]


def test_tag_ddl_refused_in_branch_replay(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(_df(spark, 1))
    b = t.branch("rb")
    b.append(_df(spark, 2))
    b.create_tag("branch-tag")
    with pytest.raises(ValueError, match="tag DDL"):
        t.merge_branch(b)


def test_tags_are_restamped_near_the_head(spark, tmp_path):
    """_stamp_props re-records the tag map on later commits (the log-
    property pattern), so resolution on a long-lived tagged table reads
    the head commit, not a walk back to the tag DDL; a stale-cache
    handle refreshes incrementally and cannot clobber a newer map."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_df(spark, 1))
    v1 = t.version()
    t.create_tag("rel")
    t.append(_df(spark, 2))
    t.append(_df(spark, 3))
    head = t.version()
    assert t._read_commit(head).get("tags") == {"rel": v1}
    # a second handle deletes the tag; the first handle's next commit
    # must NOT re-stamp the stale map (the lost-DDL class)
    other = TxnTable(str(tmp_path), "t")
    other.delete_tag("rel")
    t.append(_df(spark, 4))
    fresh = TxnTable(str(tmp_path), "t")
    assert fresh.tags() == {}, "a stale handle resurrected a deleted tag"


def test_create_tag_pins_pre_race_head_after_lost_cas(spark, tmp_path):
    """ADVICE r12: ``create_tag(at_version=None)`` resolves its target
    ONCE, before the commit loop — after losing a commit race the tag
    pins the head the caller saw, not the racing writer's snapshot."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_df(spark, 1))
    v_seen = t.version()

    racer = TxnTable(str(tmp_path), "t")
    orig = t._try_commit
    fired = {"n": 0}

    def interleaved(record):
        if record.get("action") == "tag-create" and fired["n"] == 0:
            fired["n"] += 1
            racer.append(_df(spark, 2))  # advances head
        return orig(record)

    t._try_commit = interleaved
    try:
        t.create_tag("release")
    finally:
        t._try_commit = orig
    assert fired["n"] == 1
    fresh = TxnTable(str(tmp_path), "t")
    # the tag pins the head the caller saw (1 row), not the racer's
    assert fresh.tags()["release"] == v_seen
    assert fresh.read(spark, tag="release").count() == 1


def test_create_tag_explicit_version_unchanged_by_race(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(_df(spark, 1))
    t.append(_df(spark, 2))
    t.create_tag("v1", at_version=1)
    assert TxnTable(str(tmp_path), "t").tags()["v1"] == 1
