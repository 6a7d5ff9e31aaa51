"""The derived-state cache primitive (spark_data_engineering_spark/cacheutil.py):
the key recipe, the build-once publish protocol, and the sweep/claim
pair that keeps entries in use alive."""

from __future__ import annotations

import ast
import os
import re
import shutil
import sys
import time
from pathlib import Path

import pytest

from spark_data_engineering_spark import cacheutil


def _build(root: str) -> None:
    """A build function whose module is this test file."""
    os.makedirs(root)


def _stale(path: str) -> None:
    old = time.time() - 7200
    os.utime(path, (old, old))


# ---- sweep / claim ------------------------------------------------------


def test_sweep_stale_tombstone_behavior(tmp_path):
    parent = str(tmp_path / "cache")
    os.makedirs(os.path.join(parent, "stale"))
    os.makedirs(os.path.join(parent, "fresh"))
    os.makedirs(os.path.join(parent, "orphan.sweeping-123"))
    os.makedirs(os.path.join(parent, "live.sweeping-456"))
    old = time.time() - 7200
    os.utime(os.path.join(parent, "stale"), (old, old))
    os.utime(os.path.join(parent, "orphan.sweeping-123"), (old, old))
    cacheutil.sweep_stale(parent, max_age_s=3600)
    left = set(os.listdir(parent))
    # stale entry reaped; STALE orphaned tombstone reaped; a FRESH
    # tombstone is a live concurrent sweeper's pending restore-or-delete
    # — left alone so a claim() that already returned True cannot lose
    # its entry to a second sweeper
    assert left == {"fresh", "live.sweeping-456"}


def test_claim_refreshes_and_saves_from_sweep(tmp_path):
    parent = str(tmp_path / "cache")
    root = os.path.join(parent, "entry")
    os.makedirs(root)
    old = time.time() - 7200
    os.utime(root, (old, old))
    assert cacheutil.claim(root)  # hit refreshes mtime
    cacheutil.sweep_stale(parent, max_age_s=3600)
    assert os.path.isdir(root)  # claimed entry survives the sweep
    assert not cacheutil.claim(os.path.join(parent, "missing"))


def test_claim_refreshes_mtime(tmp_path):
    """claim() on a cache hit must utime the root so a concurrent
    sweep_stale (1h cutoff) can't reap an entry in active use."""
    parent = tmp_path / "cache"
    root = parent / "entry"
    root.mkdir(parents=True)
    old = time.time() - 7200
    os.utime(root, (old, old))
    assert cacheutil.claim(str(root))  # hit: refreshes mtime
    cacheutil.sweep_stale(str(parent))  # would have reaped the 2h-old entry
    assert root.is_dir()
    assert not cacheutil.claim(str(root / "missing"))


# ---- key recipe ---------------------------------------------------------


@pytest.fixture
def sf_copy(tmp_path, sf_dir):
    """A private copy of the test sf dir whose files can be touched."""
    dst = tmp_path / "sf"
    shutil.copytree(sf_dir, dst)
    return str(dst)


def _key(sf: str, build=_build, **kw) -> str:
    kw.setdefault("tables", ("orders",))
    return cacheutil.cache_path("testns", "t", sf, build, **kw)


def test_cache_path_layout(sf_copy):
    path = _key(sf_copy)
    assert path.startswith(cacheutil.cache_root("testns") + "/t-")
    assert cacheutil.cache_root("testns") == "/tmp/spark_de_testns"
    assert path == _key(sf_copy)  # deterministic


def test_key_changes_with_input_stat(sf_copy):
    before = _key(sf_copy)
    os.utime(f"{sf_copy}/orders.parquet", (1, 1))
    assert _key(sf_copy) != before


def test_key_ignores_unlisted_inputs(sf_copy):
    before = _key(sf_copy)
    os.utime(f"{sf_copy}/customer.parquet", (1, 1))
    assert _key(sf_copy) == before


def test_key_changes_with_extra_param(sf_copy):
    assert _key(sf_copy, params=(200,)) != _key(sf_copy, params=(100,))
    assert _key(sf_copy, params=(200,)) != _key(sf_copy)


def test_key_changes_with_listed_module(sf_copy, tmp_path, monkeypatch):
    mod = _scratch_module(tmp_path, monkeypatch, "cacheutil_dep_mod", "X = 1\n")
    before = _key(sf_copy, modules=(mod,))
    Path(mod.__file__).write_text("X = 2\n")
    assert _key(sf_copy, modules=(mod,)) != before


def test_key_changes_with_build_module_edit(sf_copy, tmp_path, monkeypatch):
    """The build function's own module is always folded in: editing the
    code that drives a build invalidates it, listed or not."""
    src = "import os\n\ndef build(root):\n    os.makedirs(root)\n"
    mod = _scratch_module(tmp_path, monkeypatch, "cacheutil_build_mod", src)
    before = _key(sf_copy, build=mod.build)
    Path(mod.__file__).write_text(src + "# edited\n")
    assert _key(sf_copy, build=mod.build) != before


def _scratch_module(tmp_path, monkeypatch, name: str, src: str):
    import importlib

    (tmp_path / f"{name}.py").write_text(src)
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.delitem(sys.modules, name, raising=False)
    return importlib.import_module(name)


class _Stop(Exception):
    pass


def _report_key(spark, sf: str, monkeypatch) -> str:
    """The cache path incremental_daily_order_report would build at,
    captured before any build runs."""
    from spark_data_engineering_spark.queries import incremental_q

    seen = []

    def capture(namespace, tag, sf_dir, build, **key):
        seen.append(cacheutil.cache_path(namespace, tag, sf_dir, build, **key))
        raise _Stop

    monkeypatch.setattr(incremental_q, "cached", capture)
    with pytest.raises(_Stop):
        incremental_q.incremental_daily_order_report(spark, sf)
    return seen[0]


def test_daily_order_report_key_covers_customer(spark, sf_copy, monkeypatch):
    """Every refresh of the incremental report folds through a join with
    customer, so a changed customer.parquet must not reuse its state."""
    before = _report_key(spark, sf_copy, monkeypatch)
    os.utime(f"{sf_copy}/customer.parquet", (1, 1))
    assert _report_key(spark, sf_copy, monkeypatch) != before


# ---- build_once ---------------------------------------------------------


def test_build_once_builds_then_claims(tmp_path):
    path = str(tmp_path / "ns" / "entry")
    calls = []

    def build(root):
        calls.append(root)
        os.makedirs(root)
        Path(root, "data").write_text("ok")

    assert cacheutil.build_once(path, build) == path
    assert cacheutil.build_once(path, build) == path
    assert len(calls) == 1 and calls[0].startswith(f"{path}.build-")
    assert Path(path, "data").read_text() == "ok"
    assert os.listdir(tmp_path / "ns") == ["entry"]


def test_failed_build_publishes_nothing_and_next_call_rebuilds(tmp_path):
    path = str(tmp_path / "ns" / "entry")

    def bad(root):
        os.makedirs(root)
        Path(root, "partial").write_text("half")
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError):
        cacheutil.build_once(path, bad)
    assert os.listdir(tmp_path / "ns") == []  # no entry, no scratch left

    def good(root):
        os.makedirs(root)
        Path(root, "data").write_text("ok")

    cacheutil.build_once(path, good)
    assert sorted(os.listdir(path)) == ["data"]


def test_build_that_writes_nothing_raises(tmp_path):
    path = str(tmp_path / "ns" / "entry")
    with pytest.raises(OSError):
        cacheutil.build_once(path, lambda root: None)
    assert not os.path.exists(path)


def test_racer_publish_wins(tmp_path):
    path = str(tmp_path / "ns" / "entry")

    def build(root):
        os.makedirs(root)
        Path(root, "mine").write_text("loser")
        os.makedirs(path)  # a concurrent build publishes first
        Path(path, "theirs").write_text("winner")

    assert cacheutil.build_once(path, build) == path
    assert os.listdir(path) == ["theirs"]
    assert os.listdir(tmp_path / "ns") == ["entry"]


def test_build_once_sweeps_stale_siblings(tmp_path):
    parent = tmp_path / "ns"
    old_entry = parent / "t-olddigest"
    old_entry.mkdir(parents=True)
    _stale(str(old_entry))
    cacheutil.build_once(str(parent / "t-newdigest"), _build)
    assert os.listdir(parent) == ["t-newdigest"]


def test_resume_dir_sweeps_siblings_and_keeps_its_own(tmp_path):
    parent = tmp_path / "ns"
    mine, other = parent / "mine", parent / "other"
    mine.mkdir(parents=True)
    other.mkdir()
    _stale(str(mine))
    _stale(str(other))
    assert cacheutil.resume_dir(str(mine)) == str(mine)
    assert os.listdir(parent) == ["mine"]


# ---- the query package uses only this module ----------------------------


def test_queries_hold_no_cache_protocol():
    """cacheutil is the only module that knows the key recipe, the
    roots and the publish protocol: no query module repeats them."""
    qdir = Path(cacheutil.__file__).parent / "queries"
    banned = re.compile(r"/tmp/spark_de_|\bclaim\(|sweep_stale\(|\.build-|hashlib\.md5")
    hits = [
        f"{p.name}:{n}"
        for p in sorted(qdir.glob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []


# the sink-builder closures that await the StreamingQuery a streaming
# sink builder (stream_upsert_to_txn, stream_with_expectations,
# stream_to_txn_table) returns
_SINK_BUILDS = (
    "streaming_txn_upsert_revenue",
    "streaming_expectations_quarantine",
    "txn_autocompact_revenue",
)


def test_queries_hold_no_stream_lifecycle():
    """``streaming.events.drain`` is the only stream lifecycle: no
    streaming gate starts, awaits or stops a query, or sets a session
    conf, by hand. The sink-builder closures keep their await."""
    pkg = Path(cacheutil.__file__).parent
    banned = re.compile(
        r"awaitTermination\(|processAllAvailable\(|\.start\(|shuffle\.partitions"
        r"|conf\.set\(|conf\.unset\("
    )
    hits = []
    for path in (pkg / "queries" / "streaming_q.py", pkg / "streaming" / "neardup.py"):
        src = path.read_text()
        exempt = {
            n
            for gate in ast.walk(ast.parse(src))
            if isinstance(gate, ast.FunctionDef) and gate.name in _SINK_BUILDS
            for build in gate.body
            if isinstance(build, ast.FunctionDef) and build.name == "build"
            for n in range(build.lineno, build.end_lineno + 1)
        }
        hits += [
            f"{path.name}:{n}"
            for n, line in enumerate(src.splitlines(), 1)
            if banned.search(line) and n not in exempt
        ]
    assert hits == []


# every root a query or a stream drain makes a fresh per-call directory under
_SCRATCH_ROOTS = (
    "stream_ckpt",
    "txnsnap",
    "dv",
    "export",
    "streamsink",
    "mview",
    "deadletter",
)


@pytest.mark.parametrize("namespace", _SCRATCH_ROOTS)
def test_scratch_root_is_swept(namespace):
    """Stale per-run dirs under a shared scratch root are collected the
    next time one is made — and the package makes them only through
    ``scratch_dir``."""
    pkg = Path(cacheutil.__file__).parent
    used = "".join(
        p.read_text() for d in ("queries", "streaming") for p in (pkg / d).glob("*.py")
    )
    assert f'scratch_dir("{namespace}"' in used
    root = cacheutil.cache_root(namespace)
    stale = os.path.join(root, "stale-swept")
    os.makedirs(stale, exist_ok=True)
    _stale(stale)
    fresh = cacheutil.scratch_dir(namespace)
    try:
        assert not os.path.isdir(stale)
        assert os.path.dirname(fresh) == root and os.listdir(fresh) == []
    finally:
        os.rmdir(fresh)


def test_build_once_keeps_an_old_hit(tmp_path):
    """An entry older than the sweep cutoff that is still asked for is
    a hit, not a rebuild."""
    path = tmp_path / "ns" / "entry"
    path.mkdir(parents=True)
    _stale(str(path))
    cacheutil.build_once(str(path), lambda root: pytest.fail("rebuilt a hit"))
    assert path.is_dir()
