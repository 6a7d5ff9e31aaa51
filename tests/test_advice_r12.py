"""Round-13 regression for ADVICE r12 finding 3: ``bench.canary_baseline``
degrades to None on a malformed / key-missing baseline file instead of
raising at cnorm time. (Findings 1 and 2 — the ``widen_column`` and
``create_tag`` commit races — are tested in ``test_txn_widen_column.py``
and ``test_txn_tags.py``.)
"""

from __future__ import annotations

import json

import pytest


@pytest.mark.parametrize(
    "content",
    [
        "{not json",  # JSONDecodeError (ValueError)
        json.dumps({"py": 1.0}),  # missing 'jvm'
        json.dumps({"jvm": "abc", "py": 1.0}),  # non-numeric
        json.dumps({"jvm": None, "py": 1.0}),  # TypeError
        json.dumps([1, 2, 3]),  # wrong shape
    ],
)
def test_canary_baseline_malformed_degrades_to_none(tmp_path, content):
    import bench

    p = tmp_path / "CANARY_BASELINE.json"
    p.write_text(content)
    assert bench.canary_baseline(str(p)) is None


def test_canary_baseline_valid_roundtrip(tmp_path):
    import bench

    p = tmp_path / "CANARY_BASELINE.json"
    p.write_text(json.dumps({"jvm": 2.5, "py": 1.25}))
    assert bench.canary_baseline(str(p)) == {"jvm": 2.5, "py": 1.25}


def test_canary_baseline_missing_is_none(tmp_path):
    import bench

    assert bench.canary_baseline(str(tmp_path / "nope.json")) is None
