"""Full-registry parity-sweep gate (round-10 verdict item 3).

The driver's per-round CORRECTNESS gate samples ~50 queries; the
committed FULLCHECK_r{N}.json (scripts/full_parity.py) is the
evidence that EVERY registry query was oracle-checked in one sweep.
This test keeps that evidence honest: every registry name must appear
in the latest FULLCHECK with a non-fail status, and a query added
without re-running the sweep fails the suite instead of riding on
stale evidence.

No Spark work here — pure JSON vs registry-name comparison (the
registry import itself is cheap: it collects callables, it does not
build sessions).
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_fullcheck() -> tuple[int, dict] | None:
    best = None
    for p in glob.glob(os.path.join(REPO, "FULLCHECK_r*.json")):
        m = re.search(r"FULLCHECK_r(\d+)\.json$", p)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    if best is None:
        return None
    with open(best[1]) as fh:
        return best[0], json.load(fh)


def test_every_registry_query_swept():
    latest = _latest_fullcheck()
    if latest is None:
        pytest.skip("no FULLCHECK_r*.json committed yet")
    _, doc = latest
    from searchengine_spark.registry import all_oracles, all_queries

    swept = doc["queries"]
    missing = sorted(set(all_queries()) - set(swept))
    assert not missing, (
        "registry queries absent from the latest FULLCHECK sweep — "
        f"re-run scripts/full_parity.py: {missing}"
    )

    failed = sorted(
        n for n, r in swept.items() if r.get("status") == "fail"
    )
    assert not failed, f"FULLCHECK records failures: {failed}"

    # A query with a registered oracle must have been HASH-checked,
    # not rows-only (rows_only is reserved for non-SQL-expressible
    # ops, the same split the driver applies).
    oracles = all_oracles()
    weak = sorted(
        n
        for n, r in swept.items()
        if n in oracles and r.get("status") == "rows_only"
    )
    assert not weak, f"oracle-bearing queries swept rows-only: {weak}"


def test_partial_sweep_merges_into_latest_fullcheck(tmp_path):
    """``full_parity.py --only`` without ``--round`` must write into
    the latest existing FULLCHECK, not open a new, partial latest file
    that the test above would then read."""
    spec = importlib.util.spec_from_file_location(
        "full_parity", os.path.join(REPO, "scripts", "full_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    for name in (
        "CORRECTNESS_r13.json",
        "CORRECTNESS_r14.json",
        "FULLCHECK_r12.json",
        "FULLCHECK_r13.json",
        "FULLCHECK_r13_sf0.1_touched.json",
    ):
        (tmp_path / name).write_text("{}")
    root = str(tmp_path)
    assert mod.output_round(root, None, partial=True) == 13
    assert mod.output_round(root, None, partial=False) == 15
    assert mod.output_round(root, 7, partial=True) == 7
    (tmp_path / "FULLCHECK_r13.json").unlink()
    (tmp_path / "FULLCHECK_r12.json").unlink()
    assert mod.output_round(root, None, partial=True) == 15
