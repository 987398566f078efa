"""Per-query bench-budget regression gate (round-8 verdict item 7,
methodology upgraded round 11).

A 10x plan regression used to surface only when the judge diffed
BENCH_DETAIL files between rounds. This gate makes it a deterministic
CI failure: the LATEST committed bench detail must keep every query
under BUDGET_FACTOR x its time in the PREVIOUS round's detail, after
normalizing out host speed.

Host normalization (round-11 upgrade): the MEDIAN per-query ratio
across all shared queries. The original probe-pair calibration
(spark_calib_*) proved flaky once the host started swinging 2x WITHIN
a run (r11: spark_calib 2.18 -> 1.26 inside one bench; r10 driver:
0.57 -> 0.29 scan probe) — a single start/end mean cannot represent
a query that ran during the slow phase. The median of ~185 per-query
ratios is self-normalizing (a real plan regression moves one or a few
queries, never the median) and re-detects exactly the r9->r10
outliers the probe method found (dedup_pagerank_centrality 3.5x,
mm_png_resize_stats 7.0x median-normalized). Probe-pair calibration
remains the fallback when fewer than MIN_SHARED queries are shared.

The ceiling stays deliberately generous (3x median-normalized, with a
calibrated 0.3 s floor so sub-noise queries can't flake): it will
never fire on uniform host noise, but a quadratic plan or a lost
broadcast (typically 5-50x) fails the suite the moment bench.py
records it, instead of a round later.

No Spark work happens here: the gate reads the two highest-round
BENCH_DETAIL_r*.json files already on disk (preferring the _driver
variant within a round, like bench_compare). With fewer than two
files the gate skips — a fresh clone cannot regress against nothing.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUDGET_FACTOR = 3.0
FLOOR_SEC = 0.3  # normalized; below this, timer noise dominates
MIN_SHARED = 20  # median normalization needs a population


def _bench():
    # The round-file resolver and the calibration pairing live in
    # bench.py (stdlib-only at import), shared with bench_compare.
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_no_query_blows_its_budget():
    bench = _bench()
    files = bench.detail_files(REPO)
    if len(files) < 2:
        pytest.skip("need two BENCH_DETAIL rounds to compare")
    lo, hi = sorted(files)[-2:]
    with open(files[lo]) as fh:
        base = json.load(fh)
    with open(files[hi]) as fh:
        cur = json.load(fh)
    if base.get("sf") != cur.get("sf"):
        pytest.skip("details ran at different scale factors")

    shared = {
        k: (b, cur["queries"][k])
        for k, b in base.get("queries", {}).items()
        if isinstance(b, (int, float))
        and isinstance(cur.get("queries", {}).get(k), (int, float))
        and b > 0
        and cur["queries"][k] > 0
    }
    if len(shared) >= MIN_SHARED:
        host = statistics.median(n / b for b, n in shared.values())
        mode = f"median of {len(shared)} ratios"
    else:
        c_base, c_cur, _ = bench.pair_calib(base, cur)
        host = c_cur / c_base
        mode = "probe-pair calibration"

    over = []
    for name, (b_sec, n_sec) in sorted(shared.items()):
        budget = BUDGET_FACTOR * max(b_sec, FLOOR_SEC) * host
        if n_sec > budget:
            over.append(
                f"{name}: {n_sec:.2f}s vs budget {budget:.2f}s "
                f"(r{lo} {b_sec:.2f}s, host x{host:.2f})"
            )
    assert not over, (
        f"bench budget exceeded (3x host-normalized [{mode}] vs previous "
        "round) — isolate-reproduce before 'fixing' (PROGRESS round-5 "
        "rule):\n" + "\n".join(over)
    )
