"""SOAK.json must stay structurally sound: every soaked query has
timings for every factor, no errors, and no recorded blow-up beyond
the documented bound. Regenerate with `python scripts/soak.py`."""

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# x5 bound: linear work would be <=5; the recorded worst cases are the
# documented sublinear-cluster trades (~2.8). Anything past 5 means a
# new blow-up was recorded without being triaged.
MAX_RATIO = 5.0


# x10 bound for the heavy set: pair-output families (prefix join, LSH
# audit) legitimately exceed 10 under replication (every doc becomes a
# 10-way clone -> TRUE pair output grows ~100x by construction), so
# their ceiling is higher and documented in SOAK.json's heavy_x10_note.
MAX_RATIO_X10 = 12.0
MAX_RATIO_X10_PAIR = 40.0
PAIR_OUTPUT_HEAVY = {"dedup_prefix_jaccard_pairs", "dedup_lsh_recall_audit"}
# Round-8: the prefix join's honest bound is PER-OUTPUT-ROW time
# (rows_x* are observed inline; norm_ratio_x10 ~ 1 means the raw
# blow-up was output volume). The LSH audit keeps the raw pair bound:
# its OUTPUT is a fixed 1-row frame, so output normalization cannot
# apply — its cost genuinely tracks the pair volume it scans.
MAX_NORM_RATIO_X10 = 5.0
NORMALIZED_PAIR_HEAVY = {"dedup_prefix_jaccard_pairs"}


def _soak_mod():
    spec = importlib.util.spec_from_file_location(
        "soak", os.path.join(ROOT, "scripts", "soak.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_soak_record_matches_script_and_stays_linear():
    with open(os.path.join(ROOT, "SOAK.json")) as fh:
        rec = json.load(fh)
    mod = _soak_mod()
    assert set(rec["queries"]) == set(mod.QUERIES), (
        "SOAK.json is stale — rerun scripts/soak.py"
    )
    for name, r in rec["queries"].items():
        for f in mod.FACTORS:
            assert r.get(f"x{f}", -1) > 0, f"{name}: missing/failed x{f}"
            assert f"x{f}_err" not in r, f"{name}: {r.get(f'x{f}_err')}"
        assert r["ratio_x5"] <= MAX_RATIO, (
            f"{name}: x5 ratio {r['ratio_x5']} exceeds the linear bound — "
            "triage before re-recording"
        )


def test_soak_heavy_x10_recorded_and_bounded():
    with open(os.path.join(ROOT, "SOAK.json")) as fh:
        rec = json.load(fh)
    mod = _soak_mod()
    heavy = rec.get("heavy_x10")
    assert heavy is not None, "SOAK.json predates the x10 pass — rerun"
    assert set(heavy) == set(mod.HEAVY_X10)
    for name, r in heavy.items():
        for f in (1, 10):
            assert r.get(f"x{f}", -1) > 0, f"{name}: missing/failed x{f}"
            assert f"x{f}_err" not in r, f"{name}: {r.get(f'x{f}_err')}"
        bound = (
            MAX_RATIO_X10_PAIR if name in PAIR_OUTPUT_HEAVY else MAX_RATIO_X10
        )
        assert r["ratio_x10"] <= bound, (
            f"{name}: x10 ratio {r['ratio_x10']} exceeds {bound} — triage"
        )
        if name in NORMALIZED_PAIR_HEAVY:
            assert r.get("rows_x1", 0) > 0 and r.get("rows_x10", 0) > 0, (
                f"{name}: output rows not recorded — rerun scripts/soak.py"
            )
            assert r["norm_ratio_x10"] <= MAX_NORM_RATIO_X10, (
                f"{name}: per-output-row slowdown {r['norm_ratio_x10']} "
                f"exceeds {MAX_NORM_RATIO_X10} — the engine, not the output "
                "volume, got slower; triage"
            )


def test_soak_hotkey_stream_recorded_and_linear():
    with open(os.path.join(ROOT, "SOAK.json")) as fh:
        rec = json.load(fh)
    hot = rec.get("stream_hotkey")
    assert hot is not None, "SOAK.json predates the hot-key pass — rerun"
    for f in (1, 5):
        assert hot.get(f"x{f}", -1) > 0, f"hotkey replay: missing/failed x{f}"
    assert hot["ratio_x5"] <= MAX_RATIO, (
        f"hot-key streaming x5 ratio {hot['ratio_x5']} exceeds linear bound"
    )
