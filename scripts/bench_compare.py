#!/usr/bin/env python
"""Round-over-round bench regression report.

Compares the two highest-numbered BENCH_DETAIL_r*.json files (or two
paths given on the command line) and reports per-query movers beyond
a ratio threshold (default 1.5x either direction).

The host VM's throughput swings 2-5x run-to-run, so raw ratios lie.
Each detail file carries calibration probes timed at the start and
end of its run, and this report normalizes every query time by the
file's mean probe time before comparing. The pair comes from
bench.pair_calib: the Spark shuffle probe (spark_calib_*) when both
files carry it, else the scan probe (calib_*) for both. A query is
flagged only if its CALIBRATED ratio crosses the threshold; the raw
ratio is shown alongside. Per the soak-derived rule (PROGRESS round 5):
isolate-reproduce a flagged regression before "fixing" it.

Usage:
    python scripts/bench_compare.py [OLD.json NEW.json] [--threshold 1.5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import detail_files, pair_calib  # noqa: E402


def _latest_two(repo_root: str) -> tuple[str, str]:
    files = detail_files(repo_root)
    if len(files) < 2:
        sys.exit(
            "need two BENCH_DETAIL_r*.json files to compare "
            f"(found {len(files)} in {repo_root})"
        )
    hi = sorted(files)[-2:]
    return files[hi[0]], files[hi[1]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("paths", nargs="*", help="OLD.json NEW.json (default: two latest)")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()

    if len(args.paths) == 2:
        old_path, new_path = args.paths
    elif not args.paths:
        old_path, new_path = _latest_two(REPO)
    else:
        ap.error("give zero or two paths")

    with open(old_path) as fh:
        old = json.load(fh)
    with open(new_path) as fh:
        new = json.load(fh)

    old_q, new_q = old.get("queries", {}), new.get("queries", {})
    c_old, c_new, probe = pair_calib(old, new)
    print(f"old: {os.path.basename(old_path)} (calib {c_old:.2f}s, {probe} probe)")
    print(f"new: {os.path.basename(new_path)} (calib {c_new:.2f}s, {probe} probe)")

    shared = sorted(set(old_q) & set(new_q))
    movers = []
    for name in shared:
        a, b = old_q[name], new_q[name]
        if not a or not b:
            continue
        raw = b / a
        cal = (b / c_new) / (a / c_old)
        if cal >= args.threshold or cal <= 1 / args.threshold:
            movers.append((cal, raw, a, b, name))

    print(f"shared queries: {len(shared)}; "
          f"new-only: {sorted(set(new_q) - set(old_q))}; "
          f"gone: {sorted(set(old_q) - set(new_q))}")
    if not movers:
        print(f"no calibrated movers beyond {args.threshold}x")
        return 0
    movers.sort(reverse=True)
    print(f"\ncalibrated movers beyond {args.threshold}x "
          "(cal_ratio raw_ratio old_s new_s name):")
    for cal, raw, a, b, name in movers:
        direction = "SLOWER" if cal > 1 else "faster"
        print(f"  {cal:6.2f}x {raw:6.2f}x {a:8.3f} {b:8.3f}  {name}  [{direction}]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
