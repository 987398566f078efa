#!/usr/bin/env python
"""Full-registry parity sweep (round-10 verdict item 3).

The driver's per-round correctness gate samples ~50 of the registry's
queries; the rest ride on evidence from earlier rounds. This script
closes that window: it runs EVERY registry query against its DuckDB
oracle (same normalize + exact-value comparison as tests/helpers.py,
which mirrors the driver's rows+schema+hash gate) in one session and
writes FULLCHECK_r{N}.json next to the repo root.

Usage:
    python scripts/full_parity.py [--sf-dir /root/testdata/sf0.01]
                                  [--round N] [--only name1,name2]

Per query the output records:
    {"status": "hash_green" | "rows_only" | "fail",
     "rows": <spark row count>, "sec": <wall>, "error": <on fail>}
"rows_only" = no oracle registered (non-SQL-expressible op; the
driver applies the same weaker check). tests/test_fullcheck.py fails
if any registry name is missing from the latest committed FULLCHECK,
so an ``--only`` sweep without ``--round`` merges into the latest
existing FULLCHECK_r*.json (see output_round).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _rounds(repo: str, prefix: str) -> list[int]:
    return [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, f"{prefix}_r*.json"))
        if (m := re.search(rf"{prefix}_r(\d+)\.json$", p))
    ]


def output_round(repo: str, requested: int | None, *, partial: bool) -> int:
    """The N of the FULLCHECK_r{N}.json a sweep writes.

    An explicit ``--round`` wins. A partial (``--only``) sweep merges
    into the latest existing FULLCHECK, so it never becomes a new,
    incomplete latest file; a full sweep opens the round after the
    latest CORRECTNESS_r*.json."""
    if requested is not None:
        return requested
    if partial and (done := _rounds(repo, "FULLCHECK")):
        return max(done)
    return max(_rounds(repo, "CORRECTNESS"), default=0) + 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--round", type=int, default=None)
    ap.add_argument("--only", default=None,
                    help="comma-separated subset of registry names")
    args = ap.parse_args()

    from helpers import assert_matches_oracle

    from searchengine_spark.registry import all_oracles, all_queries
    from searchengine_spark.session import get_spark

    queries = all_queries()
    oracles = all_oracles()
    names = sorted(queries)
    if args.only:
        names = [n for n in args.only.split(",") if n in queries]

    n_round = output_round(REPO, args.round, partial=bool(args.only))

    spark = get_spark("full-parity")
    out: dict[str, dict] = {}
    t_all = time.perf_counter()
    for i, name in enumerate(names, 1):
        t0 = time.perf_counter()
        rec: dict = {}
        try:
            df = queries[name](spark, args.sf_dir)
            sql = oracles.get(name)
            if sql is None:
                rec["rows"] = df.count()
                rec["status"] = "rows_only"
            else:
                assert_matches_oracle(df, sql, args.sf_dir, name)
                rec["rows"] = df.count()
                rec["status"] = "hash_green"
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            rec["status"] = "fail"
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        rec["sec"] = round(time.perf_counter() - t0, 3)
        out[name] = rec
        print(
            f"[{i}/{len(names)}] {name}: {rec['status']} ({rec['sec']}s)",
            file=sys.stderr,
            flush=True,
        )
    spark.stop()

    doc = {
        "sf_dir": args.sf_dir,
        "total_sec": round(time.perf_counter() - t_all, 3),
        "n_queries": len(out),
        "n_hash_green": sum(
            1 for r in out.values() if r["status"] == "hash_green"
        ),
        "n_rows_only": sum(
            1 for r in out.values() if r["status"] == "rows_only"
        ),
        "n_fail": sum(1 for r in out.values() if r["status"] == "fail"),
        "queries": out,
    }
    path = os.path.join(REPO, f"FULLCHECK_r{n_round:02d}.json")
    if args.only:
        # Partial sweeps merge into the round file instead of
        # clobbering a full one.
        try:
            with open(path) as fh:
                prev = json.load(fh)
            prev["queries"].update(out)
            doc = prev
            doc["n_queries"] = len(doc["queries"])
            for k, s in (
                ("n_hash_green", "hash_green"),
                ("n_rows_only", "rows_only"),
                ("n_fail", "fail"),
            ):
                doc[k] = sum(
                    1 for r in doc["queries"].values() if r["status"] == s
                )
        except OSError:
            pass
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v for k, v in doc.items() if k != "queries"}))
    return 1 if doc["n_fail"] else 0


if __name__ == "__main__":
    sys.exit(main())
