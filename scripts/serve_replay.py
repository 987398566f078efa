#!/usr/bin/env python
"""Replay perfbench's seeded /search requests against SearchService,
in one process, with no HTTP.

The corpus and requests are the search_http workload's
(perfbench/gen.py): the seed's 10k-doc corpus, cached under
``.perfbench_work/data`` as perfbench caches it, and the workload's
base and saturation streams (2,000 requests each, 10% fuzzy). Its 12
warm-up requests run first, untimed; the first of them builds the
serving shard.

Prints the shard's shape, then the p50 seconds of each phase of a
request (SearchService.query's parse, correct, top_k and highlight;
serialize is the JSON encode of the reply /search would send) and of
the whole request, over all requests and over the fuzzy ones; last,
one SHA-256 over every reply in order, so that two checkouts can be
compared byte for byte:

    python scripts/serve_replay.py --seed 1
    python scripts/serve_replay.py --seed 1 --checkout /path/to/other/checkout

``--checkout`` imports searchengine_spark from another checkout (the
corpus and requests still come from this one). A checkout whose
SearchService.query records no phases reports the whole request only.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
K = 10            # perfbench's k
N_DOCS = 10_000   # perfbench search_http corpus
SIZES = [12, 2_000, 16, 2_000]  # warm, base, burst, saturation streams
PHASES = ("parse", "correct", "top_k", "highlight", "serialize")


def _p50s(rows: list[dict]) -> str:
    cols = [p for p in ("request",) + PHASES if any(p in r for r in rows)]
    return "  ".join(
        f"{p} {statistics.median(r[p] for r in rows if p in r):.6f}" for p in cols
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--checkout", default=REPO, help="where searchengine_spark is imported from")
    ap.add_argument("--data", default=os.path.join(REPO, ".perfbench_work", "data"))
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path[:0] = [os.path.abspath(args.checkout), os.path.join(REPO, "perfbench")]
    import gen

    import searchengine_spark.serve as serve
    from searchengine_spark.session import get_spark

    os.makedirs(args.data, exist_ok=True)
    corpus = gen.corpus(args.data, args.seed, N_DOCS)
    warm, base, _, saturate = gen.request_stream(args.seed, corpus.vocab, SIZES)
    spark = get_spark("serve-replay")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        service = serve.SearchService(spark, corpus.path)
        for r in warm:
            service.query(r.q, k=K, fuzzy=r.fuzzy)
        phased = "phases" in inspect.signature(service.query).parameters
        digest = hashlib.sha256()
        rows = []
        for r in base + saturate:
            t0 = time.perf_counter()
            row = serve.Phases(start=t0) if phased else {}
            kwargs = {"phases": row} if phased else {}
            hits = service.query(r.q, k=K, fuzzy=r.fuzzy, **kwargs)
            t1 = time.perf_counter()
            body = json.dumps({"query": r.q, "results": hits}).encode()
            t2 = time.perf_counter()
            if phased:
                row["serialize"] = t2 - t1
            row["request"] = t2 - t0
            row["fuzzy"] = r.fuzzy
            rows.append(row)
            digest.update(body + b"\n")
        print("shard", json.dumps(service.shard_shape()))
        fuzzy = [r for r in rows if r["fuzzy"]]
        print(f"requests {len(rows)} ({len(fuzzy)} fuzzy)")
        print("p50_s all  ", _p50s(rows))
        print("p50_s fuzzy", _p50s(fuzzy))
        print("sha256", digest.hexdigest())
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
