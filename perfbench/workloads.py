"""The benchmark's workloads. Each drives the program through its public
API only: ``SearchService``/``make_http_server``, ``build_index``,
``append_to_index``, ``pipeline.curate`` and the registry's ``tpch_q*``
queries.

A workload has five steps, run in this order by ``run.py``:

- ``prepare``: generate inputs and expected answers (before Spark starts);
- ``ready``: what a user waits for after the session exists (timed as
  part of set-up);
- ``gate``: untimed preparation and correctness checks;
- ``measure``: the timed region, ``seconds`` long (at least one
  operation);
- ``verify``: checks outputs kept by ``measure``, untimed.

The serving workload is measured warm: a server lives long, and its gate
requests run the serving code first. The batch workload is measured from
its first execution in the process, as a batch job pays JIT compilation
and Python-worker start-up every time it runs.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
import urllib.parse
from contextlib import contextmanager

import gen
import oracles
import stats
from spans import Tracer

# Result-list size of every /search request.
K = 10


class GateFailure(Exception):
    """An output of the program did not match its oracle."""


# ---------------------------------------------------------------- context


class Ctx:
    """State shared by the steps of one run."""

    def __init__(self, *, work: str, seed: int, seconds: float, trace: bool,
                 digest: str) -> None:
        self.work = work
        self.digest = digest      # of the program's sources; keys cached answers
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if trace else None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.details: dict = {}

    @property
    def data(self) -> str:
        path = os.path.join(self.work, "data")
        os.makedirs(path, exist_ok=True)
        return path

    @contextmanager
    def op(self, name: str):
        """A top-level operation: one span and one Spark job group."""
        if self.tracer is None:
            yield None
            return
        with self.tracer.span(name) as s:
            self.spark.sparkContext.setJobGroup(s.rid, name)
            try:
                yield s
            finally:
                self.spark.sparkContext.setJobGroup("idle", "between operations")

    @contextmanager
    def span(self, name: str):
        if self.tracer is None:
            yield None
            return
        with self.tracer.span(name) as s:
            yield s


def release_all(spark) -> None:
    """Drop every cached frame and persisted RDD so that the next
    operation does its full work instead of reading the last one's."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def retained_cache_mb(spark) -> float:
    """Storage memory and disk still held by cached/persisted data."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def timed_loop(seconds: float, step) -> list[float]:
    """Call ``step()`` at least once, and again while another call of the
    median length still ends within ``seconds``; returns each call's
    duration. A run never ends on a partly measured call, and the number
    of calls does not flip between runs whose calls take about the same
    time."""
    out: list[float] = []
    t_end = time.perf_counter() + seconds
    while not out or time.perf_counter() + stats.median(out) <= t_end:
        t = time.perf_counter()
        step()
        out.append(time.perf_counter() - t)
    return out


# ------------------------------------------------------------ search_http


class SearchHttp:
    """HTTP ``GET /search`` against one SearchService, from closed-loop
    clients: each sends its next request when its last reply is in.
    Latency is timed with one client, throughput with ``nproc``."""

    name = "search_http"
    N_DOCS = 10_000
    SOLO_SHARE = 0.5         # share of the timed region spent with one client
    WARM_REQUESTS = 12       # untimed, one at a time, after the gate's
    WARM_BURST = 16          # untimed, from nproc clients, before throughput
    GATE_QUERIES = 7
    TIMEOUT_S = 30.0
    # Requests drawn per timed phase: far more than a phase can send, so
    # that the inputs never depend on how fast the program is.
    STREAM = 2_000

    def __init__(self) -> None:
        self.max_inflight = len(os.sched_getaffinity(0))

    def prepare(self, ctx: Ctx) -> None:
        self.corpus = gen.corpus(ctx.data, ctx.seed, self.N_DOCS)
        self.warm, self.base, self.burst, self.saturate = gen.request_stream(
            ctx.seed, self.corpus.vocab,
            [self.WARM_REQUESTS, self.STREAM, self.WARM_BURST, self.STREAM],
        )
        rng = gen.stream_rng(ctx.seed, "gate")
        self.gate_queries = [
            terms for terms, _ in gen.query_terms(rng, self.corpus.vocab, self.GATE_QUERIES, 0.0)
        ]
        self.expected = oracles.cached_json(
            os.path.join(self.corpus.path, f"topk-{self.GATE_QUERIES}-{ctx.digest}.json"),
            lambda: oracles.bm25_topk(
                os.path.join(self.corpus.path, "documents.parquet"), self.gate_queries, K
            ),
        )

    def ready(self, ctx: Ctx) -> None:
        from searchengine_spark.serve import SearchService

        self.service = SearchService(ctx.spark, self.corpus.path)

    def _start_server(self, ctx: Ctx) -> None:
        from searchengine_spark.serve import make_http_server

        self.server = make_http_server(self.service, port=0)
        if ctx.tracer is not None:
            _trace_requests(ctx, self.server.RequestHandlerClass)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)

    def _get(self, q: str, fuzzy: bool, rid: str):
        """(ok, hits) of one /search request."""
        query = urllib.parse.urlencode({"q": q, "k": K, "fuzzy": int(fuzzy), "rid": rid})
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.TIMEOUT_S)
        try:
            conn.request("GET", f"/search?{query}")
            resp = conn.getresponse()
            body = resp.read()
            if resp.status != 200:
                return False, None
            return True, json.loads(body)["results"]
        except (OSError, http.client.HTTPException, ValueError):
            return False, None
        finally:
            conn.close()

    def gate(self, ctx: Ctx) -> None:
        """The checked requests, then ``WARM_REQUESTS`` more, all sent one
        at a time: they warm the serving code up before timing. Latency
        falls steeply over the first twenty or so requests and slowly
        after; a fixed count, not a fixed time, leaves every run at the
        same point of that curve however fast the host is."""
        self._start_server(ctx)
        fz = next(r for r in self.base if r.fuzzy)
        reqs = [(" ".join(terms), False, f"gate{i}") for i, terms in enumerate(self.gate_queries)]
        reqs.append((fz.q, True, "gate-fuzzy"))
        replies = [self._get(*r) for r in reqs]
        for (q, fuzzy, _), (ok, hits), want in zip(reqs, replies, self.expected + [None]):
            if not ok:
                raise GateFailure(f"/search {q!r} failed")
            if fuzzy:
                if not hits:
                    raise GateFailure(f"fuzzy /search {q!r} returned no hits")
                continue
            err = oracles.check_topk(hits, want, K)
            if err:
                raise GateFailure(f"/search {q!r}: {err}")
        warm, _ = self._closed_loop(self.warm, float("inf"), rid="w", clients=1)
        if not all(r["ok"] for r in warm):
            raise GateFailure("a warm-up /search request failed")

    def measure(self, ctx: Ctx) -> dict:
        # Latency from one client: a request then has the Spark scheduler
        # to itself and is timed without queueing behind another. Over ten
        # seeds the interquartile range of its median was 5-16% of the
        # median; that of nproc clients was 13-17% over five, and their
        # latency still fell through the timed region after 56 requests
        # of warm-up.
        solo_s = ctx.seconds * self.SOLO_SHARE
        base, _ = self._closed_loop(self.base, solo_s, rid="b", clients=1)
        # Concurrent requests warm up again: over the first eight seconds
        # at nproc clients throughput rose by up to a sixth, so an untimed
        # burst comes first.
        burst, _ = self._closed_loop(self.burst, float("inf"), rid="v")
        sat, sat_s = self._closed_loop(self.saturate, ctx.seconds - solo_s)
        self.timed = base + sat
        self.retained = retained_cache_mb(ctx.spark)
        done = base + burst + sat
        ctx.attempted += len(done)
        ctx.failed += sum(not r["ok"] for r in done)
        lat = [r["latency"] if r["ok"] else self.TIMEOUT_S for r in base]
        sat_lat = [r["latency"] if r["ok"] else self.TIMEOUT_S for r in sat]
        p, tail = stats.tail(lat)
        sent = self.base[: len(base)] + self.saturate[: len(sat)]
        ctx.details["traffic"] = gen.traffic_mix(sent, self.corpus.vocab)
        ctx.details["base"] = {
            "clients": 1,
            "requests": len(base),
            "p50_s": stats.median(lat),
            "tail_pct": p,
            "tail_s": tail,
            "latencies_s": lat,
        }
        ctx.details["saturation"] = {
            "clients": self.max_inflight,
            "requests": len(sat),
            "seconds": sat_s,
            "replies_per_s": sum(r["ok"] for r in sat) / sat_s,
            "mean_latency_s": sum(sat_lat) / len(sat_lat),
            "latencies_s": sat_lat,
        }
        return {
            "op_p50_s": stats.median(lat),
            # Little's law: with a fixed number of requests always in
            # flight, throughput is that number over their mean latency.
            # Unlike a count of replies in a short window it is not
            # rounded to whole replies.
            "throughput_per_s": self.max_inflight / (sum(sat_lat) / len(sat_lat)),
        }

    def verify(self, ctx: Ctx) -> None:
        """The gate checked the served results before timing."""

    def _closed_loop(self, reqs, seconds: float, rid: str = "s",
                     clients: int | None = None) -> tuple[list[dict], float]:
        """``clients`` (default ``max_inflight``) send back to back for
        ``seconds``, or until ``reqs`` run out. Returns the replies, in the
        order they arrived, and the time from start to the last reply.
        Request ``i`` has the id ``f"{rid}{i}"``."""
        lock = threading.Lock()
        nxt = iter(enumerate(reqs))
        out: list[dict] = []
        t0 = time.perf_counter()
        t_end = t0 + seconds

        def client():
            while time.perf_counter() < t_end:
                with lock:
                    i, r = next(nxt, (None, None))
                if r is None:
                    return
                sent = time.perf_counter()
                ok, _ = self._get(r.q, r.fuzzy, f"{rid}{i}")
                done = time.perf_counter()
                with lock:
                    out.append({"rid": f"{rid}{i}", "ok": ok, "latency": done - sent,
                                "sent": sent, "done": done})

        threads = [threading.Thread(target=client) for _ in range(clients or self.max_inflight)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return out, max(r["done"] for r in out) - t0


def _trace_requests(ctx: Ctx, handler_cls) -> None:
    """Give every HTTP request its own span and Spark job group, keyed by
    the ``rid`` query parameter the load generator sends (the server
    ignores parameters it does not know)."""
    orig = handler_cls.do_GET
    tracer = ctx.tracer

    def do_GET(self):  # noqa: N802 — http.server API
        params = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
        rid = (params.get("rid") or ["?"])[0]
        with tracer.span("serve.http", rid=rid):
            ctx.spark.sparkContext.setJobGroup(rid, "request")
            return orig(self)

    handler_cls.do_GET = do_GET


# ------------------------------------------------------------------ batch


class Batch:
    """The offline jobs, repeated in cycles: curate a corpus; build the
    stemmed index of all but its last 1% and materialize it as parquet;
    append that 1% batch onto it; then sweep the registry's join-heavy
    ``tpch_q*`` queries over seeded TPC-H tables, in an order drawn from
    the seed, each result collected to the driver."""

    name = "batch"
    N_DOCS = 3_000
    BATCH_SHARE = 0.01
    TABLES = ("term_frequencies", "doc_lengths", "idf_values", "inverted_index",
              "scoring_params")
    INGEST_OPS = ("curate", "build", "append")
    SF = 0.05
    # Every ``tpch_q*`` query of the registry that joins four or more
    # tables. A cold sweep of all 22 takes more than twice as long and
    # would not fit a run next to Spark's start-up.
    QUERIES = (
        "tpch_q2_min_cost_supplier", "tpch_q5_local_supplier_volume",
        "tpch_q7_volume_shipping", "tpch_q8_market_share",
        "tpch_q9_product_type_profit", "tpch_q10_returned_items",
        "tpch_q11_important_part_value", "tpch_q20_excess_share_suppliers",
    )

    def prepare(self, ctx: Ctx) -> None:
        from searchengine_spark.relational import tpch, tpch_extra

        self.corpus = gen.corpus(ctx.data, ctx.seed, self.N_DOCS)
        self.batch_docs = max(1, int(self.N_DOCS * self.BATCH_SHARE))
        self.first = self.N_DOCS - self.batch_docs     # batch doc_ids start here
        docs = os.path.join(self.corpus.path, "documents.parquet")
        self.curated = oracles.cached_json(
            os.path.join(self.corpus.path, f"curate-{ctx.digest}.json"),
            lambda: oracles.curate_expected(docs),
        )
        # Base + batch is the whole corpus, so the appended index must
        # equal a full rebuild of the corpus.
        self.expected = oracles.cached_json(
            os.path.join(self.corpus.path, f"stemmed-{ctx.digest}.json"),
            lambda: oracles.stemmed_index_stats(docs, {"base": self.first, "full": self.N_DOCS}),
        )
        self.index_dir = os.path.join(ctx.work, "index")

        queries = {**tpch.QUERIES, **tpch_extra.QUERIES}
        sql = {**tpch.ORACLES, **tpch_extra.ORACLES}
        names = sorted(self.QUERIES)
        rng = gen.stream_rng(ctx.seed, "tpch-order")
        self.order = [names[i] for i in rng.permutation(len(names))]
        self.queries = {n: queries[n] for n in names}
        self.tpch_dir = gen.tpch(ctx.data, ctx.seed, self.SF)
        self.tpch_expected = oracles.cached_json(
            os.path.join(self.tpch_dir, f"oracle-{ctx.digest}.json"),
            lambda: oracles.registry_answers(self.tpch_dir, {n: sql[n] for n in names}),
        )

    def ready(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from searchengine_spark.io import load_table

        self.docs = load_table(ctx.spark, self.corpus.path, "documents")
        self.base_docs = self.docs.filter(F.col("doc_id") < self.first)
        self.batch = self.docs.filter(F.col("doc_id") >= self.first)

    def gate(self, ctx: Ctx) -> None:
        """Nothing runs before timing: a batch job pays its warm-up."""
        ctx.details["curate_drops"] = self.curated["verdicts"]
        ctx.details["corpus_kinds"] = self.corpus.kinds
        ctx.details["tpch_order"] = self.order

    def _ingest(self, ctx: Ctx, parts: dict, retained: list):
        """curate, build, append — each timed into ``parts`` and its cache
        released afterwards. Returns the curated doc_ids, the base index
        and the appended index, both read back from parquet."""
        from searchengine_spark import pipeline
        from searchengine_spark.index import builder, incremental

        def timed(part, work):
            t = time.perf_counter()
            with ctx.op(part):
                out = work()
            parts.setdefault(part, []).append(time.perf_counter() - t)
            retained.append(retained_cache_mb(ctx.spark))
            release_all(ctx.spark)
            return out

        def materialize(idx, name):
            """Write the index's tables as parquet and read them back."""
            out = os.path.join(self.index_dir, name)
            for table in self.TABLES:
                getattr(idx, table).write.mode("overwrite").parquet(os.path.join(out, table))
            return builder.InvertedIndex(
                flat_words=idx.flat_words,
                **{t: ctx.spark.read.parquet(os.path.join(out, t)) for t in self.TABLES},
            )

        def curate():
            keep = pipeline.curate(self.docs)
            with ctx.span("pipeline.collect"):
                return keep.collect()

        def build():
            idx = builder.build_index(self.base_docs, stem=True)
            with ctx.span("builder.materialize"):
                return materialize(idx, "base")

        def append():
            idx = incremental.append_to_index(base, self.batch, stem=True)
            with ctx.span("incremental.materialize"):
                return materialize(idx, "appended")

        keep = sorted(r.doc_id for r in timed("curate", curate))
        base = timed("build", build)
        return keep, base, timed("append", append)

    def _sweep(self, ctx: Ctx) -> dict:
        """Each query once, in order: (seconds, columns, rows) by name. The
        registry call builds the plan; ``collect`` runs it."""
        out = {}
        for name in self.order:
            t = time.perf_counter()
            with ctx.op("relational.query") as s:
                with ctx.span("relational.plan"):
                    df = self.queries[name](ctx.spark, self.tpch_dir)
                rows = df.collect()
            out[name] = (time.perf_counter() - t, df.columns, rows)
            if s is not None:
                self.query_of[s.rid] = name
        release_all(ctx.spark)
        return out

    def measure(self, ctx: Ctx) -> dict:
        parts: dict[str, list[float]] = {}
        retained: list[float] = []
        self.sweeps: list[dict] = []
        self.query_of: dict[str, str] = {}

        def cycle():
            self.outputs = self._ingest(ctx, parts, retained)
            ctx.attempted += len(self.INGEST_OPS)
            if self.outputs[0] != self.curated["keep"]:
                ctx.failed += 1
            t = time.perf_counter()
            self.sweeps.append(self._sweep(ctx))
            parts.setdefault("tpch", []).append(time.perf_counter() - t)
            ctx.attempted += len(self.order)

        timed_loop(ctx.seconds, cycle)
        ingest_s = [sum(c) for c in zip(*(parts[op] for op in self.INGEST_OPS))]
        ctx.details["cycles"] = len(ingest_s)
        ctx.details["ops_s"] = parts
        ctx.details["docs_per_s"] = {
            "curate": self.N_DOCS / stats.median(parts["curate"]),
            "build": self.first / stats.median(parts["build"]),
            "append": self.batch_docs / stats.median(parts["append"]),
        }
        ctx.details["query_s"] = [{n: r[0] for n, r in s.items()} for s in self.sweeps]
        self.retained = retained
        # Two disjoint parts of a cycle: the text ingestion (curate, build,
        # append) and the relational sweep, so that a change to one moves
        # only its own metric.
        return {
            "op_p50_s": stats.median(ingest_s),
            "throughput_per_s": len(self.order) / stats.median(parts["tpch"]),
        }

    def verify(self, ctx: Ctx) -> None:
        """Every cycle's keep-list was compared with the oracle's; check the
        last cycle's materialized base index, and base + appended batch,
        which is the whole corpus and so must equal its full rebuild. Every
        query of every sweep must match its registry oracle on row count,
        columns and the hash of its values."""
        if ctx.failed:
            raise GateFailure(f"{ctx.failed} curate keep-lists differ from the oracle")
        _, base, appended = self.outputs
        _check_index("stemmed base index", base, self.expected["base"])
        _check_index("base index + appended batch", appended, self.expected["full"])
        bad = []
        for sweep in self.sweeps:
            for name, (_, columns, rows) in sweep.items():
                got = oracles.value_hash(columns, [tuple(r) for r in rows])
                want = self.tpch_expected[name]
                if got != want:
                    ctx.failed += 1
                    bad.append(f"{name}: {got['rows']} rows {got['columns']}, "
                               f"oracle {want['rows']} rows {want['columns']}")
        if bad:
            raise GateFailure("; ".join(bad[:5]))

    def dedup_chain(self, ctx: Ctx) -> dict:
        """Untimed: how many LSH candidate pairs the near-duplicate stage
        verifies, and what share of them pass the Jaccard cut."""
        from pyspark.sql import functions as F

        from searchengine_spark import pipeline

        with ctx.op("dedup_chain"):
            sh = pipeline.shingle_frame(self.docs)
            bands = pipeline.minhash_bands(shingles=sh)
            pairs = pipeline.neardup_candidate_pairs(bands, max_bucket=pipeline.CURATE_MAX_BUCKET)
            jac = pipeline.jaccard_pairs(None, pairs, shingles=sh)
            n_pairs = pairs.count()
            n_ok = jac.filter(F.col("jaccard") >= pipeline.JACCARD_CUT).count()
        release_all(ctx.spark)
        return {"dedup.candidate_pairs": n_pairs,
                "dedup.verified_share": n_ok / n_pairs if n_pairs else 0.0}


def _index_facts(idx) -> dict:
    """An index's size and document frequencies, as the oracle gives them."""
    from pyspark.sql import functions as F

    return {
        "n_docs": idx.scoring_params.collect()[0]["n_docs"],
        "sum_tf": idx.term_frequencies.agg(F.sum("term_freq")).collect()[0][0],
        "doc_freq": oracles.value_hash(
            ["word", "doc_freq"],
            [tuple(r) for r in idx.idf_values.select("word", "doc_freq").collect()],
        ),
    }


def _check_index(what: str, idx, want: dict) -> None:
    got = _index_facts(idx)
    if got != want:
        raise GateFailure(f"{what}: {got} != oracle {want}")


WORKLOADS = {w.name: w for w in (SearchHttp, Batch)}
