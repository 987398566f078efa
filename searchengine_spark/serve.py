"""Long-lived interactive serving over an index Spark builds once.

The reference is, end to end, a served app: a Streamlit loop that
takes a query, scores it against pre-built index frames, and prints
top-10 results with truncated document text
(/root/reference/pyapp.py:82-121; devcontainer runs
`streamlit run pyapp.py`). Its serving apps score in memory (pandas
in pyapp.py, rank_bm25 in app.py): Spark's job is to build the index,
not to answer each request. This module is that user experience
without the Streamlit dependency, as a stdlib-only HTTP JSON endpoint
and/or a terminal REPL.

Spark builds one in-memory serving shard (ServingShard), once, from
bm25.term_scores (each posting's BM25 contribution — the one BM25
formula), bm25.snippet_table and the index's (word, doc_freq)
vocabulary, pulled over Arrow into per-term (doc_ids, scores) numpy
arrays, a doc_id -> snippet dict, and the vocabulary with a
per-word letter-count matrix. The first request that needs the shard
builds it, under a lock; start-up does not (see __init__).

A warm /search runs no Spark job: tokenize, sum the distinct query
terms' scores per doc, take the top-k by (score desc, doc_id asc),
then highlight each hit's snippet with the pattern bm25.highlight
uses. Fuzzy mode first replaces each unknown term by its closest
vocabulary word, as phrase.correct_terms does. The Spark functions
stay the parity reference (tests/test_serve.py). /similar still runs
its cosine list in Spark over the cached embeddings.

Measured on the perfbench search_http corpus (seed 1, 10k docs, 4-CPU
VM): the shard holds 352,555 postings over 24,673 terms, 7.9 MB of
arrays (5.4 MB of postings, the rest the letter counts). The first
request builds it in ~7 s, most of that Spark computing the three
tables. Over ten runs, a warm request's p50 from one client fell
from 0.254 s (2.27 Spark jobs a request, driver time dominated by
planning and scheduling them) to 0.0019 s, and four clients' replies
rose from 8.8/s to 430/s. Warm fuzzy requests took ~14 ms at the
median over queries whose every term needed correcting.

Scale shape (not built): the build hash-shards the term scores by
doc_id into S serving processes, one shard each; the exact global
top-k is the merge of the per-shard top-k lists, the local-index +
global-merge shape of REPOSE (ICDE 2021). Here S = 1. What bounds a
shard is the Arrow pull: it is a collect, capped by Spark's
spark.driver.maxResultSize (1g by default), and a shard above the
cap fails its build loudly instead of serving a partial index.

Usage:
    python -m searchengine_spark.serve --sf-dir /root/testdata/sf0.01 --port 8765
    python -m searchengine_spark.serve --sf-dir ... --repl
"""

from __future__ import annotations

import bisect
import json
import threading
import time
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession

# Upper bound on requested result-list size for both HTTP endpoints:
# k is the size of the reply (and of /similar's Spark collect), so
# clamp it, don't trust the client.
MAX_K = 100

# Fuzzy correction's edit-distance limit (phrase.correct_terms'
# default).
MAX_EDIT_DISTANCE = 2

# Upper bounds, in seconds, of the /metrics latency histogram's
# buckets; one more bucket counts the slower replies.
LATENCY_BUCKETS_S = (
    0.001, 0.0025, 0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0
)

# Letter-count columns of the fuzzy pre-filter: a-z, then one for
# every other character (merging characters keeps the bound below).
_N_LETTERS = 27


def _letter_counts(words: list[str]) -> np.ndarray:
    """(len(words), _N_LETTERS) int32 counts of each word's letters."""
    lengths = np.fromiter(map(len, words), dtype=np.int64, count=len(words))
    cps = np.frombuffer("".join(words).encode("utf-32-le"), dtype=np.uint32)
    cols = np.where((cps >= 97) & (cps <= 122), cps - 97, _N_LETTERS - 1)
    rows = np.repeat(np.arange(len(words)), lengths)
    counts = np.bincount(
        rows * _N_LETTERS + cols, minlength=len(words) * _N_LETTERS
    )
    return counts.reshape(len(words), _N_LETTERS).astype(np.int32)


def _levenshtein(a: str, b: str) -> int:
    """Edit distance over code points, as Spark's levenshtein counts."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class ServingShard:
    """Everything a /search reads, in driver memory.

    Built from three Spark frames, each pulled once over Arrow:
    ``term_scores`` (word, doc_id, term_score), ``snippets`` (doc_id,
    snippet) and ``vocabulary`` (word, doc_freq). Nothing here runs a
    Spark job after the constructor returns."""

    def __init__(
        self, term_scores: DataFrame, snippets: DataFrame, vocabulary: DataFrame
    ) -> None:
        t0 = time.perf_counter()
        ts = term_scores.toArrow()
        self.doc_id_type = term_scores.schema["doc_id"].dataType
        # Group the postings by term: sort by the term's dictionary
        # code, then slice. Each term's arrays are views of two arrays.
        words = ts.column("word").combine_chunks().dictionary_encode()
        codes = words.indices.to_numpy()
        order = np.argsort(codes, kind="stable")
        self._ids = ts.column("doc_id").to_numpy()[order]
        self._scores = ts.column("term_score").to_numpy()[order]
        ends = np.cumsum(np.bincount(codes, minlength=len(words.dictionary)))
        starts = np.concatenate(([0], ends[:-1]))
        self._postings = {
            w: (self._ids[a:b], self._scores[a:b])
            for w, a, b in zip(
                words.dictionary.to_pylist(), starts.tolist(), ends.tolist()
            )
        }
        snip = snippets.toArrow()
        self.snippets: dict[Any, str | None] = dict(
            zip(snip.column("doc_id").to_pylist(), snip.column("snippet").to_pylist())
        )
        voc = vocabulary.toArrow()
        self._words: list[str] = voc.column("word").to_pylist()
        self._doc_freq: list[int] = voc.column("doc_freq").to_pylist()
        self._known = set(self._words)
        self._letters = _letter_counts(self._words)
        self.build_s = time.perf_counter() - t0

    def shape(self) -> dict[str, Any]:
        nbytes = self._ids.nbytes + self._scores.nbytes + self._letters.nbytes
        return {
            "postings": len(self._ids),
            "terms": len(self._postings),
            "mb": round(nbytes / 2**20, 3),
            "build_s": round(self.build_s, 3),
        }

    def top_k(self, terms: list[str], k: int) -> list[tuple[Any, float]]:
        """bm25.top_k over the terms' postings: (doc_id, total_score),
        score desc, ties by doc_id asc. A repeated term counts once,
        as the Spark path's ``isin`` filter counts it."""
        from searchengine_spark.io import check_top_k

        check_top_k(k)
        hit = [self._postings[t] for t in dict.fromkeys(terms) if t in self._postings]
        if not hit:
            return []
        ids, inverse = np.unique(
            np.concatenate([h[0] for h in hit]), return_inverse=True
        )
        sums = np.bincount(inverse, weights=np.concatenate([h[1] for h in hit]))
        # ids is ascending, so a stable sort on -score breaks ties by
        # doc_id
        top = np.argsort(-sums, kind="stable")[:k]
        return list(zip(ids[top].tolist(), sums[top].tolist()))

    def correct(self, terms: list[str]) -> list[str]:
        """phrase.correct_terms' terms to search: each term missing
        from the vocabulary is replaced by the word of lowest
        (distance, -doc_freq, word) within MAX_EDIT_DISTANCE, or
        dropped if there is none."""
        out = []
        for t in terms:
            best = t if t in self._known else self._suggest(t)
            if best is not None:
                out.append(best)
        return out

    def _suggest(self, term: str) -> str | None:
        # Bag distance (the larger of the letters only one side has)
        # is a lower bound on edit distance and implies |len diff| <=
        # it, so only the words it passes need an exact Levenshtein.
        diff = self._letters - _letter_counts([term])[0]
        bag = np.maximum(np.maximum(diff, 0).sum(1), np.maximum(-diff, 0).sum(1))
        keys = []
        for i in np.flatnonzero(bag <= MAX_EDIT_DISTANCE).tolist():
            word = self._words[i]
            d = _levenshtein(term, word)
            if d <= MAX_EDIT_DISTANCE:
                keys.append((d, -self._doc_freq[i], word))
        return min(keys)[2] if keys else None


class SearchService:
    """Build-once/query-many façade over the index + serving helpers."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        *,
        stem: bool = False,
        snippet_len: int = 200,
        multilingual: bool = False,
    ) -> None:
        from searchengine_spark.index.bm25 import snippet_table, term_scores
        from searchengine_spark.index.builder import build_index
        from searchengine_spark.io import load_table

        self._stem = stem
        self._multilingual = multilingual
        docs = load_table(spark, sf_dir, "documents")
        if multilingual:
            if stem:
                raise ValueError(
                    "stem applies to the English Porter pipeline; the "
                    "multilingual index routes per-language instead"
                )
            # Language-routed index (text/multilingual.py): NFC +
            # langid + per-language stopwords + CJK bigrams. Snippets
            # still render from the ORIGINAL text — normalization is
            # a matching key, not a display rewrite.
            from pyspark.sql import functions as F

            from searchengine_spark.text.multilingual import routed_frame

            routed = routed_frame(docs).select("doc_id", "words")
            index = build_index(routed, tokens=F.col("words"))
        else:
            index = build_index(docs, stem=stem)
        # What the serving shard is built from, as lazy plans.
        idf = index.idf_values.select("word", "idf")
        self._shard_sources = (
            term_scores(index, index.term_frequencies, idf),
            snippet_table(docs, max_len=snippet_len),
            index.idf_values.select("word", "doc_freq"),
        )
        self._shard: ServingShard | None = None
        self._shard_lock = threading.Lock()
        # embeddings power /similar; optional in custom datasets
        import os

        from searchengine_spark.io import table_path

        self._emb = None
        if os.path.exists(table_path(sf_dir, "embeddings")):
            self._emb = (
                load_table(spark, sf_dir, "embeddings").coalesce(4).cache()
            )
        # The one eager step: tokenize the corpus into build_index's
        # token cache (scoring_params reads |d| off it). The serving
        # shard is built by the first request that needs it, which is
        # that much slower. Measured on the seed-1 10k-doc corpus, 4
        # CPUs: ~5.9 s here; building the shard here as well took
        # ~11.8 s, adding ~6 s to start-up.
        index.scoring_params.collect()

    def _serving_shard(self) -> ServingShard:
        """The serving shard, built by the first caller; callers that
        arrive during the build wait for it."""
        shard = self._shard
        if shard is None:
            with self._shard_lock:
                if self._shard is None:
                    self._shard = ServingShard(*self._shard_sources)
                shard = self._shard
        return shard

    def shard_shape(self) -> dict[str, Any]:
        """The serving shard's postings, terms, MB and build seconds;
        all None until a request has built it."""
        shard = self._shard
        if shard is None:
            return dict.fromkeys(("postings", "terms", "mb", "build_s"))
        return shard.shape()

    def query(
        self, q: str, k: int = 10, *, fuzzy: bool = False
    ) -> list[dict[str, Any]]:
        """Top-k hits with highlighted snippets, as plain dicts.

        ``fuzzy``: query terms missing from the vocabulary are
        replaced by their closest in-vocabulary suggestion (distance
        then doc_freq) before scoring — typo tolerance the reference
        lacks (its unknown terms silently contribute nothing)."""
        from searchengine_spark.index.bm25 import highlight_text
        from searchengine_spark.text.tokenizer import tokenize_query

        highlight_terms = [q]
        if self._multilingual:
            if fuzzy:
                raise ValueError(
                    "fuzzy correction is vocabulary-keyed to the English "
                    "pipeline; not combinable with the routed index"
                )
            from searchengine_spark.text.multilingual import (
                routed_query_terms,
            )

            terms = routed_query_terms(q)
            # every routed term (CJK bigrams included) is a literal
            # substring of the original text, so highlight matches it
            highlight_terms = terms
        else:
            terms = tokenize_query(q, stem=self._stem)
        shard = self._serving_shard()
        if fuzzy and terms:
            terms = shard.correct(terms)
            # Highlight the terms actually SEARCHED, each on its own:
            # a raw substring rewrite of q would miss case variants
            # ('Sparkk' vs the lowercased correction key) and corrupt
            # words that merely contain the typo as a substring.
            highlight_terms = terms
        if not terms:
            return []
        return [
            {
                "doc_id": d,
                "total_score": round(s, 6),
                "snippet": highlight_text(shard.snippets.get(d), highlight_terms),
            }
            for d, s in shard.top_k(terms, k)
        ]

    def similar(
        self, doc_id: int, q: str | None = None, k: int = 10
    ) -> list[dict[str, Any]]:
        """More-like-this: embedding neighbors of ``doc_id``, optionally
        RRF-fused with a BM25 keyword list (index/hybrid.py) — "find
        docs like this one, about <terms>". Brute cosine is the right
        serving shape at cached-table scale; at 100 TB swap the
        semantic list for the IVF probe (operators/ann.py) — the
        fusion contract is rank lists, so nothing else changes."""
        from pyspark.sql import functions as F

        from searchengine_spark.index.hybrid import FUSE_N, _ranked, rrf_fuse
        from searchengine_spark.operators.similarity import cosine_expr
        from searchengine_spark.text.tokenizer import tokenize_query

        if self._emb is None:
            raise ValueError("no embeddings table in this dataset")
        qv = self._emb.filter(F.col("vec_id") == doc_id).select(
            F.col("embedding").alias("qvec")
        )
        if not qv.take(1):
            raise ValueError(f"unknown doc_id {doc_id}")
        shard = self._serving_shard()
        sem_scores = (
            self._emb.filter(F.col("vec_id") != doc_id)
            .crossJoin(F.broadcast(qv))
            .select(
                F.col("vec_id").alias("doc_id"),
                F.round(
                    cosine_expr(F.col("embedding"), F.col("qvec")), 6
                ).alias("cosine"),
            )
        )
        lists = [_ranked(sem_scores, "cosine", "doc_id", FUSE_N)]
        # A query with no index terms fuses an empty list: it adds
        # nothing to any doc's RRF score, so it is left out.
        terms = tokenize_query(q, stem=self._stem) if q else []
        if terms:
            keyword = self._emb.sparkSession.createDataFrame(
                shard.top_k(terms, FUSE_N),
                f"doc_id {shard.doc_id_type.simpleString()}, total_score double",
            )
            lists.append(_ranked(keyword, "total_score", "doc_id", FUSE_N))
        fused = (
            rrf_fuse(lists)
            .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
            .limit(k)
        )
        return [
            {"doc_id": d, "rrf_score": round(float(s), 6), "snippet": shard.snippets.get(d)}
            for d, s in fused.collect()
        ]


class RequestMetrics:
    """Request and error counts and a latency histogram per endpoint
    (a fuzzy /search is its own endpoint), served by GET /metrics.
    Recording a request takes the lock once."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._endpoints: dict[str, dict[str, Any]] = {}

    def record(self, endpoint: str, status: int, seconds: float) -> None:
        bucket = bisect.bisect_left(LATENCY_BUCKETS_S, seconds)
        with self._lock:
            m = self._endpoints.get(endpoint)
            if m is None:
                m = self._endpoints[endpoint] = {
                    "requests": 0,
                    "errors": 0,
                    "latency_s_sum": 0.0,
                    "latency_hist": [0] * (len(LATENCY_BUCKETS_S) + 1),
                }
            m["requests"] += 1
            m["errors"] += status >= 400
            m["latency_s_sum"] += seconds
            m["latency_hist"][bucket] += 1

    def snapshot(self) -> dict[str, dict[str, Any]]:
        with self._lock:
            return {
                e: {**m, "latency_hist": list(m["latency_hist"])}
                for e, m in self._endpoints.items()
            }


class _BadRequest(Exception):
    """A malformed request parameter: a 400 reply carrying the message."""


def _int_param(params: dict, name: str, default: str = "") -> int:
    try:
        return int((params.get(name) or [default])[0])
    except ValueError:
        raise _BadRequest(f"{name} must be an integer") from None


def _k_param(params: dict) -> int:
    k = _int_param(params, "k", "10")
    if k < 1:
        raise _BadRequest("k must be >= 1")
    return min(k, MAX_K)  # bounded reply is the serving contract


def _fuzzy_param(params: dict) -> bool:
    return (params.get("fuzzy") or ["0"])[0] in ("1", "true", "yes")


def make_http_server(service: SearchService, port: int = 0):
    """stdlib ThreadingHTTPServer: GET /search?q=...&k=10 -> JSON hits;
    GET /similar?doc_id=... -> JSON neighbors; GET /metrics -> JSON
    counters; GET /healthz -> ok. Returns the (not yet serving) server
    object so callers control the serve_forever lifecycle (tests run
    it in a thread; __main__ blocks on it)."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    metrics = RequestMetrics()

    def search(params: dict) -> tuple[int, dict]:
        q = (params.get("q") or [""])[0]
        k = _k_param(params)
        if not q:
            raise _BadRequest("missing query parameter q")
        return 200, {"query": q, "results": service.query(q, k=k, fuzzy=_fuzzy_param(params))}

    def similar(params: dict) -> tuple[int, dict]:
        doc_id = _int_param(params, "doc_id")
        k = _k_param(params)
        q = (params.get("q") or [None])[0]
        try:
            return 200, {"doc_id": doc_id, "results": service.similar(doc_id, q=q, k=k)}
        except ValueError as exc:
            # unknown doc_id (or a dataset without embeddings): the
            # resource does not exist — 404, not 500
            return 404, {"error": str(exc)[:300]}

    routes = {
        "/healthz": lambda params: (200, {"status": "ok"}),
        "/metrics": lambda params: (
            200,
            {
                "latency_buckets_s": list(LATENCY_BUCKETS_S),
                "endpoints": metrics.snapshot(),
                "shard": service.shard_shape(),
            },
        ),
        "/search": search,
        "/similar": similar,
    }

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 — http.server API
            t0 = time.perf_counter()
            url = urlparse(self.path)
            params = parse_qs(url.query)
            route = routes.get(url.path)
            endpoint = url.path if route else "other"
            if url.path == "/search" and _fuzzy_param(params):
                endpoint = "/search?fuzzy=1"
            try:
                code, payload = (
                    route(params)
                    if route
                    else (404, {"error": "unknown path; use /search?q=..., "
                                "/similar?doc_id=..., /metrics or /healthz"})
                )
            except _BadRequest as exc:
                code, payload = 400, {"error": str(exc)}
            except Exception as exc:  # noqa: BLE001 — a failing request must not kill the server
                code, payload = 500, {"error": f"{type(exc).__name__}: {exc}"[:300]}
            self._reply(code, payload)
            metrics.record(endpoint, code, time.perf_counter() - t0)

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args) -> None:  # quiet test output
            pass

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)


def repl(service: SearchService) -> None:
    """Terminal loop mirroring the Streamlit input->results flow."""
    while True:
        try:
            q = input("search> ").strip()
        except EOFError:
            return
        if q in ("", ":q", "exit", "quit"):
            return
        for hit in service.query(q):
            print(f"doc {hit['doc_id']:>8}  score {hit['total_score']:.4f}  {hit['snippet'][:120]}")


def main() -> None:
    import argparse

    from searchengine_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--port", type=int, default=8765)
    ap.add_argument("--stem", action="store_true")
    ap.add_argument("--repl", action="store_true")
    ap.add_argument(
        "--multilingual",
        action="store_true",
        help="serve the language-routed index (NFC + langid + "
        "per-language stopwords + CJK bigrams)",
    )
    args = ap.parse_args()

    spark = get_spark("searchengine-serve")
    service = SearchService(
        spark, args.sf_dir, stem=args.stem, multilingual=args.multilingual
    )
    if args.repl:
        repl(service)
    else:
        server = make_http_server(service, port=args.port)
        print(f"serving on http://127.0.0.1:{server.server_address[1]}/search?q=...")
        server.serve_forever()


if __name__ == "__main__":
    main()
