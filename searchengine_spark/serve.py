"""Long-lived interactive serving over the cached index.

The reference is, end to end, a served app: a Streamlit loop that
takes a query, scores it against pre-built index frames, and prints
top-10 results with truncated document text
(/root/reference/pyapp.py:82-121; devcontainer runs
`streamlit run pyapp.py`). This module is that user experience on the
Spark engine without the Streamlit dependency: build + cache the
serving tables ONCE (the reference's offline-build /
interactive-query architecture), then answer queries from the warm
cache — as a stdlib-only HTTP JSON endpoint and/or a terminal REPL.

Everything that does not depend on the query is computed once and
cached: each posting's BM25 contribution (term scores, from
bm25.term_scores — the one BM25 formula) and each doc's snippet.
Serving path per query: tokenize driver-side (tiny), filter the
cached term scores to the query terms, sum per doc and take the
top-k (bm25.top_k; one Spark job, no shuffle — the table is
partitioned on doc_id), then look the ≤k hit ids up in the cached
snippet table and highlight them (one more job; not the reference's
N+1 per-hit collect loop — pyapp.py:110-114). No request scans the
documents or joins idf, |d| or avgdl. Measured with perfbench
(search_http, 10k docs, 4-CPU VM): ~2.3 Spark jobs, no shuffle and a
median of ~0.27 s per warm request from one client.

Usage:
    python -m searchengine_spark.serve --sf-dir /root/testdata/sf0.01 --port 8765
    python -m searchengine_spark.serve --sf-dir ... --repl
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession

# Upper bound on requested result-list size for both HTTP endpoints:
# k drives a post-limit collect, so an unbounded k is an unbounded
# driver materialization — clamp, don't trust the client.
MAX_K = 100


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
        # The three tables a request reads, cached at few partitions:
        # interactive queries are task-scheduling-bound (see
        # InvertedIndex.coalesce). Nothing query-independent is left
        # for a request to recompute — no idf / |d| / avgdl join, no
        # scan of the documents.
        #   term scores (word, doc_id, term_score): BM25 per posting,
        #       hash-partitioned on doc_id, so a query's per-doc sum
        #       needs no shuffle and its top-k is a single job
        #   snippets    (doc_id, snippet)
        #   vocabulary  (word, doc_freq): fuzzy correction only
        idf = index.idf_values.select("word", "idf")
        self._term_scores = (
            term_scores(index, index.term_frequencies, idf)
            .repartition(4, "doc_id")
            .cache()
        )
        self._snippets = (
            snippet_table(docs, max_len=snippet_len).coalesce(4).cache()
        )
        self._vocab = (
            index.idf_values.select("word", "doc_freq").coalesce(4).cache()
        )
        # embeddings power /similar; optional in custom datasets
        import os

        from searchengine_spark.io import table_path

        self._emb = None
        if os.path.exists(table_path(sf_dir, "embeddings")):
            self._emb = (
                load_table(spark, sf_dir, "embeddings").coalesce(4).cache()
            )
        # The one eager step: tokenize the corpus into build_index's
        # token cache (scoring_params reads |d| off it). The tables
        # above are built by the first request that reads them — tf,
        # idf, the term scores and the snippets by the first /search,
        # the vocabulary by the first fuzzy one — so those requests
        # are seconds slower (measured cold on 10k docs, 4 CPUs: ~5-6
        # s here, then ~5 s for the first /search and ~3 s for the
        # first fuzzy one). Building them here would only move that
        # cost into start-up.
        index.scoring_params.collect()

    def _top_k(self, terms: list[str], k: int):
        """Top-k (doc_id, total_score) over the cached term scores."""
        from pyspark.sql import functions as F

        from searchengine_spark.index.bm25 import top_k

        return top_k(self._term_scores.filter(F.col("word").isin(terms)), k)

    def _with_snippets(self, hits, terms=None) -> list[tuple]:
        """(doc_id, score, snippet) of each row of ``hits`` (doc_id,
        score; at most MAX_K rows, in rank order), snippets optionally
        highlighted. The snippet join is a lookup of the hit ids in
        the cached snippet table: no shuffle, and nothing of the
        table leaves the executors but the hits' own snippets."""
        from pyspark.sql import functions as F

        from searchengine_spark.index.bm25 import highlight

        ranked = hits.collect()  # k rows, post-limit
        if not ranked:
            return []
        snips = self._snippets.filter(
            F.col("doc_id").isin([r[0] for r in ranked])
        )
        if terms:
            snips = highlight(snips, "snippet", terms)
        text = dict(snips.collect())
        return [(r[0], r[1], text.get(r[0])) for r in ranked]

    def query(
        self, q: str, k: int = 10, *, fuzzy: bool = False
    ) -> list[dict[str, Any]]:
        """Top-k hits with highlighted snippets, as plain dicts.

        ``fuzzy``: query terms missing from the vocabulary are
        replaced by their closest in-vocabulary suggestion (distance
        then doc_freq) before scoring — typo tolerance the reference
        lacks (its unknown terms silently contribute nothing)."""
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
        if fuzzy and terms:
            from searchengine_spark.index.phrase import correct_terms

            terms, _ = correct_terms(self._vocab, terms)
            # Highlight the terms actually SEARCHED, each on its own:
            # a raw substring rewrite of q would miss case variants
            # ('Sparkk' vs the lowercased correction key) and corrupt
            # words that merely contain the typo as a substring.
            highlight_terms = terms
        if not terms:
            return []
        return [
            {"doc_id": d, "total_score": round(float(s), 6), "snippet": t}
            for d, s, t in self._with_snippets(
                self._top_k(terms, k), highlight_terms
            )
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
            lists.append(
                _ranked(self._top_k(terms, FUSE_N), "total_score", "doc_id", FUSE_N)
            )
        fused = (
            rrf_fuse(lists)
            .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
            .limit(k)
        )
        return [
            {"doc_id": d, "rrf_score": round(float(s), 6), "snippet": t}
            for d, s, t in self._with_snippets(fused)
        ]


def make_http_server(service: SearchService, port: int = 0):
    """stdlib ThreadingHTTPServer: GET /search?q=...&k=10 -> JSON hits;
    GET /healthz -> ok. Returns the (not yet serving) server object so
    callers control the serve_forever lifecycle (tests run it in a
    thread; __main__ blocks on it)."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 — http.server API
            url = urlparse(self.path)
            if url.path == "/healthz":
                self._reply(200, {"status": "ok"})
                return
            if url.path == "/similar":
                params = parse_qs(url.query)
                try:
                    doc_id = int((params.get("doc_id") or [""])[0])
                except ValueError:
                    self._reply(400, {"error": "doc_id must be an integer"})
                    return
                # parse/validate k BEFORE the serving try: a malformed k
                # is a client error (400), never a 500
                try:
                    k = int((params.get("k") or ["10"])[0])
                except ValueError:
                    self._reply(400, {"error": "k must be an integer"})
                    return
                if k < 1:
                    self._reply(400, {"error": "k must be >= 1"})
                    return
                k = min(k, MAX_K)  # bounded collect is the serving contract
                q = (params.get("q") or [None])[0]
                try:
                    self._reply(
                        200,
                        {
                            "doc_id": doc_id,
                            "results": service.similar(doc_id, q=q, k=k),
                        },
                    )
                except ValueError as exc:
                    # unknown doc_id (or a dataset without embeddings):
                    # the resource does not exist — 404, not 500
                    self._reply(404, {"error": str(exc)[:300]})
                except Exception as exc:  # noqa: BLE001 — keep serving
                    self._reply(
                        500, {"error": f"{type(exc).__name__}: {exc}"[:300]}
                    )
                return
            if url.path != "/search":
                self._reply(
                    404, {"error": "unknown path; use /search?q=... or /similar?doc_id=..."}
                )
                return
            params = parse_qs(url.query)
            q = (params.get("q") or [""])[0]
            try:
                k = int((params.get("k") or ["10"])[0])
            except ValueError:
                self._reply(400, {"error": "k must be an integer"})
                return
            if k < 1:
                self._reply(400, {"error": "k must be >= 1"})
                return
            k = min(k, MAX_K)
            if not q:
                self._reply(400, {"error": "missing query parameter q"})
                return
            fuzzy = (params.get("fuzzy") or ["0"])[0] in ("1", "true", "yes")
            try:
                self._reply(
                    200,
                    {"query": q, "results": service.query(q, k=k, fuzzy=fuzzy)},
                )
            except Exception as exc:  # noqa: BLE001 — a bad query must not kill the server
                self._reply(500, {"error": f"{type(exc).__name__}: {exc}"[:300]})

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
