"""The serving entry point: start the HTTP loop, query it, check a
highlighted snippet comes back — the reference's end-to-end user
experience (pyapp.py input -> results -> text) on the Spark engine."""

import json
import threading
import urllib.request

import pytest

# The serving path is the paper's user path (tokenize -> BM25 top-k ->
# snippet); the smoke tier covers it.
pytestmark = pytest.mark.smoke

PARITY_QUERIES = ["spark join window", "data", "hash merge fast", "Spark, JOIN!"]


@pytest.fixture(scope="module")
def service(spark, sf_dir):
    from searchengine_spark.serve import SearchService

    return SearchService(spark, sf_dir)


def _get(port, path):
    import urllib.error

    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:  # 4xx/5xx still carry JSON bodies
        return e.code, json.loads(e.read())


def test_http_serving_loop_end_to_end(service):
    from searchengine_spark.serve import make_http_server

    server = make_http_server(service, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        status, health = _get(port, "/healthz")
        assert (status, health) == (200, {"status": "ok"})

        status, payload = _get(port, "/search?q=spark&k=3")
        assert status == 200
        results = payload["results"]
        assert 0 < len(results) <= 3
        top = results[0]
        assert set(top) == {"doc_id", "total_score", "snippet"}
        # snippet text present and the literal query highlighted
        assert top["snippet"]
        assert "<mark>spark</mark>" in top["snippet"]
        scores = [r["total_score"] for r in results]
        assert scores == sorted(scores, reverse=True)

        # warm-cache serving: repeated queries reuse the index (no error,
        # same answer)
        status2, payload2 = _get(port, "/search?q=spark&k=3")
        assert status2 == 200 and payload2["results"] == results

        assert _get(port, "/search?k=3")[0] == 400  # missing q
    finally:
        server.shutdown()
        server.server_close()


def test_service_query_empty_and_unknown_terms(service):
    assert service.query("the a") == []  # stopword-only
    assert service.query("zzzzunknown") == []  # out-of-vocab


def test_fuzzy_param_corrects_typos(service):
    from searchengine_spark.serve import make_http_server

    server = make_http_server(service, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        # 'sparkk' is out-of-vocabulary: strict search returns nothing,
        # fuzzy corrects it to 'spark' and returns the same hits
        status, strict = _get(port, "/search?q=sparkk&k=3")
        assert status == 200 and strict["results"] == []
        status, fuzzy = _get(port, "/search?q=sparkk&k=3&fuzzy=1")
        assert status == 200 and len(fuzzy["results"]) > 0
        status, plain = _get(port, "/search?q=spark&k=3")
        assert [r["doc_id"] for r in fuzzy["results"]] == [
            r["doc_id"] for r in plain["results"]
        ]
    finally:
        server.shutdown()
        server.server_close()


def test_similar_endpoint_hybrid_more_like_this(service):
    from searchengine_spark.serve import make_http_server

    server = make_http_server(service, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        status, payload = _get(port, "/similar?doc_id=0&k=5")
        assert status == 200
        results = payload["results"]
        assert 0 < len(results) <= 5
        assert set(results[0]) == {"doc_id", "rrf_score", "snippet"}
        assert all(r["doc_id"] != 0 for r in results)  # anchor excluded
        scores = [r["rrf_score"] for r in results]
        assert scores == sorted(scores, reverse=True)

        # keyword-constrained: fusing a BM25 list changes/filters ranks
        status2, p2 = _get(port, "/similar?doc_id=0&q=spark&k=5")
        assert status2 == 200 and 0 < len(p2["results"]) <= 5

        assert _get(port, "/similar?doc_id=abc")[0] == 400
        assert _get(port, "/similar?doc_id=0&k=abc")[0] == 400
        assert _get(port, "/similar?doc_id=0&k=0")[0] == 400
        assert _get(port, "/similar?doc_id=99999999")[0] == 404  # unknown id
        # unbounded k clamps to MAX_K instead of an unbounded collect
        status3, p3 = _get(port, "/similar?doc_id=0&k=100000")
        from searchengine_spark.serve import MAX_K

        assert status3 == 200 and len(p3["results"]) <= MAX_K
        assert _get(port, "/search?q=spark&k=0")[0] == 400
    finally:
        server.shutdown()
        server.server_close()


def test_multilingual_service_routed_queries(spark, sf_dir):
    """Routed serving mode: the index is built from the language-
    routed token stream; query terms go through routed_query_terms
    (union-stopword drop + CJK bigrams). On the ASCII corpus the
    English path still answers; a CJK query returns empty instead of
    erroring; fuzzy is vocabulary-keyed to the English pipeline and
    must refuse."""
    import pytest as _pytest

    from searchengine_spark.serve import SearchService

    svc = SearchService(spark, sf_dir, multilingual=True)
    hits = svc.query("data processing system", k=5)
    assert hits and all("snippet" in h for h in hits)
    assert svc.query("機械学習", k=5) == []  # no CJK docs in testdata
    with _pytest.raises(ValueError):
        svc.query("data", fuzzy=True)
    with _pytest.raises(ValueError):
        SearchService(spark, sf_dir, multilingual=True, stem=True)


def _ranked(pairs):
    """(doc_id, score rounded to 6) by score desc, then doc_id: two
    plans that sum a doc's term scores in different orders may differ
    in the last bit, which must not reorder docs tied at 6 places."""
    return sorted(((d, round(s, 6)) for d, s in pairs), key=lambda h: (-h[1], h[0]))


def _served(hits):
    return _ranked((h["doc_id"], h["total_score"]) for h in hits)


def test_service_ranking_matches_bm25_search(spark, sf_dir, service):
    """The service ranks from its cached per-term score table; its
    hits must be bm25.search's over the same index — plain, stemmed
    and spell-corrected — with the same scores, ties broken by
    doc_id."""
    from searchengine_spark.index.bm25 import search
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.index.phrase import search_with_correction
    from searchengine_spark.io import load_table
    from searchengine_spark.serve import SearchService

    docs = load_table(spark, sf_dir, "documents")
    idx = build_index(docs).cache()
    for q in PARITY_QUERIES:
        want = _ranked(search(idx, q, k=10).collect())
        assert want and _served(service.query(q, k=10)) == want, q
    for q in ("sparkk joinn", "wndow"):
        res, corrections = search_with_correction(idx, q, k=10)
        want = _ranked(res.collect())
        assert corrections and want, q
        assert _served(service.query(q, k=10, fuzzy=True)) == want, q

    stemmed = SearchService(spark, sf_dir, stem=True)
    sidx = build_index(docs, stem=True).cache()
    for q in ("joins windows", "merged hashing"):
        want = _ranked(search(sidx, q, k=10, stem=True).collect())
        assert want and _served(stemmed.query(q, k=10)) == want, q
    for q in ("the a", "zzzzunknown"):
        assert service.query(q) == [] and stemmed.query(q) == [], q
    assert service.query("the a", fuzzy=True) == []


# Spark jobs a warm /search runs on the fixture: none — it is
# answered from the in-memory serving shard.
WARM_QUERY_JOBS = 0


def test_warm_query_reads_only_cached_tables(spark, service, monkeypatch):
    """A warm request, plain or fuzzy, launches no Spark job and
    collects no DataFrame: it reads only the serving shard the first
    request built."""
    sc = spark.sparkContext
    collected = []
    cls = type(spark.range(1))
    collect = cls.collect

    def recording_collect(df):
        collected.append(df)
        return collect(df)

    service.query("spark join window", k=10)  # warm: builds the shard
    monkeypatch.setattr(cls, "collect", recording_collect)
    sc.setJobGroup("serve-warm-query", "warm /search request")
    try:
        hits = service.query("spark join window", k=10)
        fuzzy_hits = service.query("sparkk joinn", k=10, fuzzy=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert hits and fuzzy_hits
    jobs = sc.statusTracker().getJobIdsForGroup("serve-warm-query")
    assert len(jobs) == WARM_QUERY_JOBS, jobs
    assert collected == []


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from searchengine_spark.io import load_table

    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def index(docs):
    from searchengine_spark.index.builder import build_index

    return build_index(docs).cache()


def test_repeated_query_term_counts_once(service, index):
    """The Spark path's isin filter counts a repeated term once; the
    shard must too."""
    from searchengine_spark.index.bm25 import search

    once = _served(service.query("spark join", k=10))
    assert once and _served(service.query("spark spark join", k=10)) == once
    assert _ranked(search(index, "spark spark join", k=10).collect()) == once


def test_highlighted_snippets_match_bm25_highlight(service, docs, index):
    """Each hit's snippet is bm25.highlight's over the same snippet
    table: the raw query as one literal (regex metacharacters and case
    kept), or the fuzzy-corrected terms each on its own."""
    from pyspark.sql import functions as F

    from searchengine_spark.index.bm25 import highlight, snippet_table
    from searchengine_spark.index.phrase import correct_terms
    from searchengine_spark.text.tokenizer import tokenize_query

    snippets = snippet_table(docs, max_len=200)
    vocab = index.idf_values.select("word", "doc_freq")
    cases = [(q, False) for q in ("Spark (join)+", "spark a.b|c", "spark", "Spark JOIN")]
    cases += [(q, True) for q in ("sparkk joinn", "Wndow data")]
    for q, fuzzy in cases:
        hits = service.query(q, k=10, fuzzy=fuzzy)
        assert hits, q
        terms = correct_terms(vocab, tokenize_query(q))[0] if fuzzy else q
        want = dict(
            highlight(
                snippets.filter(F.col("doc_id").isin([h["doc_id"] for h in hits])),
                "snippet",
                terms,
            ).collect()
        )
        assert [h["snippet"] for h in hits] == [want[h["doc_id"]] for h in hits], q


def test_highlight_text_matches_spark_regexp_replace(spark):
    """bm25.highlight_text (Python re) marks exactly what bm25.highlight
    (Spark's Java regex) marks, over text with regex metacharacters,
    mixed case and overlapping terms."""
    from searchengine_spark.index.bm25 import highlight, highlight_text

    texts = [
        "Spark (join)+ and spark (join)+ and SPARK (join)",
        "a.b|c beside axb|c and a.b|c|d",
        "[x] $1 \\d+ ^caret$ {2} tab\there naïve",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, snippet string")
    for terms in (
        "Spark (join)+",
        "a.b|c",
        ["spark", "Spark"],
        ["(join)+", "join", "jo"],
        ["[x]", "$1", "\\d+", "^caret$", "{2}", "tab\there", "naïve"],
        [],
    ):
        want = dict(highlight(df, "snippet", terms).collect())
        got = {i: highlight_text(t, terms) for i, t in enumerate(texts)}
        assert got == want, terms


def test_fuzzy_correction_matches_correct_terms(spark, index):
    """The shard's correction is phrase.correct_terms': a term with no
    word within distance 2 is dropped, a distance tie goes to the
    higher doc_freq, a doc_freq tie to the smaller word."""
    from searchengine_spark.index.phrase import correct_terms
    from searchengine_spark.serve import ServingShard

    vocab = spark.createDataFrame(
        [("spark", 10), ("spare", 20), ("stark", 5), ("abcd", 5), ("abce", 5),
         ("naïve", 3)],
        "word string, doc_freq long",
    )
    shard = ServingShard(
        spark.createDataFrame([("spark", 1, 1.0)], "word string, doc_id long, term_score double"),
        spark.createDataFrame([(1, "spark")], "doc_id long, snippet string"),
        vocab,
    )
    for terms, want in (
        (["zzzzzz"], []),                      # nothing within 2: dropped
        (["sparx"], ["spare"]),                # distance-1 tie: doc_freq
        (["abcf"], ["abcd"]),                  # doc_freq tie: word
        (["naive"], ["naïve"]),                # a letter outside a-z
        (["spxxk"], ["spark"]),                # distance 2, bag distance 2
        (["spark", "sparx", "zzzzzz", "sparx"], ["spark", "spare", "spare"]),
    ):
        assert correct_terms(vocab, terms)[0] == want, terms
        assert shard.correct(terms) == want, terms

    real = ServingShard(
        spark.createDataFrame([], "word string, doc_id long, term_score double"),
        spark.createDataFrame([], "doc_id long, snippet string"),
        index.idf_values.select("word", "doc_freq"),
    )
    terms = ["sparkk", "joinn", "wndow", "dta", "zzzzqqqq", "spark", "merg"]
    assert real.correct(terms) == correct_terms(
        index.idf_values.select("word", "doc_freq"), terms
    )[0]


def test_shard_top_k_matches_bm25_top_k_on_exact_ties(spark):
    """Docs with bit-equal totals rank by doc_id, as bm25.top_k ranks
    them."""
    from pyspark.sql import functions as F

    from searchengine_spark.index.bm25 import top_k
    from searchengine_spark.serve import ServingShard

    scores = spark.createDataFrame(
        [("spark", 3, 1.0), ("spark", 1, 1.0), ("spark", 4, 0.25),
         ("spark", 2, 1.0), ("join", 2, 0.5), ("join", 4, 0.75)],
        "word string, doc_id long, term_score double",
    )
    shard = ServingShard(
        scores,
        spark.createDataFrame([], "doc_id long, snippet string"),
        spark.createDataFrame([], "word string, doc_freq long"),
    )
    for terms, k in ((["spark"], 2), (["spark", "join"], 4), (["join"], 10)):
        want = top_k(scores.filter(F.col("word").isin(terms)), k).collect()
        assert shard.top_k(terms, k) == [tuple(r) for r in want], terms


def test_query_rejects_k_above_max_top_k(service):
    from searchengine_spark.io import MAX_TOP_K

    with pytest.raises(ValueError):
        service.query("spark", k=MAX_TOP_K + 1)


def test_concurrent_first_requests_build_the_shard_once(spark, sf_dir, monkeypatch):
    """Requests that arrive together before the shard exists wait for
    one build and get the same answer."""
    import searchengine_spark.serve as serve

    builds = []

    class CountingShard(serve.ServingShard):
        def __init__(self, *args):
            builds.append(1)
            super().__init__(*args)

    monkeypatch.setattr(serve, "ServingShard", CountingShard)
    svc = serve.SearchService(spark, sf_dir)
    assert set(svc.shard_shape().values()) == {None}  # not built yet
    n = 4
    start = threading.Barrier(n)
    results = [None] * n

    def first_request(i):
        start.wait(timeout=60)
        results[i] = svc.query("spark join window", k=5)

    threads = [threading.Thread(target=first_request, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert results[0] and all(r == results[0] for r in results)
    shape = svc.shard_shape()
    assert shape["postings"] > 0 and shape["terms"] > 0 and shape["mb"] > 0
    assert shape["build_s"] >= 0


def test_metrics_endpoint_counts_requests_and_shard(service):
    from searchengine_spark.serve import LATENCY_BUCKETS_S, make_http_server

    server = make_http_server(service, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        assert _get(port, "/search?q=spark&k=3")[0] == 200
        assert _get(port, "/search?q=spark&k=abc")[0] == 400
        assert _get(port, "/search?q=sparkk&k=3&fuzzy=1")[0] == 200
        assert _get(port, "/similar?doc_id=0&k=3")[0] == 200
        assert _get(port, "/nowhere")[0] == 404
        status, m = _get(port, "/metrics")
    finally:
        server.shutdown()
        server.server_close()
    assert status == 200
    assert m["latency_buckets_s"] == list(LATENCY_BUCKETS_S)
    ep = m["endpoints"]
    want = {"/search": (2, 1), "/search?fuzzy=1": (1, 0), "/similar": (1, 0), "other": (1, 1)}
    assert {e: (v["requests"], v["errors"]) for e, v in ep.items()} == want
    for v in ep.values():
        assert len(v["latency_hist"]) == len(LATENCY_BUCKETS_S) + 1
        assert sum(v["latency_hist"]) == v["requests"]
        assert v["latency_s_sum"] > 0
    shard = m["shard"]
    assert shard["postings"] > 0 and shard["terms"] > 0 and shard["mb"] > 0
    assert shard["build_s"] is not None
