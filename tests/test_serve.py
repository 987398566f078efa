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


def _plan_leaves(plan) -> list[str]:
    """Leaf operators of an executed plan, looking through adaptive
    and query-stage wrappers but not into a cached relation's own
    (build-time) plan."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_leaves(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _plan_leaves(plan.plan())
    kids = plan.children()
    if kids.size() == 0:
        return [plan.simpleString(25)]
    return [leaf for i in range(kids.size()) for leaf in _plan_leaves(kids.apply(i))]


# Spark jobs a warm non-fuzzy /search runs on the fixture: the top-k
# over the doc_id-partitioned term scores, and the snippet lookup.
WARM_QUERY_JOBS = 2


def test_warm_query_reads_only_cached_tables(spark, service, monkeypatch):
    """A warm request neither scans files (the documents table, the
    index sources) nor launches more jobs than the cached serving
    plan needs."""
    sc = spark.sparkContext
    collected = []
    cls = type(spark.range(1))
    collect = cls.collect

    def recording_collect(df):
        collected.append(df)
        return collect(df)

    service.query("spark join window", k=10)  # warm: builds the caches
    monkeypatch.setattr(cls, "collect", recording_collect)
    sc.setJobGroup("serve-warm-query", "warm /search request")
    try:
        hits = service.query("spark join window", k=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert hits
    jobs = sc.statusTracker().getJobIdsForGroup("serve-warm-query")
    assert 0 < len(jobs) <= WARM_QUERY_JOBS, jobs
    leaves = [
        leaf
        for df in collected
        for leaf in _plan_leaves(df._jdf.queryExecution().executedPlan())
    ]
    # every leaf a cached-table scan: no FileScan of documents or index
    assert leaves and all(leaf.startswith("InMemoryTableScan") for leaf in leaves), leaves
