"""Degenerate inputs: empty corpora, all-stopword docs, single-doc
corpora — no crashes, sane results."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.bm25 import search
from searchengine_spark.index.builder import build_index
from searchengine_spark.operators.dedup import minhash_bands, neardup_candidate_pairs
from searchengine_spark.pipeline import curate


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_empty_corpus(spark):
    docs = _docs(spark, [])
    idx = build_index(docs, cache_tokens=False)
    assert idx.term_frequencies.count() == 0
    assert search(idx, "anything", k=5).count() == 0
    assert minhash_bands(docs).count() == 0
    assert curate(docs).count() == 0


def test_all_stopword_docs_dropped(spark):
    docs = _docs(spark, [(1, "the and of to"), (2, "a an is it")])
    idx = build_index(docs, cache_tokens=False)
    # zero-token docs are excluded from the index entirely
    assert idx.doc_lengths.count() == 0
    assert idx.scoring_params.collect()[0].n_docs == 0


def test_single_doc_corpus(spark):
    docs = _docs(spark, [(1, "murder trial court murder")])
    idx = build_index(docs, cache_tokens=False)
    params = idx.scoring_params.collect()[0]
    assert params.n_docs == 1 and params.avgdl == 4.0
    res = search(idx, "murder", k=5).collect()
    # idf = log10(1/1) = 0 -> score 0, but the doc still matches
    assert len(res) == 1 and res[0].total_score == 0.0


def test_short_docs_no_shingles(spark):
    docs = _docs(spark, [(1, "hello world"), (2, "tiny")])
    assert minhash_bands(docs).count() == 0
    assert neardup_candidate_pairs(minhash_bands(docs)).count() == 0


def test_null_text_rows(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "real content here about courts")],
        "doc_id bigint, text string",
    )
    idx = build_index(docs, cache_tokens=False)
    assert idx.doc_lengths.count() == 1


def test_curate_with_metrics_counts_match_reality(spark, sf_dir):
    """Observation counters must equal independently computed counts
    — free data-quality metrics from the pipeline's single pass."""
    from searchengine_spark.io import load_table
    from searchengine_spark.pipeline import curate, curate_with_metrics

    docs = load_table(spark, sf_dir, "documents")
    keep, get_metrics = curate_with_metrics(docs)
    n_keep = keep.count()  # the action that populates the observations
    m = get_metrics()
    assert m["n_curated"] == n_keep
    assert m["n_quality_pass"] >= n_keep > 0
    assert m["total_tokens_kept"] > 0
    # and the instrumented pipeline returns the same keep-list
    assert n_keep == curate(docs).count()


def test_search_rejects_unknown_idf_variant(spark):
    docs = _docs(spark, [(1, "murder trial court")])
    idx = build_index(docs, cache_tokens=False)
    with pytest.raises(ValueError, match="idf_variant"):
        search(idx, "murder", idf_variant="bm25plus")


def test_top_k_above_bound_raises_before_any_job(spark):
    """k = 10**9 would make TakeOrderedAndProject allocate 2k slots per
    task and kill the JVM; the operator must refuse it while building
    the plan, and the session must stay usable."""
    from searchengine_spark.io import MAX_TOP_K
    from searchengine_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 6)],
        "vec_id bigint, embedding array<double>",
    )
    q = spark.createDataFrame([([1.0, 1.0],)], "qvec array<double>")
    idx = build_index(_docs(spark, [(1, "murder trial court")]), cache_tokens=False)
    sc = spark.sparkContext
    sc.setJobGroup("top-k-bound", "over-range k")
    try:
        with pytest.raises(ValueError, match="MAX_TOP_K"):
            cosine_topk(emb, q, k=10**9)
        with pytest.raises(ValueError, match="MAX_TOP_K"):
            search(idx, "murder", k=MAX_TOP_K + 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("top-k-bound") == []
    top = cosine_topk(emb, q, k=2).collect()
    assert [r.vec_id for r in top] == [1, 2]
