"""Round-8 operators: context-window packing, key-skew profiling,
curriculum interleave ordering, and the KMV distinct sketch with set
operations. Each gets semantic invariants on planted frames plus the
driver-mirroring oracle parity check on the fixture tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.registry import all_oracles, all_queries
from tests.helpers import assert_matches_oracle

QUERIES = all_queries()
ORACLES = all_oracles()


# ------------------------------------------------ packed windows


def test_packed_windows_cover_every_token_exactly_once(spark):
    from searchengine_spark.operators.export import packed_windows

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # 3 tokens
            (2, " ".join(["word"] * 7)),       # 7 tokens -> crosses w=4
            (3, ""),                            # 0 tokens -> dropped
            (10, " ".join(["tok"] * 4)),       # exactly one window
        ],
        "doc_id long, text string",
    )
    out = packed_windows(docs, window=4).orderBy("doc_id", "window_id").collect()
    # total span tokens == total tokens (nothing lost, nothing doubled)
    assert sum(r.n_span for r in out) == 3 + 7 + 4
    # doc 3 (empty) contributes nothing
    assert all(r.doc_id != 3 for r in out)
    # stream: doc1 [0,3) | doc2 [3,10) | doc10 [10,14) with w=4:
    # windows: w0=[0,4) -> doc1 all + doc2 tok0; w1 -> doc2 toks1-4;
    # w2 -> doc2 toks5-6 + doc10 toks0-1; w3 -> doc10 toks2-3
    got = [(r.doc_id, r.window_id, r.tok_start, r.tok_end) for r in out]
    assert got == [
        (1, 0, 0, 3),
        (2, 0, 0, 1),
        (2, 1, 1, 5),
        (2, 2, 5, 7),
        (10, 2, 0, 2),
        (10, 3, 2, 4),
    ]


def test_packed_windows_full_windows_hold_exactly_w_tokens(spark, sf_dir):
    from searchengine_spark.operators.export import PACK_WINDOW_TOKENS

    df = QUERIES["export_packed_windows"](spark, sf_dir)
    per_win = df.groupBy("window_id").agg(F.sum("n_span").alias("tot"))
    mx = per_win.agg(F.max("window_id").alias("m")).collect()[0].m
    bad = per_win.filter(
        (F.col("window_id") < mx) & (F.col("tot") != PACK_WINDOW_TOKENS)
    ).count()
    assert bad == 0, "a non-final window is not exactly full"


def test_packed_windows_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["export_packed_windows"](spark, sf_dir),
        ORACLES["export_packed_windows"],
        sf_dir,
        name="export_packed_windows",
    )


# ------------------------------------------------ key-skew profile


def test_key_skew_profile_uniform_vs_hot(spark):
    from searchengine_spark.operators.skew import key_skew_profile

    uniform = spark.createDataFrame(
        [(i % 10,) for i in range(100)], "k long"
    )
    u = key_skew_profile(uniform, "k").collect()[0]
    assert u.n_keys == 10 and u.n_rows == 100
    assert u.max_share == 0.1 and u.gini == 0.0

    hot = spark.createDataFrame(
        [(0,)] * 91 + [(i,) for i in range(1, 10)], "k long"
    )
    h = key_skew_profile(hot, "k").collect()[0]
    assert h.n_keys == 10 and h.max_count == 91
    assert h.max_share == 0.91
    assert h.gini > 0.7, "hot key not reflected in gini"


def test_key_skew_profile_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["skew_key_profile"](spark, sf_dir),
        ORACLES["skew_key_profile"],
        sf_dir,
        name="skew_key_profile",
    )


# ------------------------------------------------ curriculum interleave


def test_curriculum_interleave_round_robins_sources(spark):
    from searchengine_spark.operators.mixture import curriculum_interleave

    docs = spark.createDataFrame(
        [
            (1, "a", 100), (2, "a", 90), (3, "a", 80),
            (4, "b", 50), (5, "b", 40),
            (6, "c", 10),
        ],
        "doc_id long, source string, n_chars long",
    )
    out = curriculum_interleave(docs, "source", "n_chars", "doc_id")
    rows = sorted(out.collect(), key=lambda r: r.interleave_key)
    # keys injective
    assert len({r.interleave_key for r in rows}) == len(rows)
    # schedule starts with each source's best doc, in source order:
    # a's longest (1), b's longest (4), c's only (6), then rank-1 docs
    assert [r.doc_id for r in rows[:3]] == [1, 4, 6]
    assert [r.doc_id for r in rows[3:5]] == [2, 5]
    # within a source the schedule is curriculum order (desc n_chars)
    a_order = [r.doc_id for r in rows if r.source == "a"]
    assert a_order == [1, 2, 3]


def test_curriculum_interleave_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["mix_curriculum_interleave"](spark, sf_dir),
        ORACLES["mix_curriculum_interleave"],
        sf_dir,
        name="mix_curriculum_interleave",
    )


# ------------------------------------------------ KMV sketch


def test_kmv_estimates_accurate_and_bounded(spark, sf_dir):
    df = QUERIES["approx_kmv_distinct_users"](spark, sf_dir)
    rows = df.collect()
    assert rows, "no event types"
    for r in rows:
        assert r.within_bound, (
            f"{r.event_type}: est {r.est_users} vs exact {r.exact_users}"
        )
        if r.sketch_size < 64:
            assert r.est_users == float(r.exact_users)  # sub-K is exact


def test_kmv_overlap_bounded(spark, sf_dir):
    r = QUERIES["approx_kmv_view_purchase_overlap"](spark, sf_dir).collect()[0]
    assert r.m_both <= r.m_union
    assert r.exact_intersection <= r.exact_union
    assert r.within_bound, (
        f"intersection est {r.est_intersection} vs exact {r.exact_intersection}"
    )


def test_kmv_planted_partial_overlap(spark):
    """The fixture events are degenerate for set ops (every user does
    every event type, jaccard == 1), so exercise the sketch math on a
    planted 1/3-overlap population: 300 viewers (0..299), 300
    purchasers (200..499), true jaccard = 100/500 = 0.2."""
    from searchengine_spark.operators.approx import KMV_K, kmv_user_sketches

    rows = [("view", u) for u in range(300)] + [
        ("purchase", u) for u in range(200, 500)
    ]
    events = spark.createDataFrame(rows, "event_type string, user_id long")
    sk = kmv_user_sketches(events)
    sizes = {r.event_type: r.n for r in sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {"view": KMV_K, "purchase": KMV_K}
    # estimator on the planted frame: per-type estimate within 40% of 300
    agg = sk.groupBy("event_type").agg(F.max("h").alias("kth")).collect()
    for r in agg:
        est = (KMV_K - 1) * float(1 << 60) / r.kth
        assert abs(est - 300) / 300 <= 0.4, f"{r.event_type}: est {est}"


@pytest.mark.parametrize(
    "name", ["approx_kmv_distinct_users", "approx_kmv_view_purchase_overlap"]
)
def test_kmv_oracles(spark, sf_dir, name):
    assert_matches_oracle(
        QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir, name=name
    )


# ------------------------------------------------ MaxScore pruning


def test_maxscore_equals_exhaustive_topk(spark, sf_dir):
    """The whole point of dynamic pruning: candidates shrink, the
    top-k does not change by even one rank or rounded score."""
    pruned = QUERIES["se_maxscore_topk"](spark, sf_dir).collect()
    exhaustive = QUERIES["se_bm25_topk"](spark, sf_dir).collect()
    assert [(r.doc_id, r.total_score) for r in pruned] == [
        (r.doc_id, r.total_score) for r in exhaustive
    ]
    r0 = pruned[0]
    assert r0.n_candidates < r0.n_match_any, "pruning never pruned"
    assert 1 <= r0.n_essential_terms < 4


def test_maxscore_safe_when_fewer_than_k_matches(spark):
    """θ0 falls back to -inf when the first pass has < k docs — every
    term becomes essential and the result is just exhaustive top-k."""
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.index.maxscore import maxscore_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta unrelated words"),
            (3, "gamma delta something else entirely"),
        ],
        "doc_id long, text string",
    )
    idx = build_index(docs)
    out = maxscore_topk(idx, ["alpha", "gamma"], k=10).collect()
    assert {r.doc_id for r in out} == {1, 2, 3}
    assert out[0].n_essential_terms == 2  # nothing prunable below -inf


def test_maxscore_topk_caches_nothing(spark):
    """maxscore_topk returns a lazy plan: running it leaves no cached
    frame behind for later queries to read."""
    from searchengine_spark.index.bm25 import query_term_scores
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.index.maxscore import maxscore_topk

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta"), (3, "alpha delta")],
        "doc_id long, text string",
    )
    idx = build_index(docs)
    query_term_scores(idx, ["alpha", "beta"]).collect()  # warms the index

    def stored():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = stored()
    for terms in (["alpha", "gamma"], ["beta", "delta"]):
        assert maxscore_topk(idx, terms, k=2).collect()
    assert stored() <= before


def test_maxscore_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["se_maxscore_topk"](spark, sf_dir),
        ORACLES["se_maxscore_topk"],
        sf_dir,
        name="se_maxscore_topk",
    )


# ------------------------------------------------ MAD robust stats


def test_mad_resists_extreme_outlier(spark, tmp_path, monkeypatch):
    """Planted: 9 values at 10 plus one at 1000. Mean/std would be
    dragged to ~109/~313 (z of the outlier ~ 2.8, borderline); median
    and MAD ignore it completely — med=10, mad=0, and exactly the one
    extreme row is flagged."""
    import os

    from searchengine_spark.relational.advanced import MAD_CUT, q_events_value_mad

    assert abs(MAD_CUT - 3.5 * 1.4826) < 1e-12
    d = str(tmp_path)
    rows = [(i, "click", 10.0) for i in range(9)] + [(9, "click", 1000.0)]
    spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = q_events_value_mad(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.med, r.mad, r.n_outliers) == (10.0, 0.0, 1)


def test_mad_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["events_value_mad"](spark, sf_dir),
        ORACLES["events_value_mad"],
        sf_dir,
        name="events_value_mad",
    )


# ------------------------------------------------ n-gram novelty


def test_ngram_novelty_decays_and_detects_duplicates(spark, sf_dir):
    df = QUERIES["dedup_ngram_novelty"](spark, sf_dir)
    rows = df.collect()
    assert rows[0].novelty == 1.0, "the first doc must be fully novel"
    assert all(0 <= r.n_novel <= r.n_grams for r in rows)
    # the corpus saturates: later docs are on average less novel
    mid = len(rows) // 2
    first_half = sum(r.novelty for r in rows[:mid]) / mid
    second_half = sum(r.novelty for r in rows[mid:]) / (len(rows) - mid)
    assert second_half < first_half, "no novelty decay over corpus order"


def test_ngram_novelty_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["dedup_ngram_novelty"](spark, sf_dir),
        ORACLES["dedup_ngram_novelty"],
        sf_dir,
        name="dedup_ngram_novelty",
    )


# ------------------------------------------------ truncation recall


def test_dim_truncation_recall_bounds(spark, sf_dir):
    r = QUERIES["sim_dim_truncation_recall"](spark, sf_dir).collect()[0]
    assert r.k == 10 and r.dim_trunc == 16
    assert 0 <= r.n_overlap <= r.k
    assert abs(r.recall - r.n_overlap / r.k) < 1e-9


def test_dim_truncation_identity_when_full_width(spark, sf_dir):
    """Truncating to the FULL width must reproduce the full top-k
    exactly — recall 1.0 by construction."""
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.similarity import (
        QUERY_VEC_ID,
        cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    base = emb.filter(F.col("vec_id") != QUERY_VEC_ID)
    full = {r.vec_id for r in cosine_topk(base, qv).collect()}
    wide = {
        r.vec_id
        for r in cosine_topk(
            base.select("vec_id", F.slice("embedding", 1, 64).alias("embedding")),
            qv.select(F.slice("qvec", 1, 64).alias("qvec")),
        ).collect()
    }
    assert full == wide


def test_dim_truncation_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["sim_dim_truncation_recall"](spark, sf_dir),
        ORACLES["sim_dim_truncation_recall"],
        sf_dir,
        name="sim_dim_truncation_recall",
    )


# ------------------------------------------------ cluster survivorship


def test_survivorship_keeps_longest_not_min_id(spark):
    from searchengine_spark.operators.dedup import cluster_survivorship

    # cluster {1,2,9}: doc 9 is LONGEST -> canonical despite max id;
    # proves the policy is keep-longest, not the component label
    # (min id = 1). Singleton cluster {5} maps to itself.
    docs = spark.createDataFrame(
        [(1, 100), (2, 80), (9, 300), (5, 50)], "doc_id long, n_chars long"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (9, 1), (5, 5)], "doc_id long, component long"
    )
    rows = {r.doc_id: r for r in cluster_survivorship(docs, clusters).collect()}
    assert rows[1].canonical_id == 9 and not rows[1].is_canonical
    assert rows[2].canonical_id == 9 and rows[2].n_members == 3
    assert rows[9].is_canonical
    assert rows[5].canonical_id == 5 and rows[5].is_canonical


def test_survivorship_one_canonical_per_component(spark, sf_dir):
    df = QUERIES["dedup_cluster_survivorship"](spark, sf_dir)
    per = df.groupBy("component").agg(
        F.sum(F.col("is_canonical").cast("long")).alias("n_canon"),
        F.countDistinct("canonical_id").alias("n_ids"),
    )
    assert per.filter((F.col("n_canon") != 1) | (F.col("n_ids") != 1)).count() == 0


def test_survivorship_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["dedup_cluster_survivorship"](spark, sf_dir),
        ORACLES["dedup_cluster_survivorship"],
        sf_dir,
        name="dedup_cluster_survivorship",
    )


# ------------------------------------------------ DSIR selection


@pytest.fixture(scope="module")
def dsir_planted_dir(spark, tmp_path_factory):
    """Two disjoint vocabularies: target docs (src1) speak vocab A,
    off-domain docs (src9) speak vocab B — except one src9 doc written
    in vocab A. DSIR must rank by CONTENT, not the source label."""
    import os

    A = "quantum lattice theorem spectral manifold operator hilbert eigenvalue "
    B = "pasta recipe tomato basil garlic simmer saucepan oregano "
    rows = [(i, "src1", (A * 6) + f"tail{i}") for i in range(6)]
    rows += [(10 + i, "src9", (B * 6) + f"tail{10+i}") for i in range(6)]
    rows += [(99, "src9", (A * 6) + "tail99")]  # in-domain content, wrong label
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    d = str(tmp_path_factory.mktemp("dsir"))
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def test_dsir_ranks_by_content_not_label(spark, dsir_planted_dir):
    rows = {
        r.doc_id: r
        for r in QUERIES["mix_dsir_selection"](spark, dsir_planted_dir).collect()
    }
    vocab_b_max = max(rows[i].log_w for i in range(10, 16))
    # the mislabeled vocab-A doc outranks EVERY vocab-B doc
    assert rows[99].log_w > vocab_b_max
    # and target-domain docs all score above the off-domain ones
    assert min(rows[i].log_w for i in range(6)) > vocab_b_max


def test_dsir_selects_top_quantile(spark, sf_dir):
    from searchengine_spark.operators.mixture import DSIR_SELECT_Q

    df = QUERIES["mix_dsir_selection"](spark, sf_dir)
    n = df.count()
    sel = df.filter("selected").count()
    # >= because percentile ties are all kept
    assert sel >= round(n * (1 - DSIR_SELECT_Q)) - 1
    assert sel <= n * (1 - DSIR_SELECT_Q) + max(2, 0.02 * n)
    # selection = exactly the top rows by sel_key
    mn_sel = df.filter("selected").agg(F.min("sel_key")).collect()[0][0]
    mx_rej = df.filter("NOT selected").agg(F.max("sel_key")).collect()[0][0]
    assert mn_sel >= mx_rej


def test_dsir_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["mix_dsir_selection"](spark, sf_dir),
        ORACLES["mix_dsir_selection"],
        sf_dir,
        name="mix_dsir_selection",
    )


# ------------------------------------------------ length buckets


def test_length_bucket_boundaries_exact(spark):
    from searchengine_spark.operators.export import length_buckets

    # 8 tokens must land in bucket 8 (NOT 16 — the float-log2 ulp
    # trap), 9 in 16, 1 in 1.
    docs = spark.createDataFrame(
        [
            (1, " ".join(["tok"] * 8)),
            (2, " ".join(["tok"] * 9)),
            (3, "tok"),
        ],
        "doc_id long, text string",
    )
    rows = {r.bucket_tokens: r for r in length_buckets(docs).collect()}
    assert set(rows) == {8, 16, 1}
    assert rows[8].n_docs == 1 and rows[8].sum_tokens == 8
    assert rows[8].efficiency == 1.0
    assert rows[16].sum_tokens == 9 and rows[16].padded_tokens == 16
    assert rows[1].efficiency == 1.0


def test_length_buckets_beat_naive_padding(spark, sf_dir):
    df = QUERIES["export_length_buckets"](spark, sf_dir).collect()
    sum_tok = sum(r.sum_tokens for r in df)
    padded = sum(r.padded_tokens for r in df)
    bucketed_eff = sum_tok / padded
    assert bucketed_eff > df[0].naive_efficiency, (
        "bucketing did not beat pad-to-longest"
    )
    # every bucket is at least half full on average by construction
    assert all(r.efficiency > 0.5 for r in df)


def test_length_buckets_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["export_length_buckets"](spark, sf_dir),
        ORACLES["export_length_buckets"],
        sf_dir,
        name="export_length_buckets",
    )


# ------------------------------------------------ RAG chunk recall


def test_chunk_recall_invariants(spark, sf_dir):
    from searchengine_spark.index.ragrecall import RAG_CHUNK_K

    rows = QUERIES["se_chunk_retrieval_recall"](spark, sf_dir).collect()
    assert len(rows) == 3  # one per BATCH_QUERIES entry
    for r in rows:
        assert 0.0 <= r.recall <= 1.0
        assert r.n_overlap <= min(r.n_doc_topk, r.n_chunk_docs)
        assert r.n_chunk_docs <= RAG_CHUNK_K
        assert r.recall == round(r.n_overlap / r.n_doc_topk, 6)
        # chunk retrieval is not useless on this corpus
        assert r.n_overlap > 0


def test_chunk_recall_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["se_chunk_retrieval_recall"](spark, sf_dir),
        ORACLES["se_chunk_retrieval_recall"],
        sf_dir,
        name="se_chunk_retrieval_recall",
    )


# ------------------------------------------------ CUPED


def test_cuped_math_consistency(spark, sf_dir):
    rows = QUERIES["events_cuped_adjusted"](spark, sf_dir).collect()
    assert {r.variant for r in rows} == {"A", "B"}
    # one shared theta
    assert rows[0].theta == rows[1].theta
    for r in rows:
        assert r.n_users > 0 and r.var_ratio > 0
    # CUPED adjustment is a zero-sum reshuffle around the global mean:
    # the user-weighted mean of adjusted values equals the weighted
    # mean of raw values (theta * sum_v n_v (mean_x_v - mean_x) = 0)
    n = sum(r.n_users for r in rows)
    raw = sum(r.mean_value * r.n_users for r in rows) / n
    adj = sum(r.mean_value_cuped * r.n_users for r in rows) / n
    assert abs(raw - adj) < 1e-4


def test_cuped_reduces_variance_when_correlated(spark, tmp_path_factory):
    import os
    from datetime import datetime, timedelta

    # planted: per-user pre and post totals strongly correlated
    # (heavy users stay heavy), so CUPED must cut pooled variance.
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(40):
        spend = 10.0 + 5.0 * (u % 7)  # user-level propensity
        for j in range(4):  # pre-period events
            rows.append((eid, base + timedelta(hours=j), u, "view", spend, "{}"))
            eid += 1
        for j in range(4):  # post-period events, same propensity + noise
            rows.append(
                (
                    eid,
                    base + timedelta(days=20, hours=j),
                    u,
                    "view",
                    spend + (u % 3) - 1.0,
                    "{}",
                )
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path_factory.mktemp("cuped"))
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = QUERIES["events_cuped_adjusted"](spark, d).collect()
    for r in out:
        assert r.var_ratio < 0.5, f"CUPED failed to cut variance: {r}"
    assert_matches_oracle(
        QUERIES["events_cuped_adjusted"](spark, d),
        ORACLES["events_cuped_adjusted"],
        d,
        name="events_cuped_adjusted_planted",
    )


def test_cuped_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["events_cuped_adjusted"](spark, sf_dir),
        ORACLES["events_cuped_adjusted"],
        sf_dir,
        name="events_cuped_adjusted",
    )


# ------------------------------------------------ Benford audit


def test_benford_conforming_data_not_flagged(spark, tmp_path_factory):
    import os

    from searchengine_spark.operators.expectations import BENFORD_P

    # plant amounts whose first-digit counts match Benford exactly
    rows = []
    for d, p in BENFORD_P.items():
        rows += [(float(d) * 10.0,)] * round(1000 * p)
    orders = spark.createDataFrame(rows, "o_totalprice double")
    dirp = str(tmp_path_factory.mktemp("benford"))
    orders.write.mode("overwrite").parquet(os.path.join(dirp, "orders.parquet"))
    out = QUERIES["dq_benford_orders"](spark, dirp).collect()
    assert len(out) == 9
    assert all(not r.flagged for r in out), out
    assert_matches_oracle(
        QUERIES["dq_benford_orders"](spark, dirp),
        ORACLES["dq_benford_orders"],
        dirp,
        name="dq_benford_orders_planted",
    )


def test_benford_flags_synthetic_uniform_totals(spark, sf_dir):
    out = QUERIES["dq_benford_orders"](spark, sf_dir).collect()
    # TPC-H-ish uniform totals are exactly what Benford flags
    assert sum(r.flagged for r in out) >= 5
    assert abs(sum(r.frac for r in out) - 1.0) < 1e-4


def test_benford_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["dq_benford_orders"](spark, sf_dir),
        ORACLES["dq_benford_orders"],
        sf_dir,
        name="dq_benford_orders",
    )


# ------------------------------------------------ plan-shape pins


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dsir_plan_broadcasts_model_table(spark, sf_dir):
    plan = _plan(QUERIES["mix_dsir_selection"](spark, sf_dir))
    # the 512-row log-ratio table must hash-join broadcast onto the
    # gram scan; a SortMergeJoin here would shuffle the corpus twice
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cuped_plan_has_no_real_joins(spark, sf_dir):
    plan = _plan(QUERIES["events_cuped_adjusted"](spark, sf_dir))
    # scalar range + global sums fold in as 1-row broadcasts only
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_survivorship_plan_is_one_window_pass(spark):
    from searchengine_spark.operators.dedup import cluster_survivorship

    docs = spark.createDataFrame([(1, 10), (2, 20)], "doc_id long, n_chars long")
    clusters = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, component long")
    plan = _plan(cluster_survivorship(docs, clusters))
    # policy itself adds a Window, never a per-cluster argmax join
    assert "Window" in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_maxscore_plan_semi_joins_and_topk(spark, sf_dir):
    plan = _plan(QUERIES["se_maxscore_topk"](spark, sf_dir))
    assert "LeftSemi" in plan  # candidates skip non-essential postings
    assert "TakeOrderedAndProject" in plan


def test_length_buckets_plan_stays_scan_shaped(spark, sf_dir):
    plan = _plan(QUERIES["export_length_buckets"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


# ------------------------------------------------ quantile sample


def test_quantile_sample_brackets_and_monotone(spark, sf_dir):
    rows = QUERIES["approx_quantile_sample"](spark, sf_dir).collect()
    assert [r.q for r in rows] == [0.25, 0.5, 0.9, 0.99]
    assert all(r.within_bound for r in rows)
    ests = [r.est for r in rows]
    assert ests == sorted(ests), "quantile estimates must be monotone"
    for r in rows:
        assert r.frac_lt <= r.frac_le


def test_quantile_sample_survives_heavy_point_mass(spark, tmp_path_factory):
    import os

    # 80% of values identical: a one-sided rank test at q=0.5 would
    # false-alarm (frac_le jumps to ~1.0); the bracket check must not.
    rows = [(i, float(7)) for i in range(800)]
    rows += [(800 + i, 1000.0 + i) for i in range(200)]
    ev = spark.createDataFrame(rows, "event_id long, value double")
    d = str(tmp_path_factory.mktemp("qs"))
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = QUERIES["approx_quantile_sample"](spark, d).collect()
    mid = [r for r in out if r.q == 0.5][0]
    assert mid.est == 7.0
    assert mid.within_bound  # frac_lt=0 <= 0.56 and frac_le=0.8 >= 0.44
    assert_matches_oracle(
        QUERIES["approx_quantile_sample"](spark, d),
        ORACLES["approx_quantile_sample"],
        d,
        name="approx_quantile_sample_planted",
    )


def test_quantile_sample_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["approx_quantile_sample"](spark, sf_dir),
        ORACLES["approx_quantile_sample"],
        sf_dir,
        name="approx_quantile_sample",
    )


# ------------------------------------------------ watermark sizing


def test_watermark_sizing_invariants(spark, sf_dir):
    rows = QUERIES["events_watermark_sizing"](spark, sf_dir).collect()
    assert [r.watermark_s for r in rows] == [300, 1800, 7200]
    drops = [r.n_dropped for r in rows]
    assert drops == sorted(drops, reverse=True), "drop rate must fall with W"
    # jitter < 3600s, so any watermark >= the jitter bound drops nothing
    assert rows[-1].n_dropped == 0


def test_watermark_two_level_runmax_matches_global_window(spark, sf_dir):
    """The bucketed prefix-max decomposition must equal the naive
    single-partition global window it replaces at scale."""
    from pyspark.sql import Window

    from searchengine_spark.event_time import event_time_seconds
    from searchengine_spark.io import load_table
    from searchengine_spark.relational.events import (
        WM_JITTER_S,
        WM_JITTER_SALT,
        WM_CANDIDATES,
    )

    ev = load_table(spark, sf_dir, "events")
    s = event_time_seconds(ev, "ts")
    jit = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(WM_JITTER_SALT), F.col("event_id").cast("string")
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(WM_JITTER_S),
    )
    base = ev.select("event_id", s.alias("s"), (s + jit).alias("arr"))
    gw = Window.orderBy("arr", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = base.withColumn("runmax", F.max("s").over(gw))
    expected = {
        w: naive.filter(F.col("s") < F.col("runmax") - w).count()
        for w in WM_CANDIDATES
    }
    got = {
        r.watermark_s: r.n_dropped
        for r in QUERIES["events_watermark_sizing"](spark, sf_dir).collect()
    }
    assert got == expected

    # force a genuinely MULTI-bucket split (the volume-derived default
    # yields one bucket at fixture scale) — same answer for any width
    from searchengine_spark.relational.events import watermark_drop_frame

    forced = watermark_drop_frame(ev, target_bucket_rows=64)
    got_multi = {r.watermark_s: r.n_dropped for r in forced.collect()}
    assert got_multi == expected


def test_watermark_plan_partitions_running_max_by_bucket(spark, sf_dir):
    """The within-bucket running max must be a PARTITIONED window (by
    the volume-sized arrival bucket b) — never an unpartitioned
    global-order max over the stream."""
    from searchengine_spark.io import load_table
    from searchengine_spark.relational.events import watermark_drop_frame

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(watermark_drop_frame(ev, target_bucket_rows=64))
    import re

    specs = re.findall(r"max\(s#\d+L?\) windowspecdefinition\(([^)]*)\)", plan)
    arr_specs = [s for s in specs if "arr#" in s]  # the running-max window
    assert arr_specs, "expected the arrival-order running-max window"
    for s in arr_specs:
        assert s.startswith("b#"), f"running max not partitioned by bucket: {s}"


def test_watermark_sizing_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["events_watermark_sizing"](spark, sf_dir),
        ORACLES["events_watermark_sizing"],
        sf_dir,
        name="events_watermark_sizing",
    )


# ------------------------------------------------ stratified sample


def test_stratified_allocation_is_exact_per_stratum(spark, sf_dir):
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.sampling import STRAT_DEN, STRAT_NUM

    docs = load_table(spark, sf_dir, "documents")
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = {
        r.lang: r.n
        for r in QUERIES["sample_stratified_exact"](spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for lang, n in totals.items():
        want = -(-n * STRAT_NUM // STRAT_DEN)  # ceil
        assert kept.get(lang, 0) == want, (lang, n, want, kept.get(lang))


def test_stratified_beats_threshold_sampling_on_small_strata(spark):
    # a 3-row stratum must yield exactly ceil(3/5)=1 row — the case
    # where hash-THRESHOLD sampling returns 0..3 rows by luck
    from searchengine_spark.operators.sampling import stratified_exact_sample

    docs = spark.createDataFrame(
        [(i, "tiny") for i in range(3)] + [(100 + i, "big") for i in range(50)],
        "doc_id long, lang string",
    )
    out = stratified_exact_sample(docs, "lang", "doc_id").groupBy("lang").count()
    rows = {r.lang: r["count"] for r in out.collect()}
    assert rows == {"tiny": 1, "big": 10}


def test_stratified_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["sample_stratified_exact"](spark, sf_dir),
        ORACLES["sample_stratified_exact"],
        sf_dir,
        name="sample_stratified_exact",
    )


# ------------------------------------------------ conversion z-test


def test_conversion_ab_fixture_is_degenerate_and_guarded(spark, sf_dir):
    r = QUERIES["events_conversion_ab"](spark, sf_dir).collect()[0]
    # every fixture user purchases at least once -> pooled rate 1.0,
    # the SE denominator would be 0; the guard must yield z = 0
    assert r.rate_a == 1.0 and r.rate_b == 1.0
    assert r.z_score == 0.0 and not r.significant


def test_conversion_ab_nondegenerate_planted(spark, tmp_path_factory):
    import os
    from datetime import datetime

    # ~third of users purchase -> non-degenerate SE path in BOTH
    # engines, verdict hash-checked via the oracle
    ts = datetime(2024, 1, 1)
    rows = []
    for u in range(90):
        etype = "purchase" if u % 3 == 0 else "view"
        rows.append((u, ts, u, etype, 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path_factory.mktemp("abz"))
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    r = QUERIES["events_conversion_ab"](spark, d).collect()[0]
    assert 0.0 < r.rate_a < 1.0 and 0.0 < r.rate_b < 1.0
    assert r.significant == (abs(r.z_score) > 1.96)
    assert_matches_oracle(
        QUERIES["events_conversion_ab"](spark, d),
        ORACLES["events_conversion_ab"],
        d,
        name="events_conversion_ab_planted",
    )


def test_conversion_ab_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["events_conversion_ab"](spark, sf_dir),
        ORACLES["events_conversion_ab"],
        sf_dir,
        name="events_conversion_ab",
    )


# ------------------------------------------------ KMV mergeability


def test_kmv_merge_lossless_on_fixture(spark, sf_dir):
    rows = QUERIES["approx_kmv_merge_audit"](spark, sf_dir).collect()
    assert len(rows) >= 3
    assert all(r.merge_lossless for r in rows)
    for r in rows:
        assert r.n_merged == r.n_whole
        assert r.kth_merged == r.kth_whole


def test_kmv_merge_lossless_under_k(spark, tmp_path_factory):
    import os
    from datetime import datetime

    from searchengine_spark.operators.approx import KMV_K

    # fewer distinct users than K: both half-sketches are partial and
    # overlap arbitrarily; the merge must still equal the whole sketch
    ts = datetime(2024, 1, 1)
    rows = []
    for u in range(30):
        rows.append((u, ts, u, "view", 1.0, "{}"))
        rows.append((1000 + u, ts, u, "view", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path_factory.mktemp("kmvm"))
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = QUERIES["approx_kmv_merge_audit"](spark, d).collect()
    assert len(out) == 1
    assert out[0].n_whole == 30 < KMV_K
    assert out[0].merge_lossless
    assert_matches_oracle(
        QUERIES["approx_kmv_merge_audit"](spark, d),
        ORACLES["approx_kmv_merge_audit"],
        d,
        name="approx_kmv_merge_audit_planted",
    )


def test_kmv_merge_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["approx_kmv_merge_audit"](spark, sf_dir),
        ORACLES["approx_kmv_merge_audit"],
        sf_dir,
        name="approx_kmv_merge_audit",
    )


# ------------------------------------------------ randomized response


def test_rr_debiasing_recovers_planted_rate(spark, tmp_path_factory):
    import os
    from datetime import datetime

    ts = datetime(2024, 1, 1)
    rows = []
    for u in range(400):  # ~25% true rate, n large enough for the bound
        etype = "error" if u % 4 == 0 else "view"
        rows.append((u, ts, u, etype, 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path_factory.mktemp("rr"))
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    r = QUERIES["privacy_rr_frequency"](spark, d).collect()[0]
    assert r.true_frac == 0.25
    assert r.within_bound
    # the noisy report must NOT equal the truth (privacy actually on)
    assert r.n_reported != 100
    assert_matches_oracle(
        QUERIES["privacy_rr_frequency"](spark, d),
        ORACLES["privacy_rr_frequency"],
        d,
        name="privacy_rr_frequency_planted",
    )


def test_rr_oracle(spark, sf_dir):
    r = QUERIES["privacy_rr_frequency"](spark, sf_dir).collect()[0]
    assert r.within_bound
    assert_matches_oracle(
        QUERIES["privacy_rr_frequency"](spark, sf_dir),
        ORACLES["privacy_rr_frequency"],
        sf_dir,
        name="privacy_rr_frequency",
    )


# ------------------------------------------------ Zipf slope


def test_zipf_detects_planted_power_law(spark, tmp_path_factory):
    import os

    # word_i appears floor(3000/i) times -> rank-frequency slope ~ -1
    # (pure-alpha words: digits are tokenizer delimiters)
    words = []
    for i in range(1, 51):
        name = "w" + chr(97 + (i - 1) // 26) + chr(97 + (i - 1) % 26)
        words += [name] * (3000 // i)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    d = str(tmp_path_factory.mktemp("zipf"))
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    r = QUERIES["text_zipf_slope"](spark, d).collect()[0]
    assert r.zipf_like, r
    assert -1.1 < r.slope < -0.9
    assert r.r2 > 0.99
    assert_matches_oracle(
        QUERIES["text_zipf_slope"](spark, d),
        ORACLES["text_zipf_slope"],
        d,
        name="text_zipf_slope_planted",
    )


def test_zipf_flags_uniform_fixture(spark, sf_dir):
    r = QUERIES["text_zipf_slope"](spark, sf_dir).collect()[0]
    # the synthetic corpus is near-uniform: the probe must SAY so
    assert not r.zipf_like
    assert r.slope > -0.5


def test_zipf_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["text_zipf_slope"](spark, sf_dir),
        ORACLES["text_zipf_slope"],
        sf_dir,
        name="text_zipf_slope",
    )


def test_zipf_degenerate_single_word_corpus(spark, tmp_path_factory):
    import os

    docs = spark.createDataFrame(
        [(1, "same same same same")], "doc_id long, text string"
    )
    d = str(tmp_path_factory.mktemp("zipfdeg"))
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    r = QUERIES["text_zipf_slope"](spark, d).collect()[0]
    assert r.n_words == 1 and r.slope is None and not r.zipf_like
    assert_matches_oracle(
        QUERIES["text_zipf_slope"](spark, d),
        ORACLES["text_zipf_slope"],
        d,
        name="text_zipf_slope_degenerate",
    )
