"""Round-9 operators: Heaps'-law vocabulary growth, A-ES weighted
reservoir sampling, token-budget filling, and the global distributed
rank. Oracle parity for all four is covered by test_oracle_parity.py
(they're registry queries); these tests pin the SEMANTICS and plan
shapes the hashes alone don't explain."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------ Heaps vocab growth


def test_heaps_curve_monotone_and_consistent(spark, sf_dir):
    from searchengine_spark.text.analysis import QUERIES

    rows = QUERIES["text_heaps_vocab_growth"](spark, sf_dir).collect()
    assert [r.cut_bucket for r in rows] == [100, 316, 1000, 3162, 10000]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs >= prev.n_docs
        assert cur.n_tokens >= prev.n_tokens
        assert cur.vocab >= prev.vocab, "vocabulary can only grow"
    for r in rows:
        assert r.vocab <= r.n_tokens, "distinct words <= token occurrences"
    # the last checkpoint is the whole corpus
    from searchengine_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert rows[-1].n_docs == docs.count()
    # sub-linear growth: a natural corpus's Heaps beta sits in (0, 1)
    assert rows[0].heaps_beta is not None
    assert 0.0 < rows[0].heaps_beta < 1.0
    assert all(r.heaps_beta == rows[0].heaps_beta for r in rows)


def test_heaps_beta_null_on_degenerate_corpus(spark, tmp_path_factory):
    # a single one-word doc: every checkpoint with data has vocab=1,
    # so var(x)=0 at best — beta must be NULL, not a divide-by-zero
    d = tmp_path_factory.mktemp("heapsdeg")
    spark.createDataFrame(
        [(1, "hello", "en", "src0", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    from searchengine_spark.text.analysis import QUERIES

    rows = QUERIES["text_heaps_vocab_growth"](spark, str(d)).collect()
    assert all(r.heaps_beta is None for r in rows)


# ------------------------------------------------ A-ES weighted top-n


def test_aes_sample_is_exact_n_and_key_formula(spark, sf_dir):
    from searchengine_spark.operators.sampling import (
        AES_N,
        AES_SALT,
        _AES_HASH_BITS,
        QUERIES,
    )

    rows = QUERIES["sample_aes_weighted_topn"](spark, sf_dir).collect()
    assert len(rows) == AES_N
    keys = [r.es_key for r in rows]
    assert keys == sorted(keys, reverse=True)
    # recompute one key by hand (python md5 == engine md5)
    import hashlib

    r0 = rows[0]
    h = int(
        hashlib.md5(f"{AES_SALT}{r0.doc_id}".encode()).hexdigest()[:13], 16
    )
    u = (h + 0.5) / float(2**_AES_HASH_BITS)
    assert abs(round(math.log(u) / r0.weight, 12) - r0.es_key) < 1e-15


def test_aes_heavier_weight_wins_ties_of_u(spark):
    # same id -> same u; the heavier weight must produce the LARGER
    # key (ln u < 0 shrinks toward 0 when divided by a bigger w)
    from searchengine_spark.operators.sampling import weighted_reservoir_topn

    df = spark.createDataFrame(
        [(1, 10), (2, 10_000_000)], "doc_id long, n_chars long"
    )
    got = weighted_reservoir_topn(df, "doc_id", "n_chars", 1).collect()
    # doc 2's weight dominates any plausible u gap at these magnitudes
    assert got[0].doc_id == 2


def test_aes_plan_is_take_ordered(spark, sf_dir):
    from searchengine_spark.operators.sampling import QUERIES

    plan = _plan(QUERIES["sample_aes_weighted_topn"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


# ------------------------------------------------ token-budget fill


def test_budget_fill_is_exact_prefix(spark, sf_dir):
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.mixture import (
        FILL_DEN,
        FILL_NUM,
        QUERIES,
    )

    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    budget = total * FILL_NUM // FILL_DEN
    rows = QUERIES["mix_token_budget_fill"](spark, sf_dir).collect()
    assert rows, "a half-corpus budget must select something"
    kept = sum(r.n_chars for r in rows)
    assert kept <= budget
    assert max(r.cum_chars for r in rows) == kept, "selection is a prefix"
    # greedy whole-doc fill: nothing more fits at the boundary — the
    # max cum among kept plus the SMALLEST dropped boundary doc > budget
    # (weaker, order-free check: kept is within one max doc of budget)
    max_doc = docs.agg(F.max("n_chars")).collect()[0][0]
    assert kept + max_doc > budget


def test_budget_fill_priority_order(spark):
    # three sources, weights 3/2/1, budget = half: the wt-3 source
    # must survive whole before any wt-1 doc is taken
    from searchengine_spark.operators.mixture import token_budget_fill

    rows = []
    for i in range(30):
        rows.append((i, "hi", 100))
        rows.append((100 + i, "mid", 100))
        rows.append((200 + i, "lo", 100))
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = token_budget_fill(
        df, "source", {"hi": 3.0, "mid": 2.0, "lo": 1.0}, "doc_id", "n_chars"
    ).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, 0)
        by_src[r.source] += 1
    # budget = 4500 chars = 45 docs: all 30 hi, 15 mid, zero lo
    assert by_src.get("hi") == 30
    assert by_src.get("mid") == 15
    assert "lo" not in by_src


def test_budget_fill_plan_has_no_global_window(spark, sf_dir):
    from searchengine_spark.operators.mixture import QUERIES

    plan = _plan(QUERIES["mix_token_budget_fill"](spark, sf_dir))
    import re

    # the corpus-side running sum must be keyed on (source, _b); the
    # only unkeyed ordered window is over the (source, bucket) totals
    specs = re.findall(r"sum\(_sz#\d+L?\) windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the within-bucket running sum"
    for s in specs:
        assert "_b#" in s, f"corpus running sum not bucket-keyed: {s}"


# ------------------------------------------------ centroid outliers


def test_centroid_outliers_flags_planted_mislabel(spark, tmp_path_factory):
    # two tight clusters; one vector carries the WRONG label — it must
    # be the flagged outlier for that label
    d = tmp_path_factory.mktemp("outl")
    rows = []
    for i in range(20):
        rows.append((i, [1.0 + 0.001 * i, 0.0, 0.0, 0.0], 0))
    for i in range(20, 40):
        rows.append((i, [0.0, 1.0 + 0.001 * i, 0.0, 0.0], 1))
    rows.append((99, [0.0, 5.0, 0.0, 0.0], 0))  # label-0 but cluster-1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    from searchengine_spark.operators.similarity import QUERIES

    got = QUERIES["sim_centroid_outliers"](spark, str(d)).collect()
    flagged = {r.vec_id for r in got if r.is_outlier}
    assert 99 in flagged
    by_id = {r.vec_id: r for r in got}
    # far from its centroid (which its own big component drags a bit)
    assert by_id[99].cos_centroid < 0.5
    assert all(
        r.cos_centroid > 0.9 for r in got if r.vec_id != 99
    ), "true members stay near their centroid"


def test_centroid_outlier_rate_tracks_quantile(spark, sf_dir):
    from searchengine_spark.operators.similarity import OUTLIER_Q, QUERIES

    import pandas as pd

    pdf = QUERIES["sim_centroid_outliers"](spark, sf_dir).toPandas()
    for label, grp in pdf.groupby("label"):
        rate = grp["is_outlier"].mean()
        # quantile cut: ~5% per label (allow slack for small labels)
        assert rate <= OUTLIER_Q + 2.0 / max(len(grp), 1)


# ------------------------------------------------ epoch schedule


def test_epoch_schedule_composition(spark, sf_dir):
    from searchengine_spark.operators.mixture import EPOCHS_TENTHS, QUERIES

    rows = QUERIES["mix_epoch_schedule"](spark, sf_dir).collect()
    assert rows, "recipe covers every fixture source"
    by_et = {}
    for r in rows:
        et = EPOCHS_TENTHS[r.source]
        tot, n = by_et.get(et, (0, 0))
        by_et[et] = (tot + r.n_copies, n + 1)
        # copies bracket the recipe: floor(e) or floor(e)+1
        assert r.n_copies in (et // 10, et // 10 + 1)
    for et, (tot, n) in by_et.items():
        if et % 10 == 0:  # whole epochs: EXACT, no hash slice at all
            assert tot == (et // 10) * n
        else:  # fractional: mean within 15% of the recipe
            assert abs(tot / n - et / 10.0) < 0.15 * (et / 10.0) + 0.05


def test_epoch_schedule_is_map_only(spark, sf_dir):
    from searchengine_spark.operators.mixture import QUERIES

    df = QUERIES["mix_epoch_schedule"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


# ------------------------------------------------ DP mean


def test_dp_mean_release_and_clip_fraction(spark, sf_dir):
    from searchengine_spark.operators.privacy import QUERIES

    r = QUERIES["privacy_dp_mean"](spark, sf_dir).collect()[0]
    assert 0.0 <= r.clip_fraction <= 1.0
    assert r.released_mean != r.true_clipped_mean, "noise must be present"
    # eps=1 Laplace on a C-bounded sum: error well under the mean
    assert r.abs_error < r.true_clipped_mean


def test_dp_mean_clip_binds_on_planted_whale(spark, tmp_path_factory):
    # one whale user far past the bound: the clipped mean must be
    # insensitive to HOW far past (the DP point of clipping)
    import os
    from datetime import datetime

    from searchengine_spark.operators.privacy import QUERIES

    ts = datetime(2024, 1, 1)
    base = [(i, ts, i, "view", 100.0, "{}") for i in range(20)]

    def mk(whale_value):
        rows = base + [(99, ts, 99, "view", whale_value, "{}")]
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )

    outs = []
    for i, wv in enumerate((1e6, 1e9)):
        d = str(tmp_path_factory.mktemp(f"dpm{i}"))
        mk(wv).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        outs.append(QUERIES["privacy_dp_mean"](spark, d).collect()[0])
    assert outs[0].released_mean == outs[1].released_mean
    assert outs[0].clip_fraction == outs[1].clip_fraction


# ------------------------------------------------ LOO ablation


def test_loo_ablation_identity(spark, sf_dir):
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.mixture import QUERIES

    import pyspark.sql.functions as F

    rows = QUERIES["mix_loo_source_ablation"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    g = docs.agg(
        F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    for r in rows[:3]:
        # recompute one LOO mean from first principles
        src = docs.filter(F.col("source") == r.source).agg(
            F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        want = (g.s - src.s) / (g.n - src.n)
        assert abs(r.loo_mean_chars - round(want, 6)) < 1e-6
    # influences are small perturbations around zero and not all equal
    infl = [r.influence for r in rows]
    assert any(x > 0 for x in infl) and any(x < 0 for x in infl)


# ------------------------------------------------ DP quantile


def test_dp_quantile_release_is_near_truth(spark, sf_dir):
    from searchengine_spark.operators.privacy import DPQ_BIN_CENTS, QUERIES

    r = QUERIES["privacy_dp_quantile"](spark, sf_dir).collect()[0]
    # with utility scale >> noise scale the EM lands within a few
    # bins of the truth; the release is always a bin boundary
    assert r.abs_error < 5 * DPQ_BIN_CENTS / 100.0
    assert (round(r.released_median * 100) % DPQ_BIN_CENTS) == 0


def test_dp_quantile_never_releases_raw_value(spark, sf_dir):
    # the released value must be a GRID point, not any observed value
    # with sub-bin precision (the privacy point of discretized EM)
    from searchengine_spark.operators.privacy import QUERIES

    r = QUERIES["privacy_dp_quantile"](spark, sf_dir).collect()[0]
    assert r.released_median != r.true_median


# ------------------------------------------------ tiered re-rank


def test_tiered_rerank_beats_or_ties_one_tier(spark, sf_dir):
    """Re-ranking the truncated shortlist with full-dim cosine can
    only help: tiered recall >= single-tier truncation recall, and a
    shortlist as large as the corpus gives recall exactly 1."""
    from searchengine_spark.operators.similarity import QUERIES

    tiered = QUERIES["sim_tiered_rerank_recall"](spark, sf_dir).collect()[0]
    one_tier = QUERIES["sim_dim_truncation_recall"](spark, sf_dir).collect()[0]
    assert tiered.recall >= one_tier.recall
    assert tiered.shortlist_k == 50 and tiered.k == 10


def test_tiered_rerank_full_shortlist_is_exact(spark, sf_dir):
    # shortlist == whole corpus -> re-rank IS the exact top-k. The
    # shortlist size is the corpus row count, not a huge sentinel:
    # cosine_topk's orderBy().limit(k) plans TakeOrderedAndProject,
    # whose per-task top-k buffer is sized by k (10**9 exhausted the
    # driver heap and killed the JVM).
    import searchengine_spark.operators.similarity as sim
    from searchengine_spark.io import load_table

    orig = sim.SHORTLIST_K
    sim.SHORTLIST_K = load_table(spark, sf_dir, "embeddings").count()
    try:
        r = sim.QUERIES["sim_tiered_rerank_recall"](spark, sf_dir).collect()[0]
        assert r.recall == 1.0
    finally:
        sim.SHORTLIST_K = orig


# ------------------------------------------------ global order rank


def test_global_order_rank_equals_naive_window(spark, sf_dir):
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.export import QUERIES

    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    want = {
        r.doc_id: r.rk
        for r in docs.select(
            "doc_id", F.row_number().over(w).alias("rk")
        ).collect()
    }
    got = {
        r.doc_id: r.global_rank
        for r in QUERIES["export_global_order_rank"](spark, sf_dir).collect()
    }
    assert got == want


def test_global_order_rank_plan_keys_on_bucket(spark, sf_dir):
    from searchengine_spark.operators.export import QUERIES

    plan = _plan(QUERIES["export_global_order_rank"](spark, sf_dir))
    import re

    specs = re.findall(
        r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan
    )
    data_specs = [s for s in specs if "n_chars" in s]
    assert data_specs, "expected the global rank window"
    for s in data_specs:
        assert s.startswith("_db#"), f"global rank sorts in one task: {s}"
