"""Bigram-LM perplexity (CCNet-style quality signal): hand-computed
goldens + the unseen-transition branches."""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from searchengine_spark.text.lm import SMOOTH_ALPHA, bigram_lm, score_perplexity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_self_scored_perplexity_hand_computed(spark):
    # corpus: c(aa,bb)=2, c(bb,aa)=1, c(bb,cc)=1; c(aa)=2, c(bb)=2; V=3
    docs = _docs(spark, [(1, "aa bb aa"), (2, "aa bb cc")])
    out = {r.doc_id: r for r in score_perplexity(docs).collect()}
    a = SMOOTH_ALPHA
    p_bb_aa = (2 + a) / (2 + a * 3)   # P(bb|aa)
    p_aa_bb = (1 + a) / (2 + a * 3)   # P(aa|bb)
    p_cc_bb = (1 + a) / (2 + a * 3)   # P(cc|bb)
    ppl1 = math.exp(-(math.log(p_bb_aa) + math.log(p_aa_bb)) / 2)
    ppl2 = math.exp(-(math.log(p_bb_aa) + math.log(p_cc_bb)) / 2)
    assert out[1].n_bigrams == 2 and out[1].ppl == pytest.approx(ppl1, abs=1e-6)
    assert out[2].n_bigrams == 2 and out[2].ppl == pytest.approx(ppl2, abs=1e-6)


def test_cross_corpus_scoring_unseen_branches(spark):
    """Score a foreign corpus: pair-unseen-in-known-context uses the
    smoothed floor a/(c_v + a*V); context-unseen uses uniform 1/V."""
    train = _docs(spark, [(1, "aa bb aa"), (2, "aa bb cc")])
    model = bigram_lm(train)
    a = SMOOTH_ALPHA
    out = {
        r.doc_id: r
        for r in score_perplexity(
            _docs(spark, [(10, "bb bb"), (11, "cc aa"), (12, "aa bb")]),
            model,
        ).collect()
    }
    assert out[10].ppl == pytest.approx(1 / (a / (2 + a * 3)), abs=1e-6)
    assert out[11].ppl == pytest.approx(3.0, abs=1e-6)  # uniform 1/V, V=3
    assert out[12].ppl == pytest.approx((2 + a * 3) / (2 + a), abs=1e-6)


def test_short_docs_excluded(spark):
    # docs with < 2 tokens have no bigrams and no perplexity row
    docs = _docs(spark, [(1, "aa"), (2, ""), (3, "aa bb")])
    assert [r.doc_id for r in score_perplexity(docs).collect()] == [3]


def test_low_perplexity_flags_repetitive_text(spark):
    """The quality-filter property: text matching the corpus's
    dominant transitions scores lower ppl than shuffled text."""
    repetitive = " ".join(["aa bb"] * 30)
    docs = _docs(
        spark,
        [(1, repetitive), (2, repetitive), (3, "bb aa cc aa bb cc cc bb")],
    )
    out = {r.doc_id: r.ppl for r in score_perplexity(docs).collect()}
    assert out[1] < out[3]


def test_stupid_backoff_semantics(spark):
    """Seen pair -> ML ratio; unseen pair, seen word -> 0.4*c(w)/N;
    unseen word -> 0.4/N — checked against hand computation."""
    import math

    from searchengine_spark.text.lm import stupid_backoff_scores

    train = spark.createDataFrame(
        [(0, "a b a b c")], ["doc_id", "text"]
    )  # c(a,b)=2 c(b,a)=1 c(b,c)=1; c_v: a=2 b=2; uni a=2 b=2 c=1, N=5
    score = spark.createDataFrame(
        [(1, "a b x"), (2, "c a")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in stupid_backoff_scores(train, score).collect()
    }
    # doc 1: (a,b) seen: ln(2/2); (b,x) unseen word: ln(0.4/5)
    lp1 = (math.log(2 / 2) + math.log(0.4 / 5)) / 2
    assert rows[1]["n_backoff"] == 1
    assert rows[1]["sb_ppl"] == round(math.exp(-lp1), 6)
    # doc 2: (c,a) unseen pair, seen word a: ln(0.4*2/5)
    lp2 = math.log(0.4 * 2 / 5)
    assert rows[2]["n_backoff"] == 1
    assert rows[2]["sb_ppl"] == round(math.exp(-lp2), 6)


def test_stupid_backoff_matches_oracle_and_backs_off(spark, sf_dir):
    from pyspark.sql import functions as F

    from searchengine_spark.text import lm
    from tests.helpers import assert_matches_oracle

    df = lm.q_lm_stupid_backoff(spark, sf_dir).cache()
    agg = df.agg(
        F.sum("n_backoff").alias("nb"), F.sum("n_bigrams").alias("n")
    ).collect()[0]
    # the split makes unseen transitions real, but most mass is seen
    assert 0 < agg["nb"] < agg["n"]
    assert_matches_oracle(
        df,
        lm.ORACLES["text_lm_stupid_backoff"],
        sf_dir,
        name="text_lm_stupid_backoff",
    )
    df.unpersist()


def test_kneser_ney_continuation_beats_frequency(spark):
    # "york" appears 6x but ONLY after "new"; "the" appears 6x after
    # 6 distinct contexts. KN continuation must score P(the) > P(york)
    # for an unseen context, even though raw unigram counts tie.
    from searchengine_spark.text.lm import kneser_ney_scores

    train_texts = [
        "new york " * 6,
        "on the in the at the by the from the to the",
    ]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], "doc_id long, text string"
    )
    # score docs: unseen context 'zz' followed by each candidate
    score = spark.createDataFrame(
        [(10, "zz york"), (11, "zz the")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in kneser_ney_scores(train, score).collect()}
    # both transitions are unseen; lower ppl == higher probability
    assert out[11]["kn_ppl"] < out[10]["kn_ppl"]
    assert out[10]["n_unseen"] == 1 and out[11]["n_unseen"] == 1


def test_kneser_ney_seen_beats_unseen(spark):
    from searchengine_spark.text.lm import kneser_ney_scores

    # one long doc of back-to-back "alpha beta gamma" sentences:
    # (alpha,beta) is seen; (beta,alpha) never occurs
    train = spark.createDataFrame(
        [(0, "alpha beta gamma " * 5)], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "alpha beta"), (11, "beta alpha")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in kneser_ney_scores(train, score).collect()}
    assert out[10]["n_unseen"] == 0
    assert out[11]["n_unseen"] == 1
    assert out[10]["kn_ppl"] < out[11]["kn_ppl"]
