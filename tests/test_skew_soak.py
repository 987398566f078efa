"""Adversarial-skew soak: the guards must ENGAGE under the exact
fixture scripts/soak.py:build_skewed records ratios for (round-10
verdict item 7).

test_curate_cap.py / test_skew.py prove the cap and the salt work
mechanically; these tests prove they fire under THIS fixture's shapes
(counter-based, no plan-string fragility), and test_soak_skew_section
pins the committed SOAK.json ratios the way test_soak_doc.py pins the
uniform-replication ones.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MAX_RATIO = 5.0


def _soak_mod():
    spec = importlib.util.spec_from_file_location(
        "soak", os.path.join(ROOT, "scripts", "soak.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def skew_docs(spark, sf_dir):
    """The build_skewed document overrides at test scale: hot source
    ~50%, boilerplate template ~5% (same salts/cuts as the soak)."""
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.sampling import hash_bucket

    tmpl = _soak_mod()._SKEW_TEMPLATE
    docs = load_table(spark, sf_dir, "documents")
    # At test SF the 5% boilerplate share may not overflow the 64-doc
    # bucket cap; union the extra template mass the soak fixture has
    # at sf0.1 so the cap path is exercised at every test scale.
    extra = spark.createDataFrame(
        [
            (1_000_000_000 + i, f"{tmpl} copy{1_000_000_000 + i}", "en",
             "hot_source", 0)
            for i in range(150)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = docs.unionByName(extra)
    b_src = hash_bucket(F.col("doc_id"), salt="skewsrc")
    b_boil = hash_bucket(F.col("doc_id"), salt="skewboiler")
    return (
        docs.withColumn(
            "source",
            F.when(b_src < 5000, F.lit("hot_source")).otherwise(
                F.col("source")
            ),
        )
        .withColumn(
            "text",
            F.when(
                b_boil < 500,
                F.concat(
                    F.lit(tmpl + " copy"), F.col("doc_id").cast("string")
                ),
            ).otherwise(F.col("text")),
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
        .cache()
    )


def test_fixture_plants_the_skews(skew_docs):
    n = skew_docs.count()
    hot = skew_docs.filter(F.col("source") == "hot_source").count()
    # ~50% of the base docs + the planted extra mass (all hot_source)
    assert 0.4 * n <= hot <= 0.75 * n, f"hot source carries {hot}/{n}"
    boiler = skew_docs.filter(
        F.col("text").startswith("analysts measure")
    ).count()
    assert boiler >= 10, f"only {boiler} boilerplate docs planted"


def test_mega_bucket_cap_engages_on_fixture(skew_docs):
    from searchengine_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        hot_buckets,
        minhash_bands,
        neardup_candidate_pairs,
        shingle_frame,
    )

    bands = minhash_bands(shingles=shingle_frame(skew_docs)).cache()
    n_hot = hot_buckets(bands, DEFAULT_MAX_BUCKET).count()
    boiler = skew_docs.filter(
        F.col("text").startswith("analysts measure")
    ).count()
    if boiler <= DEFAULT_MAX_BUCKET:
        pytest.skip("test SF too small to overflow the bucket cap")
    assert n_hot > 0, "boilerplate mega-bucket not detected hot"
    # With the default cap, the mega-bucket is excluded from pair
    # enumeration: output must stay far below the uncapped B^2/2.
    capped = neardup_candidate_pairs(bands).count()
    assert capped < (boiler * (boiler - 1)) // 4, (
        f"{capped} pairs — the cap did not bound the mega-bucket "
        f"({boiler} boilerplate docs)"
    )


def test_salted_agg_engages_and_matches_on_fixture(skew_docs):
    from searchengine_spark.operators.skew import DEFAULT_SALTS, salted_count_sum

    got = {
        r["source"]: (r["n_rows"], r["total"])
        for r in salted_count_sum(skew_docs, ["source"], "n_chars").collect()
    }
    want = {
        r["source"]: (r["n"], float(r["t"]))
        for r in skew_docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("decimal(28,2)"))
            .cast("double")
            .alias("t"),
        )
        .collect()
    }
    assert got == want, "salted aggregation changed the answer"
    # Engagement counter: the hot key's rows actually spread over
    # multiple salt partials (not one reducer).
    salted = skew_docs.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in skew_docs.columns]),
            F.lit(DEFAULT_SALTS),
        ),
    )
    spread = (
        salted.filter(F.col("source") == "hot_source")
        .select("_salt")
        .distinct()
        .count()
    )
    assert spread > DEFAULT_SALTS // 2, (
        f"hot source spread over only {spread} salts"
    )


def test_soak_skew_section_recorded_and_bounded():
    with open(os.path.join(ROOT, "SOAK.json")) as fh:
        rec = json.load(fh)
    mod = _soak_mod()
    skewed = rec.get("skewed")
    if skewed is None:
        pytest.skip("SOAK.json predates the skew pass — rerun "
                    "scripts/soak.py --skew-only")
    assert set(skewed["queries"]) == set(mod.SKEW_QUERIES), (
        "SOAK.json skew section is stale — rerun scripts/soak.py "
        "--skew-only"
    )
    for name, r in skewed["queries"].items():
        for f in (1, 5):
            assert r.get(f"x{f}", -1) > 0, f"{name}: missing/failed x{f}"
            assert f"x{f}_err" not in r, f"{name}: {r.get(f'x{f}_err')}"
        assert r["ratio_x5"] <= MAX_RATIO, (
            f"{name}: skewed x5 ratio {r['ratio_x5']} exceeds the "
            "linear bound — triage before re-recording"
        )


def test_heavy_x10_adjudication_recorded_and_sublinear():
    """Round-12: the flat-output heavy_x10 outliers carry a committed
    fresh-process adjudication with internal counters. The pinned
    invariants: candidate volume grows ~quadratically by fixture
    construction, and the engine's per-candidate rate IMPROVES at x10
    (sublinear per unit of real work — the outlier was work volume,
    not a regression)."""
    with open(os.path.join(ROOT, "SOAK.json")) as fh:
        rec = json.load(fh)
    adj = rec.get("heavy_x10_adjudication_r12")
    if adj is None:
        pytest.skip("SOAK.json predates the r12 adjudication — rerun "
                    "scripts/adjudicate_soak_x10.py")
    for name in ("dedup_lsh_recall_audit", "pipeline_curated_docs"):
        r = adj[name]
        assert r["candidate_ratio"] > 50, (
            f"{name}: candidate growth {r['candidate_ratio']} — the "
            "quadratic-by-construction premise no longer holds"
        )
        assert (
            r["sec_per_1k_candidates_x10"] < r["sec_per_1k_candidates_x1"]
        ), f"{name}: per-candidate rate got WORSE at x10 — real regression"
        assert r["hot_buckets_x10"] == 0, (
            f"{name}: cap engaged on the replication shape — the "
            "adjudication note's premise changed, re-adjudicate"
        )
