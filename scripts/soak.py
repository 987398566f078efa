#!/usr/bin/env python
"""Scale soak beyond the driver's sf0.1: replicate the sf0.1 tables
with shifted keys to 2x and 5x volume, run the structurally riskiest
query families at each scale, and record per-query wall times +
growth ratios in SOAK.json.

Why replication (not a new generator): shifting doc_id/user_id by a
disjoint offset per copy preserves exactly the distributions that
stress the operators — duplicate-group structure for the dedup family
(each copy adds whole new dup clusters), per-user event-time spans for
gap-fill (the grid explosion risk grows with USERS, not rows-per-user),
and per-user funnel paths. Every copy is new key mass, so work should
scale ~linearly; a superlinear ratio is the red flag this soak exists
to catch.

Usage: python scripts/soak.py          # writes SOAK.json at the checkout root
Scratch parquet goes under /tmp/spark_graft_soak (not the repo).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOAK_JSON = os.path.join(ROOT, "SOAK.json")
sys.path.insert(0, ROOT)

BASE = "/root/testdata/sf0.1"
SCRATCH = "/tmp/spark_graft_soak"
FACTORS = (1, 2, 5)
# the shapes the round-3 verdict flagged to watch: gap-fill grid
# explosion per user span, funnel join fan-out, dedup banding/joins,
# iterative clustering, cross-doc span chaining.
QUERIES = (
    "dedup_minhash_bands",
    "dedup_neardup_jaccard",
    "dedup_duplicate_clusters",
    "dedup_cross_doc_spans",
    "events_gap_fill_hourly",
    "events_funnel",
    "events_retention_cohorts",
    "events_user_growth",
    # round-4 additions: the all-pairs TF-IDF join (candidate blowup
    # risk), the iterative Lloyd trainer + within-cluster SemDeDup
    # (cluster-size^2 risk), the trailing-window anomaly scorer, and
    # the stream-stream join replay (state-growth risk).
    "sim_tfidf_shingle_pairs",
    "emb_kmeans_clusters",
    "emb_semdedup_prune",
    "events_anomaly_zscore",
    "stream_view_purchase_join_replay",
    # round-4 (cont.): incremental index append (batch stays fixed
    # 10% of a growing corpus — per-append cost must track corpus
    # vocab, not corpus tokens), SymSpell variant join (vocab-bound),
    # span scrubbing (rewrite fan-out), per-source quota (skewed
    # window), and the fixed-probe-set fuzzy match.
    "se_index_incremental_idf",
    "se_fuzzy_term_match",
    "dedup_span_scrubbed_docs",
    "sample_source_quota",
    # round-4 (cont.): the iterative PageRank (join-per-round growth
    # risk) and the rollup IVM merge (group-cardinality growth).
    # dedup_prefix_jaccard_pairs is deliberately NOT soaked: key-
    # replication makes EVERY doc a 5-way exact clone, so an EXACT
    # threshold join's TRUE OUTPUT grows ~copies^2 by construction
    # (each doc must pair with its clones) and its measured 43x was
    # output volume, not an engine defect — and its giant candidate
    # intermediates then evict the shared session caches, corrupting
    # every later query's number (gap-fill read 24x in that run vs
    # 1.2x in isolation). Production ordering is exact-dedup FIRST,
    # prefix join on uniques (see operators/setjoin.py docstring).
    "dedup_pagerank_centrality",
    "events_incremental_rollup",
    # round-5 additions: perceptual-hash image pairs (banded join —
    # output grows ~copies^2 under replication like every near-dup
    # pair family, see note), content-defined chunking + dup rollup,
    # a-priori pair mining (more items cross the fixed support bar as
    # docs grow), hybrid RRF (brute cosine + BM25 + fuse), the salted
    # join, PPS sampling's distributed prefix sum, and the
    # percentile-clip aggregation.
    "mm_image_dhash_neardup",
    "text_cdc_chunks",
    "text_cdc_dup_chunks",
    "text_frequent_pairs",
    "se_hybrid_rrf_topk",
    "sample_weighted_pps",
    "skew_salted_join_stats",
    "events_winsorized_stats",
    # round-5 (cont.): the d^2-per-row second-moment build feeding
    # power iteration (explode fan-out risk), exact-partials OLS,
    # and the regex-heavy readability map.
    "emb_pca_top_direction",
    "events_value_hour_regression",
    "text_readability",
    # round-5 (cont.): two-phase grouped top-k (survivor-set growth),
    # triangle counting (wedge fan-out grows with dup-group size under
    # replication — watch it), attribution (touch fan-out), PSI drift
    # (vocab join), JL projection (explode x 16), BPE pair counts
    # (vocab-bounded — should be FLAT as the corpus replicates).
    "events_top3_per_type",
    "dedup_triangle_counts",
    "events_attribution_credit",
    "text_drift_psi",
    "emb_jl_projection",
    "text_bpe_top_pairs",
    # round-5 (cont.): curation provenance (stage-frame reuse), the
    # one-pass DQ suite, z-order ranking (the exact-ntile sort is the
    # deliberate write-time cost; watch the single-task merge), the
    # bloom build+probe (sketch is fixed-size — probe cost should
    # scale with fact, build with dim), and the snapshot-diff
    # full-outer (|changes| output but |table| join).
    "pipeline_drop_reasons",
    "dq_orders_expectations",
    "layout_zorder_keys",
    "join_bloom_prefilter",
    "src_versioned_diff",
    # round-5 (cont. 2): hard-negative mining (bucket fan-out x
    # window), per-source calibration (few-partition window risk),
    # and the left-outer streaming join (outer state growth).
    "emb_hard_negatives",
    "text_quality_calibrated",
    "stream_view_purchase_left_join_replay",
    # round-5 (cont. 3): lakehouse read paths — schema-merge read,
    # manifest file skipping (append fan-out per scale), and the MoR
    # keyed-window reconcile (delta-chain growth risk).
    "src_versioned_schema_evolution",
    "src_versioned_pruned_read",
    "src_versioned_mor_read",
    # round-5 (cont. 4): sharded export (prefix-sum fan-in), the
    # keyless binned range join (bin fan-out x spike count), and the
    # two-pass PRF retrieval (second tf pass over expanded terms).
    "export_shard_assignment",
    "rel_session_spike_overlap",
    "se_bm25_prf_topk",
    # round-5 (cont. 5): cluster-level splits (CC + join fan-in),
    # char entropy (per-char explode — the widest explode in the
    # repo), and best-passage (token explode bounded by the top-k
    # semi-join).
    "split_leakage_safe",
    "text_char_entropy",
    "se_best_passage",
    # round-7 additions: the composed IVF-PQ search (iterative coarse
    # + residual-PQ training is the heaviest new shape; probe cost
    # must track n_probe/K of the index, train ~linear in vectors),
    # intra-doc scrub (token explode + three doc-keyed windows),
    # the relational CMS (D-way explode, state bounded at D*W cells
    # per partition regardless of scale — watch it stay FLAT-ish per
    # token), the forward as-of (union window), cross-corpus stupid
    # backoff (model join grows with train vocab^2 worst case), the
    # join-form blocklist (|grams| x broadcast list), and the
    # distributed footer-manifest build (write + footer-only read).
    "emb_ivfpq_topk",
    "text_intra_doc_scrub",
    "approx_cms_word_counts",
    "rel_asof_forward_next_purchase",
    "text_lm_stupid_backoff",
    "text_blocklist_join_filter",
    "layout_footer_stats",
    # round-8 additions (round-7 verdict item 3 — the late-r7 operators
    # landed after the soak regen): PQ codebook training (iterative
    # Lloyd's, M*K driver collect per iteration — cost must track
    # vectors linearly), the batch IVF-PQ serving path (ONE codes scan
    # + broadcast distance tables — must stay index-probe-shaped, not
    # corpus-shaped), the HLL-inside-watermarked-rollup replay
    # (stateful streaming state growth), and eigenvector centrality
    # (iterative join-per-round over the capped candidate graph; also
    # in HEAVY_X10 below — the uncapped-input risk the round-8 cap
    # closed).
    "emb_pq_codes",
    "emb_ivfpq_batch_topk",
    "stream_hll_rollup_replay",
    "dedup_eigenvector_centrality",
    # round-8 operators with scale-sensitive shapes: MaxScore (the
    # essential-term candidate set must shrink work, not add a pass),
    # packed windows (two-level prefix sum — offsets window must stay
    # constant-size), DSIR (512-bucket model joins + percentile
    # threshold), cluster survivorship (window over components that
    # MERGE under replication — cluster growth is the risk), chunk
    # retrieval recall (a second, chunk-fanout index build per run),
    # and the gram-keyed novelty join.
    "se_maxscore_topk",
    "export_packed_windows",
    "mix_dsir_selection",
    "dedup_cluster_survivorship",
    "se_chunk_retrieval_recall",
    "dedup_ngram_novelty",
    # round-8 late adds: the arrival-order two-level running max (its
    # bucket frame grows with the time span), the global hash top-K
    # reservoir (TakeOrdered must stay K-bounded), and the KMV merge
    # (anti-join identity over K-per-group frames).
    "events_watermark_sizing",
    "approx_quantile_sample",
    "approx_kmv_merge_audit",
    # round-9 operators: the distributed-rank adopters re-soak under
    # their new two-level plans via the existing entries above
    # (curriculum/stratified/quota/skew/kmv); new shapes added here —
    # vocabulary-growth tokenize+min-agg, the priority prefix-sum
    # budget fill, the B=32 conditional-sum bootstrap (md5-bound scan),
    # per-vector centroid audit (posexplode fan-out), all-postings
    # static-pruning scoring, the no-partition global rank, the
    # two-pass tiered re-rank, and the cheap map-only/TakeOrdered ops
    # (epoch schedule, A-ES, DiD, DP quantile) as canaries.
    "text_heaps_vocab_growth",
    "mix_token_budget_fill",
    "events_bootstrap_ci",
    "sim_centroid_outliers",
    "se_static_pruning_recall",
    "export_global_order_rank",
    "sim_tiered_rerank_recall",
    "mix_epoch_schedule",
    "sample_aes_weighted_topn",
    "events_did_estimate",
    "privacy_dp_quantile",
    "privacy_dp_mean",
    "mix_loo_source_ablation",
    # round-10 operators: the sample-trained Lloyd loops re-soak via
    # the existing emb_kmeans_clusters / emb_pq_codes / emb_ivfpq_*
    # entries above (training cost must now be FLAT-ish in corpus
    # size — the hash-sample is ~250 rows at every factor — while
    # the final encode pass stays linear); new shapes added here —
    # the no-retrain batch append (encode linear in the 20% batch),
    # its per-cell drift audit (two encode passes + keyed agg), the
    # streaming band-match (per-batch banding + stream-static join
    # against a band index that grows with the corpus), and the
    # map-only fertility audit as a canary.
    "ann_ivf_append_assign",
    "ann_ivf_append_drift_audit",
    "stream_neardup_replay",
    "text_tokenizer_fertility",
    # round-10 (session 2) shapes: frontier BFS (graph grows with
    # dup-group mass under replication — the wavefront join is the
    # risk), the maintained streaming leaderboard (partials grow with
    # user-hours; the pruned rank must stay O(hours*K)), the
    # zone-map audit (no-partition distributed rank over a growing
    # orders table), seasonal-naive MASE (hour-keyed joins — hours
    # are FIXED under replication, so this must be flat-ish), LTR
    # feature extraction (tf-scan-bound), t-closeness (QI x band grid
    # is data-bounded), OHLC (one hash agg, linear), and the DFT
    # filter bank (map-only, linear canary).
    "dedup_bfs_contamination_hops",
    "stream_topk_leaderboard_replay",
    "layout_zonemap_prune_audit",
    "events_seasonal_naive_mase",
    "se_ltr_features",
    "privacy_t_closeness_audit",
    "events_ohlc_hourly",
    "mm_wav_spectral_bins",
    # KN scoring: model tables are bigram-TYPE-bounded — watch that
    # cost tracks vocabulary, not corpus tokens, under replication.
    "text_lm_kneser_ney",
    # round-10 (session 3) shapes: KM survival (two per-user keyed
    # aggs; the curve/product fold is horizon-bounded so the tail
    # must stay flat), the KS ECDF (distinct-cents table is value-
    # grid-bounded — watch the two-level prefix sum stay flat-ish),
    # Holt's fold (hours are FIXED under replication — must be flat
    # after the hourly agg), restart-PageRank (join-per-round over
    # the capped graph, like the other centralities), BM25F (token-
    # linear posexplode + tf join), and two keyed-agg canaries
    # (k-fold balance, BH-FDR moments).
    "events_survival_km",
    "events_ks_variant",
    "events_holt_forecast",
    "dedup_personalized_pagerank",
    "se_bm25f_topk",
    "sample_kfold_balance",
    "events_bh_fdr",
    # round-13 (r12 verdict task 8): the multilingual operators. The
    # NFC pandas_udf is the one new Python boundary on the corpus
    # scan — its Arrow-batched per-row cost must stay flat under
    # replication; the unicode/CJK token stats are tokenize+agg
    # canaries (linear), and the NFC dedup group-by is one hash
    # shuffle keyed on the normalized string. The round-13
    # language-routed frame (langid CASE + per-lang stop filter +
    # bigram resegment, all map-side) and the full routed curation
    # chain ride along as the composed-path canaries.
    "text_unicode_tokens",
    "text_cjk_bigram_tokens",
    "text_normalize_stats",
    "dedup_nfc_groups",
    "text_routed_langs",
    "pipeline_curated_docs_multilingual",
    # round-13 session-2 shapes: detected-language resampling (keyed
    # agg + broadcast rate table), the homoglyph audit (map-only
    # rlike probes), and line-level boilerplate removal — the line
    # explode + line-keyed distinct-doc count + order-preserving
    # reassembly agg is the round's one new shuffle-bearing shape;
    # replication grows line df linearly, so the boiler set (and its
    # broadcast) must stay near-constant while the scrub scales with
    # text volume.
    "mix_routed_lang_resample",
    "text_confusable_script_audit",
    "dedup_boilerplate_lines",
    "pipeline_line_scrubbed_docs",
)
KEY_OFFSET = 10_000_000  # disjoint id space per copy

# Round-7: the structurally heaviest shapes additionally soak at x10
# (round-5 verdict item 7 — the r4 SemDeDup 47x blowup only appeared
# when the factor was pushed). Measured FRESH (own x1 + x10 pass with
# cache clears) so their giant intermediates can't corrupt the broad
# set's numbers — which is also why dedup_prefix_jaccard_pairs can
# appear here but stays out of QUERIES (see note above).
# pipeline_curated_docs is the CAPPED production curate chain.
HEAVY_X10 = (
    "dedup_lsh_recall_audit",
    "dedup_prefix_jaccard_pairs",
    "split_leakage_safe",
    "dedup_pagerank_centrality",
    "pipeline_curated_docs",
    # round-8: iterative power method over the candidate graph — the
    # profile (join per round x graph that grows with dup-group size
    # under replication) HEAVY_X10 exists for.
    "dedup_eigenvector_centrality",
    # round-9 (verdict item 5): the structurally heavy round-8 ops —
    # survivorship's input is the capped cluster graph (clusters MERGE
    # under replication), MaxScore's worst x5 was 3.13 (confirm it
    # flattens: candidate pruning must keep work bounded), and packed
    # windows' two-level prefix sum under 10x token volume.
    "dedup_cluster_survivorship",
    "se_maxscore_topk",
    "export_packed_windows",
)
# x10 linear bound; pair-output families legitimately exceed 10 a bit
# (replication makes every doc a 10-way clone -> pair OUTPUT grows
# ~100x by construction), so breaches get min-of-2 re-measured and
# documented rather than auto-failed.
X10_BOUND = 10.0

# Hot-key streaming soak (round-5 verdict item 8): ONE user carries
# 20% of all events through the watermarked stream-stream join. The
# generator lives in streaming/events.py (hotkey_events_frame);
# correctness under the same skew is pinned by
# tests/test_skew_streaming.py — this records the scaling ratio.
HOTKEY_N_X1 = 20_000


def build_hotkey_events(spark, factor: int) -> str:
    """Planted skewed stream-source dir at factor-x volume. Replication
    scales TOTAL volume while the hot key stays hot (its state grows
    linearly with the factor on a single state-store partition).

    File count is FIXED (40 files -> 5 micro-batches at the replay's
    maxFilesPerTrigger=8) at every factor, so growth shows up as
    bigger batches, not more batches. That mirrors production: trigger
    cadence is pinned by the sink SLA, so load growth widens each
    micro-batch. It also keeps the replay-wide-watermark harness
    honest — with state never evicted (the price of exact output under
    out-of-order arrival), per-batch state-commit cost grows with
    batch INDEX, so scaling batch count with volume measures the
    harness's quadratic-in-batches replay artifact instead of the
    operator (measured 6.4x at x5 with 8*factor files; fixed-batch
    replay restores the linear expectation)."""
    from searchengine_spark.streaming.events import hotkey_events_frame

    out = os.path.join(SCRATCH, f"hotkey_x{factor}")
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    os.makedirs(out, exist_ok=True)
    hotkey_events_frame(spark, n_events=HOTKEY_N_X1 * factor).repartition(
        40
    ).write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    open(os.path.join(out, "_OK"), "w").close()
    return out


# ---- adversarial Zipf-skew soak (round-10 verdict item 7) ----
# The uniform replication above preserves the generator's BALANCED
# distributions (20 equal sources, ~uniform user activity, no LSH
# bucket past the cap), so the salted/capped code paths never face
# the shapes they exist for. This fixture plants three canonical
# skews and holds their SHARE constant as volume grows — the hot
# structures themselves grow factor-x:
#   - one source carries ~50% of documents   (per-source windows,
#     quota sampling, quality calibration)
#   - one user carries ~30% of events        (sessionize / funnel /
#     grouped top-k hot reducer; the salted-join demo)
#   - ~5% of documents share one boilerplate template (near-dup but
#     not byte-identical -> ONE LSH mega-bucket, 250 docs at x1 /
#     1250 at x5, far past DEFAULT_MAX_BUCKET=64 -> the hot-bucket
#     cap is load-bearing: uncapped pair output would grow 25x)
# Engagement of the cap/salt under exactly these shapes is asserted
# by tests/test_skew_soak.py (counters), test_curate_cap.py and
# test_skew.py (mechanism); this soak records the SCALING ratios.
SKEW_HOT_USER = 7
_SKEW_TEMPLATE = (
    "analysts measure deduplication pipelines carefully using banded "
    "minhash signatures across sharded corpora while quality gates "
    "score documents tokens ratios lengths diversity repetition "
    "entropy compression metrics before exporting curated training "
    "batches downstream storage systems record template marker number"
)
SKEW_QUERIES = (
    # LSH mega-bucket -> hot-bucket cap path
    "dedup_minhash_bands",
    "dedup_neardup_jaccard",
    "dedup_duplicate_clusters",
    "pipeline_curated_docs_gopher",
    # hot source -> per-source windows/quotas/calibration
    "sample_source_quota",
    "text_quality_calibrated",
    "split_train_val_test",
    # salted paths under the skew they exist for
    "skew_salted_lang_stats",
    "skew_salted_join_stats",
    # hot user -> per-key windows and grouped top-k
    "events_sessionize",
    "events_funnel",
    "events_top3_per_type",
    # round-11 ops whose stress shape IS this fixture: the boilerplate
    # mega-bucket's shingles exceed the decontam df cap (they must be
    # pruned, not joined), the hot source dominates the per-source
    # perplexity terciles, and the chunk audit's explode rides the
    # replicated text volume.
    "decontam_bloom_prefilter",
    "text_ccnet_ppl_buckets",
    "text_mixed_lang_chunks",
)


def build_skewed(spark, factor: int) -> str:
    """Materialize the Zipf-skewed documents+events at factor-x under
    SCRATCH. Overrides are applied AFTER key shifting so every copy
    feeds the SAME hot source / hot user / boilerplate template —
    the skew share is scale-invariant, the hot mass grows factor-x."""
    from pyspark.sql import functions as F

    from searchengine_spark.io import load_table
    from searchengine_spark.operators.sampling import hash_bucket

    out = os.path.join(SCRATCH, f"skew_x{factor}")
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    os.makedirs(out, exist_ok=True)

    docs = shifted_union(
        load_table(spark, BASE, "documents"), "doc_id", factor
    )
    b_src = hash_bucket(F.col("doc_id"), salt="skewsrc")
    b_boil = hash_bucket(F.col("doc_id"), salt="skewboiler")
    docs = (
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
                    F.lit(_SKEW_TEMPLATE + " copy"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.col("text")),
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )
    docs.write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )

    base_events = load_table(spark, BASE, "events")
    copies = [
        base_events.withColumn(
            "event_id", F.col("event_id") + F.lit(i * KEY_OFFSET)
        ).withColumn("user_id", F.col("user_id") + F.lit(i * KEY_OFFSET))
        for i in range(factor)
    ]
    events = copies[0]
    for c in copies[1:]:
        events = events.unionByName(c)
    events = events.withColumn(
        "user_id",
        F.when(
            hash_bucket(F.col("event_id"), salt="skewhotu") < 3000,
            F.lit(SKEW_HOT_USER),
        ).otherwise(F.col("user_id")),
    )
    events.write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    open(os.path.join(out, "_OK"), "w").close()
    return out


def shifted_union(df, key: str, factor: int):
    """factor disjoint key-shifted copies of df, unioned."""
    from pyspark.sql import functions as F

    copies = [
        df.withColumn(key, F.col(key) + F.lit(i * KEY_OFFSET)) for i in range(factor)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def build_scaled(spark, factor: int) -> str:
    """Materialize a factor-x copy of documents+events under SCRATCH."""
    from pyspark.sql import functions as F

    from searchengine_spark.io import load_table

    out = os.path.join(SCRATCH, f"x{factor}")
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    os.makedirs(out, exist_ok=True)
    docs = load_table(spark, BASE, "documents")
    events = load_table(spark, BASE, "events")
    emb = load_table(spark, BASE, "embeddings")
    shifted_emb = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * KEY_OFFSET))
        for i in range(factor)
    ]
    m = shifted_emb[0]
    for s in shifted_emb[1:]:
        m = m.unionByName(s)
    m.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    shifted_docs = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * KEY_OFFSET))
        for i in range(factor)
    ]
    shifted_events = [
        events.withColumn("event_id", F.col("event_id") + F.lit(i * KEY_OFFSET))
        .withColumn("user_id", F.col("user_id") + F.lit(i * KEY_OFFSET))
        for i in range(factor)
    ]
    d = shifted_docs[0]
    for s in shifted_docs[1:]:
        d = d.unionByName(s)
    e = shifted_events[0]
    for s in shifted_events[1:]:
        e = e.unionByName(s)
    d.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    e.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    # orders+lineitem for the relational-side soaks (bloom join, dq
    # expectations, z-order ranks): shift the join key in lockstep so
    # every copy adds disjoint order mass with the same fan-out.
    orders = load_table(spark, BASE, "orders")
    lineitem = load_table(spark, BASE, "lineitem")
    o = shifted_union(orders, "o_orderkey", factor)
    li = shifted_union(lineitem, "l_orderkey", factor)
    o.write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))
    li.write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))
    # customer for the privacy-side soak (t-closeness): each copy adds
    # disjoint key mass with identical QI/band distributions, so the
    # audit's grid is fixed while its input rows scale.
    customer = load_table(spark, BASE, "customer")
    c = shifted_union(customer, "c_custkey", factor)
    c.write.mode("overwrite").parquet(os.path.join(out, "customer.parquet"))
    open(os.path.join(out, "_OK"), "w").close()
    return out


def run_skew_soak(spark, queries) -> dict:
    """The Zipf-skew pass: fresh x1 + x5 over SKEW_QUERIES against
    build_skewed, min-of-2 on a >5x breach (same phantom-noise rule
    as the broad set). Returns the report section."""
    skewed: dict[str, dict] = {name: {} for name in SKEW_QUERIES}
    for factor in (1, 5):
        spark.catalog.clearCache()
        sf_dir = build_skewed(spark, factor)
        for name in SKEW_QUERIES:
            t0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                skewed[name][f"x{factor}"] = round(
                    time.perf_counter() - t0, 3
                )
            except Exception as exc:  # noqa: BLE001 — record, keep soaking
                skewed[name][f"x{factor}"] = -1.0
                skewed[name][f"x{factor}_err"] = (
                    f"{type(exc).__name__}: {exc}"[:200]
                )
    for name, r in skewed.items():
        t1, t5 = r.get("x1"), r.get("x5")
        if t1 and t5 and t1 > 0 and t5 > 0 and t5 / t1 > 5.0:
            for factor in (1, 5):
                spark.catalog.clearCache()
                sf_dir = build_skewed(spark, factor)
                t0 = time.perf_counter()
                try:
                    queries[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    r[f"x{factor}"] = min(
                        r[f"x{factor}"], round(time.perf_counter() - t0, 3)
                    )
                except Exception:  # noqa: BLE001 — keep the original record
                    pass
            r["remeasured"] = True
        if r.get("x1", 0) > 0 and r.get("x5", 0) > 0:
            r["ratio_x5"] = round(r["x5"] / r["x1"], 2)
    return {
        "note": (
            "Zipf-skew fixture (build_skewed): one source carries "
            "~50% of documents, one user ~30% of events, and ~5% of "
            "documents share one boilerplate template (ONE LSH "
            "mega-bucket, 250 docs at x1 / 1250 at x5 vs the cap of "
            "64) — shares held constant as volume replicates 5x, so "
            "the hot structures themselves grow 5x. ratio_x5 <= ~5 "
            "means the salted aggregations, the hot-bucket cap, and "
            "the per-key windows absorbed the skew; engagement of the "
            "cap/salt under this exact fixture is asserted by "
            "tests/test_skew_soak.py."
        ),
        "queries": skewed,
    }


def main() -> None:
    from searchengine_spark.registry import all_queries
    from searchengine_spark.session import get_spark

    spark = get_spark("searchengine-soak")
    queries = all_queries()
    # warm the worker pool so x1 doesn't eat the spawn cost
    spark.range(64).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    if "--skew-only" in sys.argv:
        # Re-run just the skew pass and merge into the existing
        # SOAK.json (the full soak takes hours; the skew section is
        # independently regenerable).
        section = run_skew_soak(spark, queries)
        with open(SOAK_JSON) as fh:
            report = json.load(fh)
        report["skewed"] = section
        with open(SOAK_JSON, "w") as fh:
            json.dump(report, fh, indent=2)
        print(json.dumps(section))
        spark.stop()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return

    only: list[str] | None = None
    for a in sys.argv:
        if a.startswith("--only="):
            only = [s for s in a.split("=", 1)[1].split(",") if s]
    if only is not None:
        # Targeted x1/x2/x5 pass for a named subset, merged into the
        # existing SOAK.json (the full soak takes hours; newly added
        # QUERIES entries are soakable the round they land).
        unknown = [n for n in only if n not in queries]
        if unknown:
            raise SystemExit(f"--only names not in registry: {unknown}")
        results = {name: {} for name in only}
        for factor in FACTORS:
            spark.catalog.clearCache()
            sf_dir = build_scaled(spark, factor)
            for name in only:
                t0 = time.perf_counter()
                try:
                    queries[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    results[name][f"x{factor}"] = round(
                        time.perf_counter() - t0, 3
                    )
                except Exception as exc:  # noqa: BLE001
                    results[name][f"x{factor}"] = -1.0
                    results[name][f"x{factor}_err"] = (
                        f"{type(exc).__name__}: {exc}"[:200]
                    )
        for name, r in results.items():
            t1, t5 = r.get("x1"), r.get("x5")
            if t1 and t5 and t1 > 0 and t5 > 0 and t5 / t1 > 5.0:
                # min-of-2, same phantom-blowup rule as the broad set
                for factor in (1, 5):
                    spark.catalog.clearCache()
                    sf_dir = build_scaled(spark, factor)
                    t0 = time.perf_counter()
                    try:
                        queries[name](spark, sf_dir).write.format(
                            "noop"
                        ).mode("overwrite").save()
                        r[f"x{factor}"] = min(
                            r[f"x{factor}"],
                            round(time.perf_counter() - t0, 3),
                        )
                    except Exception:  # noqa: BLE001
                        pass
                r["remeasured"] = True
            if r.get("x1", 0) > 0 and r.get("x5", 0) > 0:
                r["ratio_x5"] = round(r["x5"] / r["x1"], 2)
        with open(SOAK_JSON) as fh:
            report = json.load(fh)
        report["queries"].update(results)
        with open(SOAK_JSON, "w") as fh:
            json.dump(report, fh, indent=2)
        print(json.dumps(results))
        spark.stop()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return

    results: dict[str, dict[str, float]] = {name: {} for name in QUERIES}
    for factor in FACTORS:
        # Each scale measures FRESH: without this, the x5 pass runs
        # against x1+x2's accumulated session caches (shingles, spans,
        # indexes per sf_dir), whose storage pressure shrinks execution
        # memory and spills the big-grid queries — measured as a phantom
        # 14x on gap-fill that vanishes in isolation.
        spark.catalog.clearCache()
        sf_dir = build_scaled(spark, factor)
        for name in QUERIES:
            t0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                results[name][f"x{factor}"] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — record, keep soaking
                results[name][f"x{factor}"] = -1.0
                results[name][f"x{factor}_err"] = f"{type(exc).__name__}: {exc}"[:200]

    # Adaptive re-measurement: the host VM's throughput swings 2-5x
    # (bench.py's calib probes document it), and a single noisy window
    # during one scale's pass fakes a blow-up that vanishes in
    # isolation (round 5 saw cdc 0.6->19s and attribution 0.4->7.2s
    # phantoms). A query whose x5/x1 ratio breaches the linear bound
    # gets BOTH endpoints re-measured once, keeping the per-endpoint
    # MINIMUM — min-of-2 cancels transient noise but cannot hide a
    # real superlinear cost (a genuine blow-up reproduces).
    bound = 5.0
    for name, r in results.items():
        t1, t5 = r.get("x1"), r.get("x5")
        if not (t1 and t5 and t1 > 0 and t5 > 0 and t5 / t1 > bound):
            continue
        for factor in (1, 5):
            sf_dir = build_scaled(spark, factor)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                r[f"x{factor}"] = min(
                    r[f"x{factor}"], round(time.perf_counter() - t0, 3)
                )
            except Exception:  # noqa: BLE001 — keep the original record
                pass
        r["remeasured"] = True

    # ---- x10 heavy pass: fresh x1 + x10 per query, cache-cleared ----
    # Output rows are observed inline (pyspark Observation riding the
    # same noop write — no second execution): pair-output families'
    # TRUE result grows ~factor^2 under replication, so their honest
    # bound is seconds-per-output-row, not raw wall ratio. rows_x* and
    # norm_ratio_x10 = (t10/rows10)/(t1/rows1) make that checkable
    # (round-7 verdict item 5) instead of a prose caveat.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def timed_noop_with_rows(build) -> tuple[float, int]:
        # `build` is a THUNK: frame construction must run inside the
        # timer — the iterative queries checkpoint EAGERLY during
        # construction, so timing only the write would miss the whole
        # computation (pagerank showed 0.026 s before this fix).
        obs = Observation()
        t0 = time.perf_counter()
        build().observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        return round(time.perf_counter() - t0, 3), int(obs.get["n"])

    heavy: dict[str, dict] = {name: {} for name in HEAVY_X10}
    for factor in (1, 10):
        spark.catalog.clearCache()
        sf_dir = build_scaled(spark, factor)
        for name in HEAVY_X10:
            try:
                sec, rows = timed_noop_with_rows(
                    lambda: queries[name](spark, sf_dir)
                )
                heavy[name][f"x{factor}"] = sec
                heavy[name][f"rows_x{factor}"] = rows
            except Exception as exc:  # noqa: BLE001 — record, keep soaking
                heavy[name][f"x{factor}"] = -1.0
                heavy[name][f"x{factor}_err"] = f"{type(exc).__name__}: {exc}"[:200]
    for name, r in heavy.items():
        t1, t10 = r.get("x1"), r.get("x10")
        if t1 and t10 and t1 > 0 and t10 > 0 and t10 / t1 > X10_BOUND:
            # min-of-2: same phantom-blowup rule as the broad set
            for factor in (1, 10):
                spark.catalog.clearCache()
                sf_dir = build_scaled(spark, factor)
                try:
                    sec, _rows = timed_noop_with_rows(
                        lambda: queries[name](spark, sf_dir)
                    )
                    r[f"x{factor}"] = min(r[f"x{factor}"], sec)
                except Exception:  # noqa: BLE001 — keep the original record
                    pass
            r["remeasured"] = True
        if r.get("x1", 0) > 0 and r.get("x10", 0) > 0:
            r["ratio_x10"] = round(r["x10"] / r["x1"], 2)
            rows1, rows10 = r.get("rows_x1", 0), r.get("rows_x10", 0)
            if rows1 > 0 and rows10 > 0:
                # per-output-row time ratio: ~1 means the raw blow-up is
                # output volume (legitimate under clone replication),
                # >>1 means the ENGINE got slower per row — a real bug.
                r["norm_ratio_x10"] = round(
                    (r["x10"] / rows10) / (r["x1"] / rows1), 2
                )

    # ---- hot-key streaming soak: skewed replay at x1 and x5 ----
    hotkey: dict[str, float | str] = {}
    for factor in (1, 5):
        spark.catalog.clearCache()
        d = build_hotkey_events(spark, factor)
        t0 = time.perf_counter()
        try:
            out_df = queries["stream_view_purchase_join_replay"](spark, d)
            out_df.write.format("noop").mode("overwrite").save()
            hotkey[f"x{factor}"] = round(time.perf_counter() - t0, 3)
            hotkey[f"rows_x{factor}"] = out_df.count()
        except Exception as exc:  # noqa: BLE001
            hotkey[f"x{factor}"] = -1.0
            hotkey[f"x{factor}_err"] = f"{type(exc).__name__}: {exc}"[:200]
    if hotkey.get("x1", 0) > 0 and hotkey.get("x5", 0) > 0:
        hotkey["ratio_x5"] = round(hotkey["x5"] / hotkey["x1"], 2)
    hotkey["note"] = (
        "ONE user carries 20% of events through the watermarked "
        "stream-stream join (hotkey_events_frame), replayed across 5 "
        "out-of-order micro-batches (fixed batch COUNT at every factor "
        "— production load growth widens batches at a pinned trigger "
        "cadence). Hot-key state and join output grow linearly with "
        "the factor (rows_x* record the output). Correctness under the "
        "same skew: tests/test_skew_streaming.py."
    )

    report = {
        "base": BASE,
        "factors": list(FACTORS),
        "note": (
            "sf0.1 replicated with disjoint key offsets; sec per query per "
            "scale. ratio_x5 = t(x5)/t(x1); linear work => ratio ~<= 5 "
            "(sub-5 is common: fixed per-query overhead amortizes). "
            "Caveat for the near-dup PAIR queries: replication makes every "
            "doc a 5-way duplicate, so their OUTPUT (pairs within a dup "
            "group) grows ~25x at x5 by construction — ratios up to ~10 "
            "there reflect output volume, not an engine blow-up. This soak "
            "caught a real one in round 4: fixed-K SemDeDup went 47x "
            "(10.6s -> 502s) at x5; adaptive k (kmeans.TARGET_CLUSTER_SIZE) "
            "brought it to 2.6x."
        ),
        "queries": {},
    }
    for name, r in results.items():
        entry = dict(r)
        t1, t5 = r.get("x1"), r.get("x5")
        if t1 and t5 and t1 > 0 and t5 > 0:
            entry["ratio_x5"] = round(t5 / t1, 2)
        report["queries"][name] = entry
    report["heavy_x10"] = heavy
    report["heavy_x10_note"] = (
        "the structurally heaviest shapes, fresh x1 + x10 (min-of-2 on "
        "a >10x breach). Pair-output families (prefix join, LSH audit) "
        "legitimately run hot under replication: every doc becomes a "
        "10-way clone, so their TRUE pair OUTPUT grows ~100x by "
        "construction. rows_x* record the observed output size and "
        "norm_ratio_x10 = (t10/rows10)/(t1/rows1) is the per-output-row "
        "slowdown — ~1 means the raw blow-up is output volume; >>1 "
        "means the engine got slower per row (a real regression). "
        "tests/test_soak_doc.py pins the normalized bound for the "
        "pair-output family instead of a prose caveat."
    )
    report["stream_hotkey"] = hotkey
    report["skewed"] = run_skew_soak(spark, queries)
    with open(SOAK_JSON, "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report))
    spark.stop()
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
