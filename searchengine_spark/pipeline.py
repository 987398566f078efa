"""End-to-end corpus curation pipeline — the composite operator a
training-data run executes: quality gate -> exact dedup -> near-dup
removal -> keep list.

One oracle-checked query (`pipeline_curated_docs`) chains:
1. quality gate: n_tokens >= MIN_TOKENS and stopword_ratio <= MAX_STOP
   (map-only over the scan);
2. exact dedup: keep min(doc_id) per md5(text) (one hash shuffle);
3. near-dup removal: MinHash-LSH candidates verified at
   jaccard >= JACCARD_CUT; drop the higher doc_id of each pair
   (LSH equi-join + anti join).

Everything is deterministic, so the whole pipeline has a DuckDB twin
— the strongest end-to-end correctness statement in the repo: two
engines agree on the exact final keep-list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.io import ensure_min_partitions, load_table
from searchengine_spark.operators.dedup import (
    jaccard_pairs,
    minhash_bands,
    neardup_candidate_pairs,
    shingle_frame,
)
from searchengine_spark.text.tokenizer import (
    STOPWORDS,
    raw_tokens_column,
    sql_raw_tokens_expr,
    sql_tokens_expr,
)

MIN_TOKENS = 10
MAX_STOP_RATIO = 0.5
JACCARD_CUT = 0.8

# Hot-bucket guard for the production curation chain: LSH buckets
# holding more than this many docs are excluded from pair
# enumeration (see operators/dedup.py:neardup_candidate_pairs —
# B near-identical boilerplate docs that survive exact dedup emit
# B²/2 pairs from ONE bucket; no join strategy bounds quadratic
# OUTPUT). 64 is far above any legitimate near-dup group in the
# fixtures (sf0.01 tops out at 3-doc buckets) and bounds worst-case
# pair output to O(64² · n_bands) per hot key at 100 TB. The DuckDB
# oracles below mirror the cap, so correctness holds at ANY corpus —
# not just ones whose buckets happen to fit.
CURATE_MAX_BUCKET = 64


def _stages(
    docs: DataFrame,
    *,
    text_col: str = "text",
    gate: str = "basic",
    max_bucket: int | None = CURATE_MAX_BUCKET,
    shared_shingles: DataFrame | None = None,
    shared_bands: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(quality, exact_keep_ids, near_drop_ids) — the pipeline's three
    decision frames, shared by curate() (keep-list) and
    q_drop_reasons() (per-doc provenance).

    ``shared_shingles``/``shared_bands`` (r13 optimization; guide
    §1.2 step 1): when the caller already holds the FULL-corpus
    shingle and LSH-band caches for these same ``docs`` (the dedup
    family's session-shared stages), the survivor chain derives its
    frames by a left-semi filter on doc_id instead of re-running the
    tokenize -> shingle -> hash -> signature pipeline over the
    survivors. Equivalent by construction: shingles and band
    signatures are per-doc functions of that doc's text alone, so
    bands(survivors) == bands(corpus) restricted to survivor ids,
    and the bucket-size cap still runs on the restricted band set
    exactly as before. Jaccard verification joins the candidate
    pairs against the full cached shingle frame — per-pair values
    are functions of the two docs' shingles only."""
    base = ensure_min_partitions(docs).select(
        "doc_id",
        F.col(text_col),
        raw_tokens_column(text_col).alias("raw_toks"),
    )
    if gate == "gopher":
        from searchengine_spark.text.quality import gate_passes_expr

        # Catalyst sinks this filter into the parquet scan's
        # DataFilters (verified via explain). That is intentional and
        # desirable at scale: the gate is linear per row (no quadratic
        # re-inline like the shingle chains), it prunes documents
        # before any shuffle, and scan-stage filters run per-split
        # parallel on real multi-split data. The known local-testdata
        # cost (1-task scan) measured +0.3s at sf0.1.
        quality = base.filter(
            (F.size("raw_toks") > 0) & gate_passes_expr(F.col("raw_toks"))
        ).select("doc_id", F.col(text_col))
    elif gate == "basic":
        quality = base.select(
            "doc_id",
            F.col(text_col),
            F.size("raw_toks").alias("n_tokens"),
            F.size(F.filter("raw_toks", lambda w: w.isin(*STOPWORDS))).alias("n_stop"),
        ).filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("n_stop") / F.col("n_tokens") <= MAX_STOP_RATIO)
        )
    else:
        raise ValueError(f"unknown gate {gate!r}; expected 'basic' or 'gopher'")

    exact_keep = (
        quality.select(F.md5(F.col(text_col).cast("binary")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )

    survivors = quality.join(exact_keep, "doc_id", "left_semi").select(
        "doc_id", F.col(text_col)
    )

    if shared_bands is not None:
        bands = shared_bands.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        sh = shared_shingles
    else:
        sh = shingle_frame(survivors, text_col=text_col).cache()
        bands = minhash_bands(shingles=sh)
    pairs = neardup_candidate_pairs(bands, max_bucket=max_bucket)
    near = jaccard_pairs(None, pairs, shingles=sh).filter(
        F.col("jaccard") >= JACCARD_CUT
    )
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    return quality.select("doc_id", F.col(text_col)), exact_keep, drop


def curate(
    docs: DataFrame,
    *,
    text_col: str = "text",
    gate: str = "basic",
    max_bucket: int | None = CURATE_MAX_BUCKET,
    multilingual: bool = False,
) -> DataFrame:
    """Returns the curated keep-list: (doc_id) surviving all gates.

    gate="basic": token floor + stopword-ratio cap (the minimal
    reference-flavored filter). gate="gopher": the full Gopher-style
    rule set from text/quality.py (word bounds, mean word length,
    stopword evidence, adjacent-dup ratio, lexical diversity) — the
    production-shaped quality pass; same map-only plan shape.

    ``multilingual=True`` routes through the language-routed chain
    (text/multilingual.py): NFC-normalize, per-document langid, the
    doc's own language's stopword list, CJK character bigrams, exact
    dedup keyed on the normalized text. The ASCII default drops every
    non-Latin document's tokens (reference parity — English caselaw),
    which is the wrong default for a mixed corpus.

    ``max_bucket`` (default CURATE_MAX_BUCKET) caps LSH bucket size in
    the near-dup stage: boilerplate groups larger than the cap are
    excluded from pair enumeration (and therefore KEPT — route them
    to a dedicated boilerplate policy via the hot-bucket counters in
    :func:`curate_with_metrics`). ``max_bucket=None`` restores the
    uncapped round-1 behavior.
    """
    if multilingual:
        from searchengine_spark.text.multilingual import curate_multilingual

        if gate != "basic":
            raise ValueError(
                "multilingual curation defines its own language-routed "
                "gate; gate= is not combinable"
            )
        return curate_multilingual(
            docs.select("doc_id", F.col(text_col).alias("text")),
            max_bucket=max_bucket,
        )
    quality, exact_keep, drop = _stages(
        docs, text_col=text_col, gate=gate, max_bucket=max_bucket
    )
    survivors = quality.join(exact_keep, "doc_id", "left_semi")
    return survivors.join(drop, "doc_id", "left_anti").select("doc_id")


def curate_with_metrics(
    docs: DataFrame,
    *,
    text_col: str = "text",
    max_bucket: int | None = CURATE_MAX_BUCKET,
):
    """curate() instrumented with `Observation` data-quality counters:
    the per-stage survivor counts arrive as a side effect of the ONE
    pass the pipeline already makes — no extra count() jobs, which at
    100 TB would each be a full rescan. Returns (keep_df, get_metrics)
    where get_metrics() is valid after any action on keep_df.

    get_metrics() additionally reports `n_hot_buckets` /
    `n_hot_bucket_docs`: LSH buckets the ``max_bucket`` cap excluded
    from pair enumeration. That count is one tiny keyed aggregation
    over the session-cached shingle frame (hot keys are rare by
    definition, so the result is driver-safe at any scale) — loud
    counters, not silence, for the boilerplate the cap routed around.
    """
    from pyspark.sql import Observation

    obs_quality = Observation("curate_quality")
    obs_final = Observation("curate_final")

    base = ensure_min_partitions(docs).select(
        "doc_id",
        F.col(text_col),
        raw_tokens_column(text_col).alias("raw_toks"),
    )
    quality = (
        base.select(
            "doc_id",
            F.col(text_col),
            F.size("raw_toks").alias("n_tokens"),
            F.size(F.filter("raw_toks", lambda w: w.isin(*STOPWORDS))).alias("n_stop"),
        )
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("n_stop") / F.col("n_tokens") <= MAX_STOP_RATIO)
        )
        .observe(
            obs_quality,
            F.count(F.lit(1)).alias("n_quality_pass"),
            F.sum("n_tokens").alias("total_tokens_kept"),
        )
    )

    exact_keep = (
        quality.select(F.md5(F.col(text_col).cast("binary")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = quality.join(exact_keep, "doc_id", "left_semi").select(
        "doc_id", F.col(text_col)
    )
    sh = shingle_frame(survivors, text_col=text_col).cache()
    bands = minhash_bands(shingles=sh)
    pairs = neardup_candidate_pairs(bands, max_bucket=max_bucket)
    near = jaccard_pairs(None, pairs, shingles=sh).filter(
        F.col("jaccard") >= JACCARD_CUT
    )
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    keep = (
        survivors.join(drop, "doc_id", "left_anti")
        .select("doc_id")
        .observe(obs_final, F.count(F.lit(1)).alias("n_curated"))
    )

    def get_metrics() -> dict:
        out = {**obs_quality.get, **obs_final.get}
        if max_bucket is not None:
            from searchengine_spark.operators.dedup import hot_buckets

            hot = (
                hot_buckets(bands, max_bucket)
                .agg(
                    F.count(F.lit(1)).alias("n_hot_buckets"),
                    F.coalesce(F.sum("n_docs"), F.lit(0)).alias(
                        "n_hot_bucket_docs"
                    ),
                )
                .collect()[0]
            )
            out["n_hot_buckets"] = hot["n_hot_buckets"]
            out["n_hot_bucket_docs"] = hot["n_hot_bucket_docs"]
        return out

    return keep, get_metrics


def _cached_stages(spark: SparkSession, sf_dir: str, *, gate: str = "basic"):
    """Session-memoized _stages frames (round-10 verdict plan audit):
    curate() and q_drop_reasons() share the same three decision
    frames, so when both run in one session (the bench sweep, a
    notebook exploring the same corpus) the tokenize+MinHash chain
    used to execute twice. The session cache's lineage cut makes the
    first caller pay the chain once and every later caller read
    materialized partitions — same trade as the index/shingle
    session caches."""
    from searchengine_spark.io import session_cached

    def build():
        # Derive the near-dup frames from the dedup family's
        # session-shared full-corpus shingle/band caches (same
        # documents table): the survivor chain becomes a semi-join
        # filter instead of a second tokenize+MinHash pass per gate.
        from searchengine_spark.operators.dedup import _bands, _shingles

        return _stages(
            load_table(spark, sf_dir, "documents"),
            gate=gate,
            shared_shingles=_shingles(spark, sf_dir),
            shared_bands=_bands(spark, sf_dir),
        )

    return session_cached(spark, f"pipeline_stages:{gate}", sf_dir, build)


def _keep_list(stages) -> DataFrame:
    quality, exact_keep, drop = stages
    survivors = quality.join(exact_keep, "doc_id", "left_semi")
    return survivors.join(drop, "doc_id", "left_anti").select("doc_id")


def q_curated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _keep_list(_cached_stages(spark, sf_dir))


def q_curated_docs_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _keep_list(_cached_stages(spark, sf_dir, gate="gopher"))


def q_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation provenance: which stage dropped each doc
    ('quality' / 'exact_dup' / 'near_dup') or 'kept'. The audit-trail
    twin of pipeline_curated_docs — at 100 TB you don't just want the
    keep-list, you want to answer "why is doc X gone" without
    replaying the pipeline. Three left joins of id-frames onto the
    full corpus; the verdict CASE encodes the stage ordering. The
    decision frames come from the session cache shared with
    q_curated_docs (_cached_stages), so running both in one session
    pays the tokenize+MinHash chain once."""
    docs = load_table(spark, sf_dir, "documents")
    quality, exact_keep, drop = _cached_stages(spark, sf_dir)
    q = quality.select("doc_id", F.lit(1).alias("_q"))
    e = exact_keep.select("doc_id", F.lit(1).alias("_e"))
    n = drop.select("doc_id", F.lit(1).alias("_n"))
    return (
        docs.select("doc_id")
        .join(q, "doc_id", "left")
        .join(e, "doc_id", "left")
        .join(n, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_q").isNull(), F.lit("quality"))
            .when(F.col("_e").isNull(), F.lit("exact_dup"))
            .when(F.col("_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset datasheet (Gebru et al., "Datasheets for
    Datasets" — the numbers section every corpus release publishes):
    size (docs/tokens/vocabulary), and the curation funnel through
    the production chain — quality survivors, exact-duplicate mass,
    near-duplicate drops, final keep count. Everything downstream of
    one tokenize scan plus the session-cached curation stages
    (_cached_stages — free when any pipeline query already ran);
    the funnel counts are 1-row aggregates combined by broadcast
    crossJoins (the scoring-params pattern), so the single output row
    costs no corpus-wide shuffle beyond what the chain already does."""
    from pyspark.sql import functions as F

    from searchengine_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    stages = _cached_stages(spark, sf_dir)
    quality, exact_keep, drop = stages
    rt = ensure_min_partitions(docs).select(
        raw_tokens_column("text").alias("rt")
    )
    tokstats = rt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("rt")).cast("bigint").alias("n_tokens"),
    )
    vocab = rt.select(F.explode("rt").alias("w")).agg(
        F.countDistinct("w").cast("bigint").alias("vocab_size")
    )
    nq = quality.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_quality_pass")
    )
    ne = exact_keep.agg(F.count(F.lit(1)).cast("bigint").alias("_ek"))
    nn = drop.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_near_dup_drops")
    )
    nk = _keep_list(stages).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )
    return (
        tokstats.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(nk))
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("mean_doc_tokens"),
            "n_quality_pass",
            (F.col("n_quality_pass") - F.col("_ek"))
            .cast("bigint")
            .alias("n_exact_dup"),
            "n_near_dup_drops",
            "n_kept",
        )
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
_RAW = sql_raw_tokens_expr("text")

_BASIC_QUALITY_CTE = f"""quality AS (
  SELECT doc_id, text
  FROM (
    SELECT doc_id, text,
           len({_RAW}) AS n_tokens,
           len(list_filter({_RAW}, w -> w IN ({_STOP_SQL}))) AS n_stop
    FROM documents
  )
  WHERE n_tokens >= {MIN_TOKENS} AND n_stop / n_tokens <= {MAX_STOP_RATIO}
)"""


def _gopher_quality_cte() -> str:
    from searchengine_spark.text.quality import sql_gate_predicate

    return f"""quality AS (
  SELECT doc_id, text
  FROM (SELECT doc_id, text, {_RAW} AS rtoks FROM documents)
  WHERE len(rtoks) > 0 AND {sql_gate_predicate("rtoks")}
)"""


# The MinHash/LSH/verify chain downstream of a `toks(doc_id, t)` CTE,
# shared verbatim by the default curation oracle below and the
# language-routed one (text/multilingual.py) — copy-drift between the
# two near-dup restatements would be invisible until a hash-fail.
NEARDUP_TAIL_CTES = f"""sh AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
  FROM toks WHERE len(t) >= 3
),
hashed AS (
  SELECT doc_id,
         list_transform(shingles,
                        s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hashes
  FROM sh
),
sig AS (
  SELECT doc_id, {{SIG_COLS}}
  FROM hashed
),
bands AS (
  SELECT doc_id, b.band, b.band_hash
  FROM sig, LATERAL (VALUES
    {{BAND_ROWS}}
  ) AS b(band, band_hash)
),
sized AS (
  SELECT doc_id, band, band_hash,
         COUNT(*) OVER (PARTITION BY band, band_hash) AS bsz
  FROM bands
),
keepb AS (
  SELECT doc_id, band, band_hash FROM sized WHERE bsz <= {CURATE_MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM keepb l JOIN keepb r
    ON l.band = r.band AND l.band_hash = r.band_hash
   AND l.doc_id < r.doc_id
),
shsets AS (
  SELECT doc_id, list_distinct(shingles) AS shset FROM sh
),
near AS (
  SELECT doc_a, doc_b
  FROM pairs
  JOIN shsets a ON a.doc_id = doc_a
  JOIN shsets b ON b.doc_id = doc_b
  WHERE round(len(list_intersect(a.shset, b.shset))
              / len(list_distinct(list_concat(a.shset, b.shset))), 6) >= {JACCARD_CUT}
)"""

_CURATE_CTES = f"""
WITH {{QUALITY_CTE}},
exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)
),
survivors AS (
  SELECT q.doc_id, q.text FROM quality q
  WHERE EXISTS (SELECT 1 FROM exact_keep e WHERE e.doc_id = q.doc_id)
),
toks AS (
  SELECT doc_id, {sql_tokens_expr('text')} AS t FROM survivors
),
{NEARDUP_TAIL_CTES}
{{FINAL_SELECT}}
"""

_KEEP_SELECT = """SELECT doc_id FROM survivors
WHERE doc_id NOT IN (SELECT doc_b FROM near)"""

_REASON_SELECT = """SELECT d.doc_id,
       CASE WHEN q.doc_id IS NULL THEN 'quality'
            WHEN e.doc_id IS NULL THEN 'exact_dup'
            WHEN n.doc_b IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS verdict
FROM documents d
LEFT JOIN quality q ON q.doc_id = d.doc_id
LEFT JOIN exact_keep e ON e.doc_id = d.doc_id
LEFT JOIN (SELECT DISTINCT doc_b FROM near) n ON n.doc_b = d.doc_id"""


def fill_neardup_placeholders(sql: str) -> str:
    """Substitute the MinHash signature columns and LSH band rows into
    a template carrying NEARDUP_TAIL_CTES (shared with
    text/multilingual.py's routed-curation oracle)."""
    from searchengine_spark.operators.dedup import _band_hash_sql, _sig_sql_cols

    return sql.replace("{SIG_COLS}", _sig_sql_cols()).replace(
        "{BAND_ROWS}",
        ",\n    ".join(f"({b}, {_band_hash_sql(b)})" for b in range(4)),
    )


def _curate_oracle(quality_cte: str, final_select: str = _KEEP_SELECT) -> str:
    return fill_neardup_placeholders(
        _CURATE_CTES.replace("{QUALITY_CTE}", quality_cte)
    ).replace("{FINAL_SELECT}", final_select)




def q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-filter agreement audit: the rule gate (Gopher-style,
    text/quality.py) vs the LM filter (self-scored bigram perplexity
    <= corpus median, text/lm.py) as a 2x2 confusion table. The two
    families fail docs for DIFFERENT reasons (shape rules vs
    language-model surprise); where they disagree is exactly the
    slice a curation owner reviews by hand, and the off-diagonal mass
    is the standard "how much does the cheap rule gate buy vs the
    expensive LM filter" readout (CCNet vs Gopher debate).

    Shape: both signal frames already exist (gate = map-only scan;
    perplexity = the cached-bigram train+score), inner-joined on
    doc_id; the median threshold is one exact percentile over the
    round-6 ppl values (the sim_centroid_outliers percentile-cutoff
    convention), broadcast back; the confusion table is one 4-row
    aggregate."""
    from searchengine_spark.io import session_cached
    from searchengine_spark.text.lm import _doc_bigrams, score_perplexity
    from searchengine_spark.text.quality import gopher_gate

    docs = load_table(spark, sf_dir, "documents")
    gate = gopher_gate(docs.select("doc_id", "text")).select(
        "doc_id", F.col("passes").alias("gate_pass")
    )
    bg = session_cached(spark, "lm-bigrams", sf_dir, lambda: _doc_bigrams(docs))
    ppl = score_perplexity(docs, bigrams=bg).select("doc_id", "ppl")
    med = ppl.agg(F.round(F.percentile(F.col("ppl"), F.lit(0.5)), 6).alias("med"))
    from pyspark.sql import Window

    j = gate.join(ppl, "doc_id").crossJoin(F.broadcast(med))
    cells = (
        j.select(
            "gate_pass", (F.col("ppl") <= F.col("med")).alias("lm_keep")
        )
        .groupBy("gate_pass", "lm_keep")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    # total via a window over the <= 4-row confusion table — no action
    tot = F.sum("n_docs").over(Window.partitionBy())
    return (
        cells.withColumn(
            "frac",
            F.round(F.col("n_docs").cast("double") / tot.cast("double"), 6),
        )
        .orderBy("gate_pass", "lm_keep")
    )


QUERIES = {
    "pipeline_curated_docs": q_curated_docs,
    "pipeline_curated_docs_gopher": q_curated_docs_gopher,
    "pipeline_drop_reasons": q_drop_reasons,
    "pipeline_filter_agreement": q_filter_agreement,
    "pipeline_dataset_card": q_dataset_card,
}

_CARD_SELECT = f""", rawtok AS (
  SELECT {_RAW} AS rt FROM documents
),
tokstats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(len(rt)) AS BIGINT) AS n_tokens
  FROM rawtok
),
vocab AS (
  SELECT COUNT(DISTINCT w) AS vocab_size
  FROM (SELECT unnest(rt) AS w FROM rawtok)
),
counts AS (
  SELECT (SELECT COUNT(*) FROM quality) AS n_quality,
         (SELECT COUNT(*) FROM exact_keep) AS n_exact_keep,
         (SELECT COUNT(DISTINCT doc_b) FROM near) AS n_near,
         (SELECT COUNT(*) FROM survivors
          WHERE doc_id NOT IN (SELECT doc_b FROM near)) AS n_kept
)
SELECT CAST(t.n_docs AS BIGINT) AS n_docs,
       t.n_tokens,
       CAST(v.vocab_size AS BIGINT) AS vocab_size,
       round(CAST(t.n_tokens AS DOUBLE) / t.n_docs, 6) AS mean_doc_tokens,
       CAST(c.n_quality AS BIGINT) AS n_quality_pass,
       CAST(c.n_quality - c.n_exact_keep AS BIGINT) AS n_exact_dup,
       CAST(c.n_near AS BIGINT) AS n_near_dup_drops,
       CAST(c.n_kept AS BIGINT) AS n_kept
FROM tokstats t, vocab v, counts c
"""


def _filter_agreement_oracle() -> str:
    from searchengine_spark.text.lm import _LM_SQL
    from searchengine_spark.text.quality import ORACLES as _QUALITY_ORACLES

    gate_sql = _QUALITY_ORACLES["text_gopher_gate"]
    return f"""
WITH gate AS (
  SELECT doc_id, passes AS gate_pass FROM ({gate_sql})
), ppl AS (
  SELECT doc_id, ppl FROM ({_LM_SQL})
), med AS (
  SELECT round(quantile_cont(ppl, 0.5), 6) AS med FROM ppl
), j AS (
  SELECT gate.gate_pass, ppl.ppl <= med.med AS lm_keep
  FROM gate JOIN ppl ON gate.doc_id = ppl.doc_id CROSS JOIN med
), cells AS (
  SELECT gate_pass, lm_keep, count(*)::BIGINT AS n_docs
  FROM j GROUP BY gate_pass, lm_keep
)
SELECT gate_pass, lm_keep, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS frac
FROM cells
ORDER BY gate_pass, lm_keep
"""

ORACLES = {
    "pipeline_filter_agreement": _filter_agreement_oracle(),
    "pipeline_curated_docs": _curate_oracle(_BASIC_QUALITY_CTE),
    "pipeline_curated_docs_gopher": _curate_oracle(_gopher_quality_cte()),
    "pipeline_drop_reasons": _curate_oracle(_BASIC_QUALITY_CTE, _REASON_SELECT),
    "pipeline_dataset_card": _curate_oracle(_BASIC_QUALITY_CTE, _CARD_SELECT),
}
