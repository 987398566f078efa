"""Corpus bigram language model + per-document perplexity scoring —
the CCNet-style quality signal (Wenzek et al. 2020, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data"
train a KenLM and keep low-perplexity documents; the same shape with
a self-trained bigram model is the SQL-expressible, dependency-free
variant).

Two stages, both pure DataFrame ops:

- TRAIN: bigram counts c(v,w) and context counts c(v) over the raw
  token stream (stopwords included — an LM needs them), plus the
  vocabulary size V for add-alpha smoothing. Two shuffles keyed by
  (v,w) / v — uniform-ish keys, partial aggregation absorbs the
  Zipf head.
- SCORE: join each document's bigrams against the smoothed model
  P(w|v) = (c(v,w) + a) / (c(v) + a*V), then per-doc
  ppl = exp(-avg ln P). The model table is vocabulary-bounded
  (<< corpus at scale); Spark broadcasts it when small and falls
  back to a shuffle hash join on the uniform bigram key when not.

At 100 TB: train once, persist the model table, score any corpus
against it (the CCNet deployment shape — the Wikipedia-trained model
scores Common Crawl). `bigram_lm` / `score_perplexity` are split so
exactly that works; the registry query self-scores the test corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.text.tokenizer import raw_tokens_column, sql_raw_tokens_expr

SMOOTH_ALPHA = 0.5  # add-alpha smoothing mass per unseen continuation


def _doc_bigrams(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, v, w) for each adjacent token pair — built MAP-SIDE
    from the token array (transform over sequence, no shuffle)."""
    toks = docs.select(
        "doc_id", raw_tokens_column(text_col).alias("toks")
    ).filter(F.size("toks") >= 2)
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2), "
                "i -> struct(toks[i] AS v, toks[i + 1] AS w))"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.v").alias("v"), F.col("bg.w").alias("w"))


def bigram_lm(
    docs: DataFrame, *, text_col: str = "text", bigrams: DataFrame | None = None
) -> DataFrame:
    """Smoothed bigram model: (v, w, logp) with
    P(w|v) = (c(v,w) + a) / (c(v) + a*V).

    Only OBSERVED bigrams are materialized (the full V^2 table never
    exists); scoring handles unseen pairs with the closed-form
    unseen-probability a / (c(v) + a*V). Pass a (cached) ``bigrams``
    frame to share the tokenize scan with a scoring stage."""
    bg = bigrams if bigrams is not None else _doc_bigrams(docs, text_col=text_col)
    pair_counts = bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c_vw"))
    ctx_counts = pair_counts.groupBy("v").agg(F.sum("c_vw").alias("c_v"))
    vocab_size = (
        docs.select(F.explode(raw_tokens_column(text_col)).alias("t"))
        .agg(F.countDistinct("t").alias("vsize"))
    )
    return (
        pair_counts.join(ctx_counts, "v")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "v",
            "w",
            "c_vw",
            "c_v",
            "vsize",
            F.log(
                (F.col("c_vw") + F.lit(SMOOTH_ALPHA))
                / (F.col("c_v") + F.lit(SMOOTH_ALPHA) * F.col("vsize"))
            ).alias("logp"),
        )
    )


def score_perplexity(
    docs: DataFrame,
    model: DataFrame | None = None,
    *,
    text_col: str = "text",
    bigrams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_bigrams, ppl): per-document bigram perplexity under
    ``model`` (default: a model trained on ``docs`` itself — the
    self-scored quality signal). Pass a (cached) ``bigrams`` frame to
    share the tokenize scan between training and scoring.

    Unseen transitions: a context v present in the model scores
    a / (c(v) + a*V); a context absent entirely scores the uniform
    1 / V. Both come from left joins + coalesce — no V^2 blowup.
    """
    bg = bigrams if bigrams is not None else _doc_bigrams(docs, text_col=text_col)
    if model is None:
        model = bigram_lm(docs, text_col=text_col, bigrams=bg)
    ctx = model.select("v", "c_v", "vsize").distinct()
    vsize = model.select(F.max("vsize").alias("vsize"))
    scored = (
        bg.join(model.select("v", "w", "logp"), ["v", "w"], "left")
        .join(ctx, "v", "left")
        .crossJoin(F.broadcast(vsize).select(F.col("vsize").alias("vsize_g")))
        .select(
            "doc_id",
            F.coalesce(
                F.col("logp"),
                F.log(
                    F.lit(SMOOTH_ALPHA)
                    / (F.col("c_v") + F.lit(SMOOTH_ALPHA) * F.col("vsize"))
                ),
                F.log(F.lit(1.0) / F.col("vsize_g")),
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.exp(-F.avg("lp")), 6).alias("ppl"),
    )


# ------------------------------------------- stupid backoff (Brants 2007)

SB_LAMBDA = 0.4  # the fixed backoff penalty from Brants et al. 2007
SB_SALT = "lmsb"  # train/score hash split


def stupid_backoff_scores(
    train_docs: DataFrame, score_docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bigrams, n_backoff, sb_ppl): score one corpus under
    a stupid-backoff bigram model trained on ANOTHER (Brants et al.
    2007, "Large Language Models in Machine Translation") —
    S(w|v) = c(v,w)/c(v) if seen, else 0.4*c(w)/N, else 0.4/N.

    Stupid backoff exists precisely for the distributed regime: no
    discount renormalization means the model is nothing but raw
    count tables — exactly the keyed aggs MapReduce (and Spark)
    produce — and scoring is two left joins. Unlike the add-alpha
    self-scored ppl, this pairing (train half / score half) makes
    unseen transitions REAL, so the backoff branch and its n_backoff
    counter are exercised in the checked output."""
    train_bg = _doc_bigrams(train_docs, text_col=text_col)
    pair_counts = train_bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c_vw"))
    ctx_counts = pair_counts.groupBy("v").agg(F.sum("c_vw").alias("c_v"))
    uni = (
        train_docs.select(F.explode(raw_tokens_column(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    n_tok = uni.agg(F.sum("c_w").alias("n_tok"))

    bg = _doc_bigrams(score_docs, text_col=text_col)
    scored = (
        bg.join(pair_counts.join(ctx_counts, "v"), ["v", "w"], "left")
        .join(uni.withColumnRenamed("t", "w"), "w", "left")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "doc_id",
            F.col("c_vw").isNull().cast("long").alias("backed_off"),
            F.coalesce(
                F.log(F.col("c_vw") / F.col("c_v")),
                F.log(F.lit(SB_LAMBDA) * F.col("c_w") / F.col("n_tok")),
                F.log(F.lit(SB_LAMBDA) / F.col("n_tok")),
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("backed_off").cast("long").alias("n_backoff"),
        F.round(F.exp(-F.avg("lp")), 6).alias("sb_ppl"),
    )


def q_lm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), salt=SB_SALT)
    return stupid_backoff_scores(
        docs.filter(b < 5000), docs.filter(b >= 5000)
    ).orderBy("doc_id")


# ------------------------------ interpolated Kneser-Ney (Kneser & Ney 1995)

KN_DISCOUNT = 0.75  # the standard fixed absolute discount
KN_SALT = "lmkn"  # train/score hash split


def kneser_ney_scores(
    train_docs: DataFrame, score_docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bigrams, n_unseen, kn_ppl): interpolated bigram
    Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.25) —
    the smoothing KenLM defaults to, i.e. the closest SQL-expressible
    relative of the CCNet filter the stupid-backoff scorer
    approximates:

      P(w|v) = max(c(v,w) - D, 0)/c(v) + D*N1+(v,.)/c(v) * Pcont(w)
      Pcont(w) = N1+(.,w) / N1+(.,.)

    The continuation counts are what distinguish KN from naive
    discounting — "York" is frequent but only ever follows "New", so
    its continuation probability is tiny. All model tables are keyed
    aggs over the bigram types (vocabulary-bounded); scoring is two
    left joins, exactly the stupid-backoff shape. Unseen-w fallback:
    Pcont floors at 1/N1+(.,.) (one smoothed unit); unseen-v backs
    off to Pcont alone."""
    train_bg = _doc_bigrams(train_docs, text_col=text_col)
    pair_counts = train_bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c_vw"))
    fw = pair_counts.groupBy("v").agg(
        F.sum("c_vw").alias("c_v"), F.count(F.lit(1)).alias("n1_fw")
    )
    bw = pair_counts.groupBy("w").agg(F.count(F.lit(1)).alias("n1_bw"))
    n_types = pair_counts.agg(F.count(F.lit(1)).alias("n_types"))

    d = F.lit(KN_DISCOUNT)
    bg = _doc_bigrams(score_docs, text_col=text_col)
    joined = (
        bg.join(pair_counts, ["v", "w"], "left")
        .join(fw, "v", "left")
        .join(bw, "w", "left")
        .crossJoin(F.broadcast(n_types))
    )
    pcont = F.coalesce(F.col("n1_bw"), F.lit(1)).cast("double") / F.col(
        "n_types"
    ).cast("double")
    seen_v = (F.col("c_vw").cast("double") - d) / F.col("c_v").cast("double") + (
        d * F.col("n1_fw").cast("double") / F.col("c_v").cast("double")
    ) * pcont
    backoff_v = (
        d * F.col("n1_fw").cast("double") / F.col("c_v").cast("double")
    ) * pcont
    p = F.when(F.col("c_vw").isNotNull(), seen_v).otherwise(
        F.when(F.col("c_v").isNotNull(), backoff_v).otherwise(pcont)
    )
    scored = joined.select(
        "doc_id",
        F.col("c_vw").isNull().cast("long").alias("unseen"),
        F.log(p).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("unseen").cast("long").alias("n_unseen"),
        F.round(F.exp(-F.avg("lp")), 6).alias("kn_ppl"),
    )


def q_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), salt=KN_SALT)
    return kneser_ney_scores(
        docs.filter(b < 5000), docs.filter(b >= 5000)
    ).orderBy("doc_id")


# ------------------------------------------------------------- queries


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.io import load_table, session_cached

    docs = load_table(spark, sf_dir, "documents")
    # one cached bigram frame per (session, sf_dir): feeds BOTH the
    # model lineage and the scoring lineage (same bounded-cache policy
    # as the index / shingle / span caches — no per-call cache leak).
    bg = session_cached(spark, "lm-bigrams", sf_dir, lambda: _doc_bigrams(docs))
    return score_perplexity(docs, bigrams=bg)


def ccnet_perplexity_buckets(
    docs: DataFrame, ppl: DataFrame | None = None
) -> DataFrame:
    """CCNet-style per-source perplexity terciles (Wenzek et al. 2020,
    public): within each source, rank documents by LM perplexity and
    split head / middle / tail by thirds — the standard
    quality-stratification a crawl-curation pipeline trains on (head =
    most LM-like text). Output is the audit rollup: per (source,
    bucket) doc count and the ppl range, all deterministic.

    Exactness + scale: the tercile label is pure integer arithmetic on
    (row_number, group count) — 3*(rank-1) < n / < 2n — so no float
    percentile can disagree between engines; the per-source rank runs
    through distrank.distributed_rank (quantized-ppl monotone buckets)
    instead of a plain per-source window, so no single task ever sorts
    a whole source (the round-9 calibration finding)."""
    from searchengine_spark.io import cut_lineage
    from searchengine_spark.operators.distrank import distributed_rank

    if ppl is None:
        ppl = score_perplexity(docs)
    joined = cut_lineage(
        ppl.select("doc_id", "ppl").join(
            docs.select("doc_id", "source"), "doc_id"
        )
    )
    ranked = distributed_rank(
        joined,
        ["source"],
        [F.asc("ppl"), F.asc("doc_id")],
        F.least(F.lit(4095), F.floor("ppl")).cast("bigint"),
        rank_name="_r",
        group_count_name="_gn",
        method="row_number",
        pre_partition=True,
    )
    bucket = (
        F.when(3 * (F.col("_r") - 1) < F.col("_gn"), F.lit("head"))
        .when(3 * (F.col("_r") - 1) < 2 * F.col("_gn"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.select("source", bucket.alias("bucket"), "ppl")
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("ppl"), 6).alias("min_ppl"),
            F.round(F.max("ppl"), 6).alias("max_ppl"),
        )
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.io import load_table, session_cached

    docs = load_table(spark, sf_dir, "documents")
    bg = session_cached(spark, "lm-bigrams", sf_dir, lambda: _doc_bigrams(docs))
    return ccnet_perplexity_buckets(
        docs, ppl=score_perplexity(docs, bigrams=bg)
    )


QUERIES = {
    "text_lm_perplexity": q_lm_perplexity,
    "text_lm_stupid_backoff": q_lm_stupid_backoff,
    "text_lm_kneser_ney": q_lm_kneser_ney,
    "text_ccnet_ppl_buckets": q_ccnet_buckets,
}

# DuckDB twin: identical train + score over the same raw tokens.
_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, {sql_raw_tokens_expr('text')} AS toks FROM documents
),
bg AS (
  SELECT doc_id, s.v AS v, s.w AS w FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(0, len(toks) - 2),
             i -> struct_pack(v := toks[i + 1], w := toks[i + 2])
           )) AS s
    FROM toks WHERE len(toks) >= 2
  )
),
pair_counts AS (SELECT v, w, count(*) AS c_vw FROM bg GROUP BY v, w),
ctx_counts AS (SELECT v, sum(c_vw) AS c_v FROM pair_counts GROUP BY v),
vocab AS (
  SELECT count(DISTINCT t) AS vsize
  FROM (SELECT unnest(toks) AS t FROM toks)
),
model AS (
  SELECT p.v, p.w,
         ln((p.c_vw + {SMOOTH_ALPHA}) / (c.c_v + {SMOOTH_ALPHA} * (SELECT vsize FROM vocab))) AS logp
  FROM pair_counts p JOIN ctx_counts c ON p.v = c.v
),
scored AS (
  SELECT bg.doc_id,
         COALESCE(
           m.logp,
           ln({SMOOTH_ALPHA} / (c.c_v + {SMOOTH_ALPHA} * (SELECT vsize FROM vocab))),
           ln(1.0 / (SELECT vsize FROM vocab))
         ) AS lp
  FROM bg
  LEFT JOIN model m ON bg.v = m.v AND bg.w = m.w
  LEFT JOIN ctx_counts c ON bg.v = c.v
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round(exp(-avg(lp)), 6) AS ppl
FROM scored GROUP BY doc_id
"""

_SB_SQL = f"""
WITH split AS (
  SELECT *,
         ('0x' || substr(md5('{SB_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         % 10000 AS bk
  FROM documents
),
ttoks AS (
  SELECT doc_id, {sql_raw_tokens_expr('text')} AS toks FROM split WHERE bk < 5000
),
stoks AS (
  SELECT doc_id, {sql_raw_tokens_expr('text')} AS toks FROM split WHERE bk >= 5000
),
tbg AS (
  SELECT s.v AS v, s.w AS w FROM (
    SELECT unnest(list_transform(
             generate_series(0, len(toks) - 2),
             i -> struct_pack(v := toks[i + 1], w := toks[i + 2])
           )) AS s
    FROM ttoks WHERE len(toks) >= 2
  )
),
pair_counts AS (SELECT v, w, count(*) AS c_vw FROM tbg GROUP BY v, w),
ctx_counts AS (SELECT v, sum(c_vw) AS c_v FROM pair_counts GROUP BY v),
uni AS (
  SELECT t, count(*) AS c_w
  FROM (SELECT unnest(toks) AS t FROM ttoks) GROUP BY t
),
n AS (SELECT sum(c_w) AS n_tok FROM uni),
model AS (
  SELECT p.v, p.w, p.c_vw, c.c_v
  FROM pair_counts p JOIN ctx_counts c ON p.v = c.v
),
sbg AS (
  SELECT doc_id, s.v AS v, s.w AS w FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(0, len(toks) - 2),
             i -> struct_pack(v := toks[i + 1], w := toks[i + 2])
           )) AS s
    FROM stoks WHERE len(toks) >= 2
  )
),
scored AS (
  SELECT sbg.doc_id,
         CASE WHEN m.c_vw IS NULL THEN 1 ELSE 0 END AS backed_off,
         COALESCE(
           ln(m.c_vw / m.c_v),
           ln({SB_LAMBDA} * u.c_w / (SELECT n_tok FROM n)),
           ln({SB_LAMBDA} / (SELECT n_tok FROM n))
         ) AS lp
  FROM sbg
  LEFT JOIN model m ON sbg.v = m.v AND sbg.w = m.w
  LEFT JOIN uni u ON u.t = sbg.w
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       sum(backed_off)::BIGINT AS n_backoff,
       round(exp(-avg(lp)), 6) AS sb_ppl
FROM scored GROUP BY doc_id ORDER BY doc_id
"""

_KN_SQL = f"""
WITH split AS (
  SELECT *,
         ('0x' || substr(md5('{KN_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         % 10000 AS bk
  FROM documents
),
ttoks AS (
  SELECT doc_id, {sql_raw_tokens_expr('text')} AS toks FROM split WHERE bk < 5000
),
stoks AS (
  SELECT doc_id, {sql_raw_tokens_expr('text')} AS toks FROM split WHERE bk >= 5000
),
tbg AS (
  SELECT s.v AS v, s.w AS w FROM (
    SELECT unnest(list_transform(
             generate_series(0, len(toks) - 2),
             i -> struct_pack(v := toks[i + 1], w := toks[i + 2])
           )) AS s
    FROM ttoks WHERE len(toks) >= 2
  )
),
pair_counts AS (SELECT v, w, count(*) AS c_vw FROM tbg GROUP BY v, w),
fw AS (
  SELECT v, sum(c_vw) AS c_v, count(*) AS n1_fw FROM pair_counts GROUP BY v
),
bw AS (SELECT w, count(*) AS n1_bw FROM pair_counts GROUP BY w),
nt AS (SELECT count(*) AS n_types FROM pair_counts),
sbg AS (
  SELECT doc_id, s.v AS v, s.w AS w FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(0, len(toks) - 2),
             i -> struct_pack(v := toks[i + 1], w := toks[i + 2])
           )) AS s
    FROM stoks WHERE len(toks) >= 2
  )
),
scored AS (
  SELECT sbg.doc_id,
         CASE WHEN p.c_vw IS NULL THEN 1 ELSE 0 END AS unseen,
         ln(
           CASE
             WHEN p.c_vw IS NOT NULL THEN
               (CAST(p.c_vw AS DOUBLE) - {KN_DISCOUNT}) / CAST(f.c_v AS DOUBLE)
               + ({KN_DISCOUNT} * CAST(f.n1_fw AS DOUBLE) / CAST(f.c_v AS DOUBLE))
                 * (CAST(COALESCE(b.n1_bw, 1) AS DOUBLE)
                    / CAST((SELECT n_types FROM nt) AS DOUBLE))
             WHEN f.c_v IS NOT NULL THEN
               ({KN_DISCOUNT} * CAST(f.n1_fw AS DOUBLE) / CAST(f.c_v AS DOUBLE))
                 * (CAST(COALESCE(b.n1_bw, 1) AS DOUBLE)
                    / CAST((SELECT n_types FROM nt) AS DOUBLE))
             ELSE CAST(COALESCE(b.n1_bw, 1) AS DOUBLE)
                  / CAST((SELECT n_types FROM nt) AS DOUBLE)
           END
         ) AS lp
  FROM sbg
  LEFT JOIN pair_counts p ON sbg.v = p.v AND sbg.w = p.w
  LEFT JOIN fw f ON sbg.v = f.v
  LEFT JOIN bw b ON sbg.w = b.w
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       sum(unseen)::BIGINT AS n_unseen,
       round(exp(-avg(lp)), 6) AS kn_ppl
FROM scored GROUP BY doc_id ORDER BY doc_id
"""

# CCNet buckets: wrap the per-doc perplexity statement, join source,
# integer-exact tercile label from (ROW_NUMBER, group count).
_CCNET_SQL = f"""
WITH ppl_base AS ({_LM_SQL}),
j AS (
  SELECT p.doc_id, d.source, p.ppl
  FROM ppl_base p JOIN documents d ON p.doc_id = d.doc_id
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY ppl, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM j
)
SELECT source,
       CASE WHEN 3 * (rn - 1) < n THEN 'head'
            WHEN 3 * (rn - 1) < 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket,
       COUNT(*)::BIGINT AS n_docs,
       round(MIN(ppl), 6) AS min_ppl,
       round(MAX(ppl), 6) AS max_ppl
FROM r GROUP BY source, bucket
"""

ORACLES = {
    "text_lm_perplexity": _LM_SQL,
    "text_lm_stupid_backoff": _SB_SQL,
    "text_lm_kneser_ney": _KN_SQL,
    "text_ccnet_ppl_buckets": _CCNET_SQL,
}
