"""BM25F — field-weighted BM25 (Robertson & Zaragoza 2009, "simple
BM25F" variant).

The reference engine scores a document as one undifferentiated bag
of words (pyapp.py's BM25 over the concatenated opinion text); real
search surfaces weight structured zones — a title hit beats a body
hit. BM25F does this CORRECTLY: it combines the per-field term
frequencies BEFORE the k1 saturation (weighted, field-length-
normalized), rather than summing per-field BM25 scores (which would
double-saturate and is the classic implementation bug).

    wtf(t, d) = sum_f  w_f * tf_{t,f} / (1 - b_f + b_f * len_f/avglen_f)
    score(d)  = sum_t  idf(t) * wtf / (k1 + wtf)

Fields on the flat synthetic corpus: `title` = the first
TITLE_TOKENS tokens, `body` = the rest — a deterministic zoning both
engines compute from the same token stream (the nested CAP corpus
would map head-matter/opinions to the same two zones).

Scale shape: ONE posexplode of the token array (the field tag is a
position predicate, so fields don't multiply the explode), one
(doc_id, word) aggregate with conditional per-field sums, idf reused
from the session-cached standard index (same token stream, same df),
field-average lengths as a 1-row broadcast. Everything stays in
whole-stage codegen; top-k plans as TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.queries import (
    BM25_K,
    BM25_QUERY_TERMS,
    _index,
    index_body_sql,
    rounded_top_k,
)
from searchengine_spark.io import load_table
from searchengine_spark.text.tokenizer import sql_tokens_expr, tokens_column

TITLE_TOKENS = 8
W_TITLE, W_BODY = 2.0, 1.0
B_TITLE, B_BODY = 0.75, 0.75
K1F = 1.2


def q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k BM25F for the fixed benchmark query; ordered on the
    ROUNDED score (deterministic cross-engine cutoff, same convention
    as se_bm25_topk)."""
    idx = _index(spark, sf_dir)
    terms = list(BM25_QUERY_TERMS)

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_column(F.col("text")).alias("toks")
    )
    lens = docs.select(
        "doc_id",
        F.least(F.size("toks"), F.lit(TITLE_TOKENS)).alias("len_t"),
        (F.size("toks") - F.least(F.size("toks"), F.lit(TITLE_TOKENS))).alias(
            "len_b"
        ),
    )
    avg = lens.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum("len_t").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_t"
        ),
        (F.sum("len_b").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_b"
        ),
    ).select("avg_t", "avg_b")

    tok = docs.select(
        "doc_id", F.posexplode("toks").alias("pos", "word")
    ).filter(F.col("word").isin(terms))
    tff = tok.groupBy("doc_id", "word").agg(
        F.sum((F.col("pos") < TITLE_TOKENS).cast("long")).alias("tf_t"),
        F.sum((F.col("pos") >= TITLE_TOKENS).cast("long")).alias("tf_b"),
    )

    wtf = F.lit(W_TITLE) * F.col("tf_t").cast("double") / (
        F.lit(1.0 - B_TITLE)
        + F.lit(B_TITLE) * F.col("len_t").cast("double") / F.col("avg_t")
    ) + F.lit(W_BODY) * F.col("tf_b").cast("double") / (
        F.lit(1.0 - B_BODY)
        + F.lit(B_BODY) * F.col("len_b").cast("double") / F.col("avg_b")
    )
    scored = (
        tff.join(lens, "doc_id")
        .crossJoin(F.broadcast(avg))
        .join(
            F.broadcast(
                idx.idf_values.filter(F.col("word").isin(terms)).select(
                    "word", "idf"
                )
            ),
            "word",
        )
        .withColumn("wtf", wtf)
        .select(
            "doc_id",
            (
                F.col("idf") * F.col("wtf") / (F.lit(K1F) + F.col("wtf"))
            ).alias("term_score"),
        )
    )
    return rounded_top_k(scored, BM25_K)


_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

_BM25F_SQL = f"""
WITH t0 AS (
  SELECT doc_id, {sql_tokens_expr('text')} AS ws FROM documents
), ftok AS (
  SELECT doc_id, unnest(ws) AS word,
         generate_subscripts(ws, 1) - 1 AS pos
  FROM t0
), tok AS (
  SELECT doc_id, word FROM ftok
){index_body_sql()},
lens AS (
  SELECT doc_id,
         least(len(ws), {TITLE_TOKENS})::BIGINT AS len_t,
         (len(ws) - least(len(ws), {TITLE_TOKENS}))::BIGINT AS len_b
  FROM t0
), avg_ AS (
  SELECT CAST(SUM(len_t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_t,
         CAST(SUM(len_b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_b
  FROM lens
), tff AS (
  SELECT doc_id, word,
         CAST(SUM(CASE WHEN pos < {TITLE_TOKENS} THEN 1 ELSE 0 END) AS BIGINT)
           AS tf_t,
         CAST(SUM(CASE WHEN pos >= {TITLE_TOKENS} THEN 1 ELSE 0 END) AS BIGINT)
           AS tf_b
  FROM ftok
  WHERE word IN ({_TERMS_SQL})
  GROUP BY doc_id, word
), scored AS (
  SELECT tff.doc_id,
         idf.idf *
           ({W_TITLE!r} * CAST(tff.tf_t AS DOUBLE)
              / ({1.0 - B_TITLE!r} + {B_TITLE!r} * CAST(lens.len_t AS DOUBLE) / avg_.avg_t)
            + {W_BODY!r} * CAST(tff.tf_b AS DOUBLE)
              / ({1.0 - B_BODY!r} + {B_BODY!r} * CAST(lens.len_b AS DOUBLE) / avg_.avg_b))
           / ({K1F!r}
              + ({W_TITLE!r} * CAST(tff.tf_t AS DOUBLE)
                   / ({1.0 - B_TITLE!r} + {B_TITLE!r} * CAST(lens.len_t AS DOUBLE) / avg_.avg_t)
                 + {W_BODY!r} * CAST(tff.tf_b AS DOUBLE)
                   / ({1.0 - B_BODY!r} + {B_BODY!r} * CAST(lens.len_b AS DOUBLE) / avg_.avg_b)))
           AS term_score
  FROM tff
  JOIN lens ON tff.doc_id = lens.doc_id
  JOIN idf ON tff.word = idf.word
  CROSS JOIN avg_
)
SELECT doc_id, round(sum(term_score), 6) AS total_score
FROM scored GROUP BY doc_id
ORDER BY total_score DESC, doc_id ASC LIMIT {BM25_K}
"""

QUERIES = {"se_bm25f_topk": q_bm25f_topk}
ORACLES = {"se_bm25f_topk": _BM25F_SQL}
