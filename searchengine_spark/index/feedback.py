"""Pseudo-relevance feedback (RM3-lite query expansion).

The classic two-pass retrieval upgrade (Rocchio/RM3 family; the
reference engine stops at single-pass BM25, nltksearchv1.py): run the
query, assume the top FB_K documents are relevant, mine the EXP_M
most informative terms from them (feedback term mass x idf), and
re-score with the expanded term set, expansion terms downweighted to
EXP_WEIGHT. Recovers vocabulary-mismatch docs that mention the
concept without the query's exact words.

Fully declarative — three stages over the cached index frames, no
driver collect: the feedback set and expansion terms are LIMITed
DataFrames that flow into broadcast joins, so at 100 TB the only
big-table work is two keyed passes over term_frequencies (the same
shape as a plain BM25 query, twice). Determinism for the oracle:
every selection orders on ROUNDED scores with id/word tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.bm25 import query_term_scores, term_scores
from searchengine_spark.index.queries import (
    _INDEX_CTES,
    B,
    BM25_QUERY_TERMS,
    K1,
    _index,
    rounded_top_k,
)

FB_K = 5       # feedback documents
EXP_M = 3      # expansion terms
EXP_WEIGHT = 0.5


def q_bm25_prf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    terms = list(BM25_QUERY_TERMS)

    fb = rounded_top_k(query_term_scores(idx, terms), FB_K).select("doc_id")
    exp = (
        idx.term_frequencies.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("word").isin(terms))
        .groupBy("word")
        .agg(F.sum("term_freq").alias("fb_tf"))
        .join(idx.idf_values, "word")
        .select(
            "word", F.round(F.col("fb_tf") * F.col("idf"), 6).alias("exp_score")
        )
        .orderBy(F.desc("exp_score"), F.asc("word"))
        .limit(EXP_M)
        .select("word", F.lit(EXP_WEIGHT).alias("weight"))
    )
    qterms = spark.createDataFrame(
        [(t, 1.0) for t in terms], "word string, weight double"
    ).unionByName(exp)

    scored = term_scores(
        idx,
        idx.term_frequencies.join(F.broadcast(qterms), "word"),
        idx.idf_values.select("word", "idf"),
    ).select("doc_id", (F.col("term_score") * F.col("weight")).alias("term_score"))
    return rounded_top_k(scored, 10)


_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
_TERMS_LIST_SQL = "[" + ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS) + "]"

# The BM25 arithmetic below mirrors queries.BM25_SCORED_CTE
# term-for-term (kept in lockstep by tests/test_feedback.py's parity
# run; the CTE itself is query-term-filtered so it can't be reused
# for the weighted rescore).
_PRF_SQL = f"""{_INDEX_CTES},
scored AS (
  SELECT tf.doc_id,
         idf.idf * (tf.term_freq * {K1 + 1.0}) /
           (tf.term_freq + {K1} * (1.0 - {B} + {B} * dl.doc_length /
             (SELECT avgdl FROM params))) AS term_score
  FROM tf
  JOIN idf ON tf.word = idf.word
  JOIN dl ON tf.doc_id = dl.doc_id
  WHERE tf.word IN ({_TERMS_SQL})
), base AS (
  SELECT doc_id, round(sum(term_score), 6) AS s FROM scored GROUP BY doc_id
), fb AS (
  SELECT doc_id FROM base ORDER BY s DESC, doc_id ASC LIMIT {FB_K}
), exp AS (
  SELECT c.word, {EXP_WEIGHT} AS weight
  FROM (
    SELECT tf.word, SUM(tf.term_freq) AS fb_tf
    FROM tf JOIN fb ON tf.doc_id = fb.doc_id
    WHERE tf.word NOT IN ({_TERMS_SQL})
    GROUP BY tf.word
  ) c
  JOIN idf ON c.word = idf.word
  ORDER BY round(c.fb_tf * idf.idf, 6) DESC, c.word ASC
  LIMIT {EXP_M}
), qterms AS (
  SELECT unnest({_TERMS_LIST_SQL}) AS word, 1.0 AS weight
  UNION ALL
  SELECT word, weight FROM exp
), rescored AS (
  SELECT tf.doc_id,
         (idf.idf * (tf.term_freq * {K1 + 1.0}) /
           (tf.term_freq + {K1} * (1.0 - {B} + {B} * dl.doc_length /
             (SELECT avgdl FROM params)))) * q.weight AS term_score
  FROM tf
  JOIN qterms q ON tf.word = q.word
  JOIN idf ON tf.word = idf.word
  JOIN dl ON tf.doc_id = dl.doc_id
)
SELECT doc_id, round(SUM(term_score), 6) AS total_score
FROM rescored GROUP BY doc_id
ORDER BY total_score DESC, doc_id ASC
LIMIT 10
"""


QUERIES = {"se_bm25_prf_topk": q_bm25_prf_topk}
ORACLES = {"se_bm25_prf_topk": _PRF_SQL}
