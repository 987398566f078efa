"""Learning-to-rank feature extraction: the (query, doc) feature
table a gradient-boosted reranker trains on.

The reference engine ranks with raw BM25 only (abh2050/searchengine
pyapp.py:72-81 sums term scores and sorts); production search stacks
feed BM25 plus per-pair lexical statistics into a learned ranker
(MSLR-WEB / LETOR feature families, public). This module emits that
table for the engine's own corpus and a fixed evaluation query set —
the offline half of an LTR loop (the online half, re-ranking by a
trained model's scores, is a map-only join once the model exists).

Features per (query_id, doc_id), for every doc matching >= 1 term:
bm25 (the engine's own score), tf_sum / max_tf (raw term-frequency
mass), idf_sum (rarity mass of the MATCHED terms), matched_terms and
coverage (matched / |query|, the AND-ness signal BM25 blurs),
doc_length and dl_norm (length prior).

Scale shape: identical to se_bm25_batch — one scan of the cached
term_frequencies joined against a BROADCAST (query_id, word) fan-out,
then one keyed agg on (query_id, doc_id). No window: feature rows are
unranked training data, so nothing forces a per-query sort. At 100 TB
with 10^5 training queries the fan-out stays a broadcast (queries x
terms is tiny) and the agg shuffles on (query_id, doc_id) — uniform
by construction.

Determinism: idf_sum is decimal(18,12)-cast per term before summing
(addition-order independence); bm25 follows the se_bm25_scores
round-6 convention; everything else is exact integers or single
divisions of exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.bm25 import bm25_term_score
from searchengine_spark.index.evaluation import EVAL_QUERY_SETS
from searchengine_spark.index.queries import _INDEX_CTES, _index


def ltr_features(
    idx, qterms: DataFrame
) -> DataFrame:
    """Feature table from an InvertedIndex and a (query_id, word)
    frame. ``qterms`` must be broadcast-small (it is the query
    workload, not the corpus)."""
    nterms = qterms.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    # Its own join, not bm25.term_scores: the features read term_freq,
    # idf and doc_length beside the score.
    matched = (
        idx.term_frequencies.join(F.broadcast(qterms), "word")
        .join(F.broadcast(idx.idf_values.select("word", "idf")), "word")
        .join(idx.doc_lengths, "doc_id")
        .crossJoin(F.broadcast(idx.scoring_params.select("avgdl")))
    )
    feats = matched.groupBy("query_id", "doc_id").agg(
        F.round(
            F.sum(
                bm25_term_score(
                    F.col("term_freq"),
                    F.col("doc_length"),
                    F.col("avgdl"),
                    F.col("idf"),
                )
            ),
            6,
        ).alias("bm25"),
        F.sum("term_freq").alias("tf_sum"),
        F.round(
            F.sum(F.col("idf").cast("decimal(18,12)")).cast("double"), 6
        ).alias("idf_sum"),
        F.max("term_freq").alias("max_tf"),
        F.count(F.lit(1)).alias("matched_terms"),
        F.min("doc_length").alias("doc_length"),
        F.min("avgdl").alias("_avgdl"),
    )
    return feats.join(F.broadcast(nterms), "query_id").select(
        "query_id",
        "doc_id",
        "bm25",
        "tf_sum",
        "idf_sum",
        "max_tf",
        "matched_terms",
        "doc_length",
        F.round(
            F.col("matched_terms").cast("double") / F.col("n_terms").cast("double"),
            6,
        ).alias("coverage"),
        F.round(F.col("doc_length").cast("double") / F.col("_avgdl"), 6).alias(
            "dl_norm"
        ),
    )


def q_ltr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    qterms = spark.createDataFrame(
        [(qid, w) for qid, ts in EVAL_QUERY_SETS.items() for w in ts],
        "query_id int, word string",
    )
    return ltr_features(idx, qterms)


_QT_VALUES = ", ".join(
    f"({qid}, '{w}')" for qid, ts in EVAL_QUERY_SETS.items() for w in ts
)

_LTR_SQL = f"""{_INDEX_CTES},
qt AS (SELECT * FROM (VALUES {_QT_VALUES}) AS t(query_id, word)),
nt AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt GROUP BY 1),
m AS (
  SELECT qt.query_id, tf.doc_id, tf.term_freq, idf.idf, dl.doc_length
  FROM tf
  JOIN qt ON tf.word = qt.word
  JOIN idf ON tf.word = idf.word
  JOIN dl ON tf.doc_id = dl.doc_id
),
f AS (
  SELECT query_id, doc_id,
         round(SUM(idf * (term_freq * 2.2) /
               (term_freq + 1.2 * (1.0 - 0.75 + 0.75 * doc_length /
                 (SELECT avgdl FROM params)))), 6) AS bm25,
         SUM(term_freq)::BIGINT AS tf_sum,
         round(CAST(SUM(CAST(idf AS DECIMAL(18,12))) AS DOUBLE), 6) AS idf_sum,
         MAX(term_freq)::BIGINT AS max_tf,
         count(*)::BIGINT AS matched_terms,
         MIN(doc_length)::BIGINT AS doc_length
  FROM m GROUP BY 1, 2
)
SELECT f.query_id, f.doc_id, f.bm25, f.tf_sum, f.idf_sum, f.max_tf,
       f.matched_terms, f.doc_length,
       round(CAST(matched_terms AS DOUBLE) / CAST(n_terms AS DOUBLE), 6) AS coverage,
       round(CAST(doc_length AS DOUBLE) / (SELECT avgdl FROM params), 6) AS dl_norm
FROM f JOIN nt ON f.query_id = nt.query_id
"""

QUERIES = {"se_ltr_features": q_ltr_features}
ORACLES = {"se_ltr_features": _LTR_SQL}
