"""Static index pruning (Carmel et al., SIGIR 2001) — drop postings
that cannot matter, then measure what that costs.

Reference parity note: the reference (abh2050/searchengine) keeps
every posting and scores all of them per query (rank_bm25
get_scores). At 100 TB the index itself is the cost center: postings
whose BM25 contribution is a small fraction of their term's best
contribution almost never influence a top-k, and dropping them at
BUILD time shrinks every scan the MaxScore/top-k machinery does
afterwards. This module implements term-proportional static pruning
(keep posting (t, d) iff score(t, d) >= tau * max_d score(t, d)) and
the audit that makes the trade measurable: index size reduction vs
top-k recall against the unpruned index.

Scale shape: scoring all postings is the same one keyed join chain
the index build already does (tf ⋈ idf ⋈ dl + broadcast avgdl); the
per-term max is one keyed aggregate joined back on the uniform word
key; both top-k's are TakeOrderedAndProject. Cutoff comparisons use
ROUND(...,6) on BOTH sides (the repo's cross-engine float boundary
discipline); the top-k sums stay unrounded until the final round,
matching the bm25/maxscore convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.bm25 import term_scores

# Keep postings within 70% of their term's best score: on the
# fixture corpus this drops ~43% of postings for recall@10 = 0.8 — a
# real, measurable trade (0.5 barely prunes the low-tf-variance
# synthetic text; production corpora trade far better at lower tau).
PRUNE_TAU = 0.7
PRUNE_K = 10


def q_static_pruning_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit: postings kept under tau-proportional pruning and
    top-k recall of the pruned index for the standard probe query."""
    from searchengine_spark.index.queries import (
        BM25_QUERY_TERMS,
        _index,
        rounded_top_k,
    )

    idx = _index(spark, sf_dir)
    ts = term_scores(
        idx, idx.term_frequencies, idx.idf_values.select("word", "idf")
    )
    ub = ts.groupBy("word").agg(F.round(F.max("term_score"), 6).alias("ub"))
    kept = ts.join(ub, "word").filter(
        F.round(F.col("term_score"), 6)
        >= F.round(F.lit(PRUNE_TAU) * F.col("ub"), 6)
    )

    def topk(frame: DataFrame) -> DataFrame:
        return rounded_top_k(
            frame.filter(F.col("word").isin(list(BM25_QUERY_TERMS))), PRUNE_K
        )

    full_k = topk(ts)
    pruned_k = topk(kept)
    n_full = ts.agg(F.count(F.lit(1)).alias("n_postings_full"))
    n_kept = kept.agg(F.count(F.lit(1)).alias("n_postings_kept"))
    overlap = full_k.join(
        pruned_k.select("doc_id"), "doc_id", "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        n_full.crossJoin(F.broadcast(n_kept))
        .crossJoin(F.broadcast(overlap))
        .select(
            F.lit(PRUNE_K).cast("bigint").alias("k"),
            F.col("n_postings_full").cast("bigint").alias("n_postings_full"),
            F.col("n_postings_kept").cast("bigint").alias("n_postings_kept"),
            F.round(
                F.col("n_postings_kept") / F.col("n_postings_full"), 6
            ).alias("frac_kept"),
            F.col("n_overlap").cast("bigint").alias("n_overlap"),
            F.round(F.col("n_overlap") / F.lit(PRUNE_K), 6).alias("recall"),
        )
    )


def _static_prune_sql() -> str:
    from searchengine_spark.index.queries import (
        _BM25_TERMS_SQL,
        _INDEX_CTES,
        B,
        K1,
    )

    return f"""{_INDEX_CTES},
ts AS (
  SELECT tf.word, tf.doc_id,
         idf.idf * (tf.term_freq * {K1 + 1.0}) /
           (tf.term_freq + {K1} * (1.0 - {B} + {B} * dl.doc_length /
             (SELECT avgdl FROM params))) AS s
  FROM tf JOIN idf USING (word) JOIN dl USING (doc_id)
),
ub AS (SELECT word, ROUND(MAX(s), 6) AS ub FROM ts GROUP BY word),
kept AS (
  SELECT ts.* FROM ts JOIN ub USING (word)
  WHERE ROUND(s, 6) >= ROUND({PRUNE_TAU} * ub, 6)
),
fullk AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROUND(SUM(s), 6) AS sc FROM ts
    WHERE word IN ({_BM25_TERMS_SQL})
    GROUP BY doc_id ORDER BY sc DESC, doc_id LIMIT {PRUNE_K}
  )
),
prunedk AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROUND(SUM(s), 6) AS sc FROM kept
    WHERE word IN ({_BM25_TERMS_SQL})
    GROUP BY doc_id ORDER BY sc DESC, doc_id LIMIT {PRUNE_K}
  )
),
cnt AS (
  SELECT (SELECT COUNT(*)::BIGINT FROM ts) AS n_postings_full,
         (SELECT COUNT(*)::BIGINT FROM kept) AS n_postings_kept,
         (SELECT COUNT(*)::BIGINT FROM fullk
          WHERE EXISTS (SELECT 1 FROM prunedk p
                        WHERE p.doc_id = fullk.doc_id)) AS n_overlap
)
SELECT CAST({PRUNE_K} AS BIGINT) AS k,
       n_postings_full, n_postings_kept,
       ROUND(CAST(n_postings_kept AS DOUBLE) / n_postings_full, 6)
         AS frac_kept,
       n_overlap,
       ROUND(CAST(n_overlap AS DOUBLE) / {PRUNE_K}, 6) AS recall
FROM cnt
"""


QUERIES = {"se_static_pruning_recall": q_static_pruning_recall}
ORACLES = {"se_static_pruning_recall": _static_prune_sql()}
