"""MaxScore dynamic pruning for BM25 top-k — skip postings that
cannot reach the top-k.

Reference parity note: the reference scores EVERY matching document
for every query (rank_bm25's get_scores at searchenginespark.py — a
full pass over all docs per query). That is the exhaustive baseline;
at 100 TB the postings of a common term are billions of rows, and
production engines (Lucene's default since 8.0) use MaxScore/WAND
(Turtle & Flood 1995; Broder et al. 2003) to skip documents that
cannot enter the top-k. This module is the batch-relational MaxScore:

  1. index-time: per-term UPPER BOUND ub(t) = max over postings of
     the term's BM25 contribution (one keyed aggregate at build time;
     stored index metadata, like Lucene's per-term max impact).
  2. query-time: sort the query's terms by ub; a cheap FIRST PASS
     fully scores only the top-ub term's postings, giving a lower
     bound θ0 on the true kth score (a subset's kth best can only be
     ≤ the global kth best).
  3. terms whose suffix-ub sum is < θ0 are NON-ESSENTIAL: a document
     containing only those terms scores ≤ that suffix sum < θ0 ≤ kth,
     so it can never enter the top-k. Candidates = documents holding
     at least one ESSENTIAL term — a semi-join that skips the
     non-essential postings entirely.
  4. second pass fully scores candidates only; top-k of that equals
     the exhaustive top-k EXACTLY (the returned frame carries the
     pruning counters, and the oracle recomputes the whole
     derivation, so the equality is hash-checked, not asserted).

Scale shape: the only corpus-scale work is the two bounded posting
scans (top-ub term's postings, then essential-term postings); the
ub/suffix/θ machinery runs on ≤|query| rows. All cutoffs compare
ROUND(…, 6) values in both engines so the float boundary is
deterministic cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark.index.bm25 import query_term_scores
from searchengine_spark.index.builder import InvertedIndex
from searchengine_spark.index.queries import BM25_QUERY_TERMS, _index, rounded_top_k
from searchengine_spark.io import check_top_k

MAXSCORE_K = 10
NEG_INF = -1.0e18


def maxscore_topk(
    index: InvertedIndex, terms: list[str], k: int = MAXSCORE_K
) -> DataFrame:
    """Exact top-k via MaxScore pruning, with audit counters.

    Output: (rank, doc_id, total_score, n_essential_terms,
    n_candidates, n_match_any) — the counters prove pruning happened
    (n_candidates < n_match_any) while the rows prove it stayed exact.
    """
    check_top_k(k)
    # Not cached: a public operator returns a lazy plan, and a cached
    # ts would outlive the call and serve later BM25 queries over the
    # same terms.
    ts = query_term_scores(index, terms)
    ub = ts.groupBy("word").agg(F.round(F.max("term_score"), 6).alias("ub"))
    ow = Window.orderBy(F.desc("ub"), F.asc("word"))  # <= |terms| rows
    sw = ow.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ordered = ub.select(
        "word",
        "ub",
        F.round(F.sum("ub").over(sw), 6).alias("suffix_ub"),
        F.row_number().over(ow).alias("pos"),
    )
    top1 = ordered.filter(F.col("pos") == 1).select("word")
    top1_docs = ts.join(F.broadcast(top1), "word").select("doc_id").distinct()
    theta = (
        rounded_top_k(ts.join(top1_docs, "doc_id", "left_semi"), k)
        .agg(F.min("total_score").alias("_th"), F.count(F.lit(1)).alias("_c"))
        .select(
            F.when(F.col("_c") < F.lit(k), F.lit(NEG_INF))
            .otherwise(F.col("_th"))
            .alias("th")
        )
    )
    # Conservative pruning boundary: ub/suffix_ub are ROUND(...,6), so
    # the stored bound can UNDER-state the true term contribution by
    # up to ~0.5e-6 per term; keeping terms within 1e-6 of theta makes
    # the rounding bias harmless (extra candidates cost a few rows,
    # a wrongly-pruned term would cost exactness on adversarial ties).
    essential = (
        ordered.crossJoin(F.broadcast(theta))
        .filter(F.col("suffix_ub") >= F.col("th") - F.lit(1e-6))
        .select("word")
    )
    candidates = (
        ts.join(F.broadcast(essential), "word").select("doc_id").distinct()
    )
    final = rounded_top_k(ts.join(candidates, "doc_id", "left_semi"), k)
    n_ess = essential.agg(F.count(F.lit(1)).alias("n_essential_terms"))
    n_cand = candidates.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_any = ts.agg(F.countDistinct("doc_id").alias("n_match_any"))
    rw = Window.orderBy(F.desc("total_score"), F.asc("doc_id"))  # k rows
    return (
        final.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .crossJoin(F.broadcast(n_ess))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_any))
        .select(
            "rank",
            "doc_id",
            "total_score",
            F.col("n_essential_terms").cast("bigint").alias("n_essential_terms"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("n_match_any").cast("bigint").alias("n_match_any"),
        )
        .orderBy("rank")
    )


def q_maxscore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maxscore_topk(_index(spark, sf_dir), list(BM25_QUERY_TERMS))


def _maxscore_sql(k: int = MAXSCORE_K) -> str:
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
  WHERE tf.word IN ({_BM25_TERMS_SQL})
),
ub AS (SELECT word, ROUND(MAX(s), 6) AS ub FROM ts GROUP BY word),
ordered AS (
  SELECT word, ub,
         ROUND(SUM(ub) OVER (
           ORDER BY ub DESC, word
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ), 6) AS suffix_ub,
         ROW_NUMBER() OVER (ORDER BY ub DESC, word) AS pos
  FROM ub
),
p1docs AS (
  SELECT DISTINCT doc_id FROM ts
  WHERE word = (SELECT word FROM ordered WHERE pos = 1)
),
p1 AS (
  SELECT t.doc_id, ROUND(SUM(t.s), 6) AS sc
  FROM ts t JOIN p1docs USING (doc_id) GROUP BY t.doc_id
),
pk AS (SELECT sc, doc_id FROM p1 ORDER BY sc DESC, doc_id LIMIT {k}),
theta AS (
  SELECT CASE WHEN COUNT(*) < {k} THEN {NEG_INF} ELSE MIN(sc) END AS th
  FROM pk
),
essential AS (
  -- conservative boundary, mirrors the Spark path: ROUND(...,6)
  -- bounds can under-state by ~0.5e-6/term, so keep within 1e-6
  SELECT word FROM ordered, theta WHERE suffix_ub >= th - 0.000001
),
cand AS (
  SELECT DISTINCT doc_id FROM ts
  WHERE word IN (SELECT word FROM essential)
),
final AS (
  SELECT t.doc_id, ROUND(SUM(t.s), 6) AS total_score
  FROM ts t JOIN cand USING (doc_id)
  GROUP BY t.doc_id
  ORDER BY total_score DESC, t.doc_id
  LIMIT {k}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY total_score DESC, doc_id) AS BIGINT) AS rank,
       doc_id, total_score,
       (SELECT COUNT(*)::BIGINT FROM essential) AS n_essential_terms,
       (SELECT COUNT(*)::BIGINT FROM cand) AS n_candidates,
       (SELECT COUNT(DISTINCT doc_id)::BIGINT FROM ts) AS n_match_any
FROM final
ORDER BY rank
"""


QUERIES = {"se_maxscore_topk": q_maxscore_topk}
ORACLES = {"se_maxscore_topk": _maxscore_sql()}
