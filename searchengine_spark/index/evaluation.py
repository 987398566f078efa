"""Offline retrieval-quality evaluation: NDCG@k, MRR, MAP, P@k, R@k.

The reference engine returns ranked lists but never measures them
(abh2050/searchengine pyapp.py:82-121 shows results with no metrics);
any team operating a search engine needs the standard TREC-style
metrics over the engine's own rankings. Judgments here are
deterministic pseudo-qrels derived from the corpus itself: for a
query q, a document's graded relevance is the number of distinct
q-terms it contains, and it is binary-RELEVANT iff it contains ALL of
q's terms — stricter than BM25's >=1-term match, so precision/recall
are non-trivial for multi-term queries.

Scale shape: one broadcast (query_id, word) fan-out joined against the
cached term_frequencies — the same single-scan batch shape as
se_bm25_batch — then per-query ranking via a row_number window whose
partition count equals the number of evaluation queries. At 100 TB
the per-query partitions hold only the matched docs (bounded by the
posting lists of the query terms); for fat queries swap in the
two-phase grouped top-k (operators/topk.py). Metric arithmetic is
cross-engine exact: gains are integers via bit-shift (never libm
pow), the rank discounts 1/log2(rank+1) are EMBEDDED Python-float
literals (JVM Math.log2 and DuckDB libm disagree in the last ulp on
~25% of args — measured), and per-term contributions are cast to
DECIMAL(18,12) before summing so addition order cannot move the hash.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from searchengine_spark.index.bm25 import term_scores
from searchengine_spark.index.queries import _INDEX_CTES, B, K1, _index

EVAL_K = 10
EVAL_QUERY_SETS: dict[int, tuple[str, ...]] = {
    1: ("spark", "join"),
    2: ("window", "fast"),
    3: ("spark", "window", "join"),
    4: ("fast",),
}
# 1/log2(rank+1) for rank 1..K, computed ONCE in Python and embedded
# as literals in both engines (libm log2 is not bit-stable across
# engines; repr'd doubles parse identically everywhere).
DISCOUNTS: tuple[float, ...] = tuple(
    1.0 / math.log2(r + 1) for r in range(1, EVAL_K + 1)
)


def _discount_at(rank_col) -> F.Column:
    return F.element_at(F.array(*[F.lit(d) for d in DISCOUNTS]), rank_col)


def _gain(rel_name: str) -> F.Column:
    # 2^rel - 1 as exact integer arithmetic (shiftleft, not libm pow).
    return F.expr(
        f"cast(shiftleft(1, cast({rel_name} as int)) - 1 as double)"
    )


def q_eval_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    qterms = spark.createDataFrame(
        [(qid, w) for qid, ts in EVAL_QUERY_SETS.items() for w in ts],
        "query_id int, word string",
    )
    qmeta = spark.createDataFrame(
        [(qid, " ".join(ts)) for qid, ts in EVAL_QUERY_SETS.items()],
        "query_id int, terms string",
    )
    nterms = qterms.groupBy("query_id").agg(F.count("*").alias("n_terms"))

    matched = idx.term_frequencies.join(F.broadcast(qterms), "word")
    # Graded relevance: distinct query terms present (tf is unique on
    # (doc_id, word), so count(*) counts distinct matched terms).
    # Persisted: rel feeds the top-k join, the ideal-DCG ranking AND
    # the n_rel count — left lazy its tf-join + aggregation subtree
    # executes three times (guide §5 caching note). Small: matched
    # (query, doc) pairs only.
    rel = matched.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("rel_grade")
    ).persist()

    scored = (
        term_scores(idx, matched, idx.idf_values.select("word", "idf"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("score"))
    )

    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= EVAL_K)
        .join(rel, ["query_id", "doc_id"])
        .join(F.broadcast(nterms), "query_id")
        .withColumn(
            "is_rel", (F.col("rel_grade") == F.col("n_terms")).cast("int")
        )
    )
    w_cum = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    topk = topk.withColumn("cum_hits", F.sum("is_rel").over(w_cum))

    per_q = topk.groupBy("query_id").agg(
        F.sum("is_rel").alias("hits"),
        F.sum(
            (_gain("rel_grade") * _discount_at(F.col("rank"))).cast(
                "decimal(18,12)"
            )
        ).alias("dcg"),
        F.min(F.when(F.col("is_rel") == 1, F.col("rank"))).alias("first_rel_rank"),
        F.sum(
            F.when(
                F.col("is_rel") == 1,
                (F.col("cum_hits").cast("double") / F.col("rank")).cast(
                    "decimal(18,12)"
                ),
            )
        ).alias("ap_num"),
    )

    w_ideal = Window.partitionBy("query_id").orderBy(
        F.desc("rel_grade"), F.asc("doc_id")
    )
    ideal = (
        rel.withColumn("irank", F.row_number().over(w_ideal))
        .filter(F.col("irank") <= EVAL_K)
        .groupBy("query_id")
        .agg(
            F.sum(
                (_gain("rel_grade") * _discount_at(F.col("irank"))).cast(
                    "decimal(18,12)"
                )
            ).alias("idcg")
        )
    )
    nrel = (
        rel.join(F.broadcast(nterms), "query_id")
        .filter(F.col("rel_grade") == F.col("n_terms"))
        .groupBy("query_id")
        .agg(F.count("*").alias("n_rel"))
    )

    hits = F.coalesce(F.col("hits"), F.lit(0)).cast("bigint")
    n_rel = F.coalesce(F.col("n_rel"), F.lit(0)).cast("bigint")
    return (
        qmeta.join(per_q, "query_id", "left")
        .join(ideal, "query_id", "left")
        .join(nrel, "query_id", "left")
        .select(
            "query_id",
            "terms",
            n_rel.alias("n_rel"),
            hits.alias("hits"),
            F.round(hits / F.lit(float(EVAL_K)), 6).alias("precision_at_k"),
            F.when(n_rel == 0, F.lit(0.0))
            .otherwise(F.round(hits.cast("double") / n_rel, 6))
            .alias("recall_at_k"),
            F.when(F.col("first_rel_rank").isNull(), F.lit(0.0))
            .otherwise(F.round(F.lit(1.0) / F.col("first_rel_rank"), 6))
            .alias("mrr"),
            F.when((n_rel == 0) | F.col("ap_num").isNull(), F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("ap_num").cast("double")
                    / F.least(n_rel, F.lit(EVAL_K)).cast("double"),
                    6,
                )
            )
            .alias("ap_at_k"),
            F.when(
                F.col("idcg").isNull() | (F.col("idcg") == 0), F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.coalesce(F.col("dcg"), F.lit(0)).cast("double")
                    / F.col("idcg").cast("double"),
                    6,
                )
            )
            .alias("ndcg_at_k"),
        )
    )


# ---------------------------------------------------------------- oracle

_Q_VALUES = ", ".join(
    f"({qid}, '{w}')" for qid, ts in EVAL_QUERY_SETS.items() for w in ts
)
_QMETA_VALUES = ", ".join(
    f"({qid}, '{' '.join(ts)}')" for qid, ts in EVAL_QUERY_SETS.items()
)
_DISC_SQL = "[" + ", ".join(repr(d) for d in DISCOUNTS) + "]"

_EVAL_SQL = f"""{_INDEX_CTES},
queries(query_id, word) AS (VALUES {_Q_VALUES}),
qmeta(query_id, terms) AS (VALUES {_QMETA_VALUES}),
nterms AS (
  SELECT query_id, count(*)::BIGINT AS n_terms FROM queries GROUP BY query_id
),
matched AS (
  SELECT q.query_id, tf.doc_id, tf.word, tf.term_freq
  FROM tf JOIN queries q ON tf.word = q.word
),
rel AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS rel_grade
  FROM matched GROUP BY query_id, doc_id
),
scored AS (
  SELECT m.query_id, m.doc_id,
         round(sum(idf.idf * (m.term_freq * {K1 + 1.0}) /
           (m.term_freq + {K1} * (1.0 - {B} + {B} * dl.doc_length /
             (SELECT avgdl FROM params)))), 6) AS score
  FROM matched m
  JOIN idf ON m.word = idf.word
  JOIN dl ON m.doc_id = dl.doc_id
  GROUP BY m.query_id, m.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
),
topk AS (
  SELECT r.query_id, r.doc_id, r.rnk, rel.rel_grade,
         CASE WHEN rel.rel_grade = n.n_terms THEN 1 ELSE 0 END AS is_rel
  FROM ranked r
  JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
  JOIN nterms n ON r.query_id = n.query_id
  WHERE r.rnk <= {EVAL_K}
),
with_cum AS (
  SELECT *, sum(is_rel) OVER (PARTITION BY query_id ORDER BY rnk) AS cum_hits
  FROM topk
),
perq AS (
  SELECT query_id,
         CAST(sum(is_rel) AS BIGINT) AS hits,
         sum(CAST(((1 << rel_grade) - 1)::DOUBLE * ({_DISC_SQL})[rnk]
             AS DECIMAL(18,12))) AS dcg,
         min(CASE WHEN is_rel = 1 THEN rnk END) AS first_rel_rank,
         sum(CASE WHEN is_rel = 1
             THEN CAST(cum_hits::DOUBLE / rnk AS DECIMAL(18,12)) END) AS ap_num
  FROM with_cum GROUP BY query_id
),
ideal AS (
  SELECT query_id,
         sum(CAST(((1 << rel_grade) - 1)::DOUBLE * ({_DISC_SQL})[irnk]
             AS DECIMAL(18,12))) AS idcg
  FROM (
    SELECT query_id, rel_grade, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel_grade DESC, doc_id ASC) AS irnk
    FROM rel
  ) t
  WHERE irnk <= {EVAL_K}
  GROUP BY query_id
),
nrel AS (
  SELECT r.query_id, count(*)::BIGINT AS n_rel
  FROM rel r JOIN nterms n ON r.query_id = n.query_id
  WHERE r.rel_grade = n.n_terms
  GROUP BY r.query_id
)
SELECT q.query_id, q.terms,
       COALESCE(nr.n_rel, 0)::BIGINT AS n_rel,
       COALESCE(p.hits, 0)::BIGINT AS hits,
       round(COALESCE(p.hits, 0) / {float(EVAL_K)}, 6) AS precision_at_k,
       CASE WHEN COALESCE(nr.n_rel, 0) = 0 THEN 0.0
            ELSE round(COALESCE(p.hits, 0)::DOUBLE / nr.n_rel, 6)
       END AS recall_at_k,
       CASE WHEN p.first_rel_rank IS NULL THEN 0.0
            ELSE round(1.0 / p.first_rel_rank, 6)
       END AS mrr,
       CASE WHEN COALESCE(nr.n_rel, 0) = 0 OR p.ap_num IS NULL THEN 0.0
            ELSE round(p.ap_num::DOUBLE / least(nr.n_rel, {EVAL_K}), 6)
       END AS ap_at_k,
       CASE WHEN i.idcg IS NULL OR i.idcg = 0 THEN 0.0
            ELSE round(COALESCE(p.dcg, 0)::DOUBLE / i.idcg::DOUBLE, 6)
       END AS ndcg_at_k
FROM qmeta q
LEFT JOIN perq p ON q.query_id = p.query_id
LEFT JOIN ideal i ON q.query_id = i.query_id
LEFT JOIN nrel nr ON q.query_id = nr.query_id
"""

QUERIES = {"se_eval_retrieval_metrics": q_eval_retrieval_metrics}
ORACLES = {"se_eval_retrieval_metrics": _EVAL_SQL}
