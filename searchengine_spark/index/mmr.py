"""MMR (Maximal Marginal Relevance) diversified re-ranking.

The BM25 ranker (index/bm25.py; reference searchenginespark.py's
score-and-sort loop) returns near-duplicate results next to each
other — a corpus with re-posts fills the whole first page with one
document. MMR (Carbonell & Goldstein 1998, public) re-ranks the
top-K candidates greedily:

    pick argmax over remaining d of
        lambda * rel(d) - (1 - lambda) * max_{s in selected} sim(d, s)

with token-set Jaccard as the redundancy measure.

Scale shape: the greedy is over K = MMR_K candidates per query — a
CONSTANT-size problem regardless of corpus size (the reference's k=5
result page is the same shape). Candidate scoring reuses the BM25
path; pairwise similarity joins only the K candidate docs' word sets
(broadcast the candidate id list into the tf frame); the greedy then
runs driver-side over the collected K-row frame (see q_mmr_rerank's
docstring). Every engine-visible number is rounded before it orders
anything (cross-engine determinism discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.bm25 import query_term_scores
from searchengine_spark.index.queries import (
    _INDEX_CTES,
    BM25_QUERY_TERMS,
    BM25_SCORED_CTE,
    _index,
    rounded_top_k,
)

MMR_K = 15       # BM25 candidates entering the re-rank
M_SELECT = 5     # results returned (the reference UI's page size)
LAM = 0.7        # relevance weight; (1-LAM) penalizes redundancy


def _candidate_sim(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """Directed (doc_a, doc_b, sim): token-set Jaccard between every
    ordered pair of candidate docs (absent rows mean sim 0)."""
    idx = _index(spark, sf_dir)
    cw = idx.term_frequencies.select("doc_id", "word").join(
        F.broadcast(cand.select("doc_id")), "doc_id"
    )
    sz = cw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = cw.select(F.col("doc_id").alias("da"), "word")
    b = cw.select(F.col("doc_id").alias("db"), "word")
    shared = (
        a.join(b, "word")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("sh"))
    )
    one_way = (
        shared.join(sz.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza")), "da")
        .join(sz.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb")), "db")
        .select(
            "da",
            "db",
            (
                F.col("sh").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("sh")).cast("double")
            ).alias("sim"),
        )
    )
    return one_way.unionByName(
        one_way.select(
            F.col("db").alias("da"), F.col("da").alias("db"), "sim"
        )
    )


def _round6(x: float) -> float:
    """HALF_UP 6-decimal round on the shortest decimal repr — exactly
    what Spark's F.round (BigDecimal on Double.toString) and DuckDB's
    round do, so the driver-side greedy hashes identically."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The greedy itself runs driver-side over the COLLECTED candidate
    list — two bounded collects (<= MMR_K rows, <= MMR_K^2 sims) on a
    per-query constant, the same tiny-serving-frame budget the phrase
    and ANN probe paths use; the distributed work (BM25 scoring, the
    candidate-restricted similarity join) stays in the plan. An
    all-plan unroll works but nests M_SELECT re-evaluations of the
    candidate lineage — strictly worse at any scale for a K-bounded
    problem."""
    from searchengine_spark.io import cut_lineage

    # Lineage-cut the MMR_K-row candidate frame: without it the
    # similarity join re-executes the whole BM25 scoring subtree a
    # second time (collect() caches nothing) — one scoring pass
    # instead of two per query (r13 optimization, guide §1.2 step 1).
    cand_df = cut_lineage(
        rounded_top_k(
            query_term_scores(_index(spark, sf_dir), BM25_QUERY_TERMS), MMR_K
        ).select("doc_id", F.col("total_score").alias("rel"))
    )
    cand = cand_df.collect()
    sims = {
        (r["da"], r["db"]): r["sim"]
        for r in _candidate_sim(spark, sf_dir, cand_df).collect()
    }
    by_rel = sorted(cand, key=lambda r: (-r["rel"], r["doc_id"]))
    rows: list[tuple] = []
    selected: list[int] = []
    if by_rel:
        first = by_rel[0]
        rows.append((1, first["doc_id"], first["rel"], _round6(LAM * first["rel"])))
        selected.append(first["doc_id"])
    for step in range(2, M_SELECT + 1):
        remaining = [r for r in cand if r["doc_id"] not in selected]
        if not remaining:
            break
        scored = []
        for r in remaining:
            max_sim = max(
                (sims.get((r["doc_id"], s), 0.0) for s in selected), default=0.0
            )
            scored.append(
                (
                    _round6(LAM * r["rel"] - (1.0 - LAM) * max_sim),
                    r["doc_id"],
                    r["rel"],
                )
            )
        mmr, doc_id, rel = sorted(scored, key=lambda t: (-t[0], t[1]))[0]
        rows.append((step, doc_id, rel, mmr))
        selected.append(doc_id)
    return spark.createDataFrame(
        rows, schema="mmr_rank bigint, doc_id bigint, rel double, mmr_score double"
    )


def _mmr_sql() -> str:
    one_minus = 1.0 - LAM
    steps = []
    prev_sel = "s1"
    for step in range(2, M_SELECT + 1):
        steps.append(f"""
sel{step} AS (SELECT doc_id FROM {prev_sel}),
r{step} AS MATERIALIZED (
  SELECT c.doc_id, c.rel,
         round({LAM!r} * c.rel - {one_minus!r} * coalesce(
           (SELECT max(s.sim) FROM sim s
            WHERE s.da = c.doc_id
              AND s.db IN (SELECT doc_id FROM sel{step})), 0.0), 6)
           AS mmr_score
  FROM cand c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{step})
),
s{step} AS (
  SELECT doc_id, rel, mmr_score FROM r{step}
  ORDER BY mmr_score DESC, doc_id ASC LIMIT 1
)""")
        prev_sel = f"(SELECT doc_id FROM sel{step} UNION ALL SELECT doc_id FROM s{step})"
    finals = " UNION ALL ".join(
        f"SELECT {i}::BIGINT AS mmr_rank, doc_id, rel, "
        + ("round({lam!r} * rel, 6) AS mmr_score FROM s1".format(lam=LAM)
           if i == 1 else f"mmr_score FROM s{i}")
        for i in range(1, M_SELECT + 1)
    )
    return f"""{_INDEX_CTES}{BM25_SCORED_CTE},
totals AS MATERIALIZED (
  SELECT doc_id, round(sum(term_score), 6) AS rel FROM scored GROUP BY doc_id
),
cand AS MATERIALIZED (
  SELECT doc_id, rel FROM totals ORDER BY rel DESC, doc_id ASC LIMIT {MMR_K}
),
cw AS MATERIALIZED (
  SELECT tf.doc_id, tf.word FROM tf JOIN cand ON tf.doc_id = cand.doc_id
),
sz AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS sz FROM cw GROUP BY doc_id),
shared AS MATERIALIZED (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS sh
  FROM cw a JOIN cw b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
oneway AS MATERIALIZED (
  SELECT da, db,
         CAST(sh AS DOUBLE) / CAST(sza.sz + szb.sz - sh AS DOUBLE) AS sim
  FROM shared
  JOIN sz sza ON shared.da = sza.doc_id
  JOIN sz szb ON shared.db = szb.doc_id
),
sim AS MATERIALIZED (
  SELECT da, db, sim FROM oneway
  UNION ALL
  SELECT db AS da, da AS db, sim FROM oneway
),
s1 AS (
  SELECT doc_id, rel FROM cand ORDER BY rel DESC, doc_id ASC LIMIT 1
),{",".join(steps)}
{finals}
"""


QUERIES = {"se_mmr_rerank": q_mmr_rerank}
ORACLES = {"se_mmr_rerank": _mmr_sql()}
