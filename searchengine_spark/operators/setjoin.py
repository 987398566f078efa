"""Exact-threshold set-similarity join via prefix filtering
(AllPairs / PPJoin family — Bayardo et al. 2007, Xiao et al. 2008;
public algorithms).

The dedup family's MinHash banding (operators/dedup.py) is
probabilistic: pairs can be missed. When the contract is EXACT —
"every pair with Jaccard >= t, no misses" — the scalable algorithm
is prefix filtering: order every document's shingle set by one
global canonical order (ascending document frequency, rarest first),
keep only each document's first `size - ceil(t*size) + 1` tokens
(its PREFIX), and generate candidates by equi-joining prefixes on
the token. The prefix principle guarantees any pair meeting the
threshold shares a prefix token, so the verify stage (exact Jaccard
on the candidate set) loses nothing — and the driver PROVES that by
hashing against a brute-force all-pairs DuckDB oracle.

All pruning bounds use integer arithmetic on a rational threshold
(num/den), so no float ceil can under-size a prefix and silently
drop a pair. The final `jaccard >= t` compare divides the same two
integers on both engines — bit-identical.

Scale shape: df ranking is one token-keyed count + a per-doc window;
candidates come only through shared PREFIX tokens (rare tokens, by
construction — the df-ascending order makes the busiest join keys
the rarest tokens), never a cross join; the verify join is keyed on
doc ids. The frequent-token blowup that kills naive token-joins is
exactly what the prefix order prunes: a stopword-like shingle lands
at the END of every prefix-ordered set, outside the prefix.

Pipeline ordering at scale: run EXACT dedup first (operators/dedup.
exact_dedup_groups — one cheap hash groupBy) and prefix-join only
the unique texts. Exact clones defeat prefix filtering twice over —
candidate work is Σ df², and c-way cloning multiplies every df by c
(24x measured at 5 copies); and the TRUE output itself grows ~c² per
duplicate group, a floor no algorithm can beat. On deduplicated
input the min-df prefix tokens are genuinely rare and the join is
near-linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Jaccard threshold as an exact rational: 3/5 = 0.6.
T_NUM, T_DEN = 3, 5


def prefix_jaccard_pairs(
    shingles: DataFrame,
    *,
    t_num: int = T_NUM,
    t_den: int = T_DEN,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair with shingle-Jaccard
    >= t_num/t_den. ``shingles``: (doc_id, shingles array) as from
    dedup.shingle_frame."""
    # Persisted: the distinct-set frame feeds the df ranking, both
    # candidate sides, and both verify joins — 5 subtree re-evals
    # without it. Stays persisted (the result's lineage reads it);
    # registry queries hold it only for the session, like the shingle
    # cache it derives from.
    sets = (
        shingles.select("doc_id", F.array_distinct("shingles").alias("s"))
        .withColumn("size", F.size("s"))
        .persist()
    )

    tok = sets.select("doc_id", "size", F.explode("s").alias("tok"))
    df_counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(df_counts, "tok").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
        ),
    )
    # prefix length = size - ceil(t*size) + 1, with ceil done in
    # integers: ceil(n*s/d) = (n*s + d - 1) div d
    # Persisted like `sets`: prefix feeds BOTH sides of the candidate
    # self-join — left lazy, the df-count join + per-doc ranking
    # window execute twice (guide §5 caching note).
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("size")
        - F.expr(f"({t_num} * size + {t_den - 1}) div {t_den}")
        + F.lit(1)
    ).select("doc_id", "size", "tok").persist()

    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("size").alias("size_a"), "tok"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("size").alias("size_b"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: jaccard >= t forces t*max <= min (ints)
            & (t_den * F.least("size_a", "size_b")
               >= t_num * F.greatest("size_a", "size_b"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )

    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    from searchengine_spark.io import cut_and_release

    return cut_and_release(
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        # integer-exact threshold: jac >= n/d  <=>  d*inter >= n*union
        .filter(t_den * inter >= t_num * union)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")),
        sets,
        prefix,
    )


# ------------------------------------------------------- registry glue


def _true_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached exact prefix-filtered Jaccard pairs over the
    shared shingle cache — consumed by this query AND the LSH recall
    audit's ground truth (each previously re-ran the full exact set
    join)."""
    from searchengine_spark.io import session_cached
    from searchengine_spark.operators.dedup import _shingles

    return session_cached(
        spark, "prefix-jaccard-pairs", sf_dir,
        lambda: prefix_jaccard_pairs(_shingles(spark, sf_dir)),
    )


def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _true_pairs(spark, sf_dir)


QUERIES = {"dedup_prefix_jaccard_pairs": q_prefix_jaccard_pairs}


def _oracle(t_num: int = T_NUM, t_den: int = T_DEN) -> str:
    """Brute-force all-pairs twin — quadratic, fine at oracle scale,
    and exactly what the prefix join must equal."""
    from searchengine_spark.operators.dedup import SHINGLE_K
    from searchengine_spark.text.tokenizer import sql_tokens_expr

    toks = sql_tokens_expr("text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {toks} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM toks WHERE len(t) >= {SHINGLE_K}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE {t_den} * len(list_intersect(a.s, b.s))
          >= {t_num} * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
    """


ORACLES = {"dedup_prefix_jaccard_pairs": _oracle()}
