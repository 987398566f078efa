"""Frequent co-occurring term pairs (a-priori pruned 2-itemsets).

Market-basket analysis with documents as baskets and tokens as items:
which word pairs appear together in >= min_support documents, and
with what lift. The building block for collocation mining, related-
term suggestion, and topic seeding over a web-scale corpus.

Scale shape — the a-priori property does all the work: a pair can
only be frequent if BOTH its items are frequent, so pair generation
runs over the (item-)pruned doc-item table, never the raw one.

  1. doc-item table: explode(array_distinct(tokens)) — one shuffle-
     free map stage (presence, not tf, is what support counts);
  2. item document-frequencies: one groupBy(word); keep df >= s.
     Frequent-item set is vocabulary-bounded -> broadcast;
  3. pair generation: self-equi-join of the pruned doc-item table on
     doc_id. Fan-out per doc is C(f_d, 2) where f_d = FREQUENT items
     in that doc — bounded by the (tiny) frequent vocabulary, NOT by
     doc length. Without the prune this join is quadratic in doc
     vocabulary and melts at 100 TB; with it, the hot side shrinks
     before the shuffle (same df-cap idea as
     operators/decontamination.py);
  4. support filter + lift from the broadcast df counts.

No all-pairs joins, no windows, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.io import ensure_min_partitions, load_table
from searchengine_spark.text.tokenizer import sql_tokens_expr, tokens_column

MIN_SUPPORT = 25


def doc_items_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, w) with per-doc-distinct tokens — the basket table.
    Consumed 3x by frequent_pairs (df counts + both join sides), so
    callers should cache it (q_frequent_pairs does, via
    io.session_cached)."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_column("text"))).alias("w")
    )


def mined_pairs(
    docs: DataFrame,
    *,
    min_support: int = MIN_SUPPORT,
    items: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(freq, pairs) — the a-priori mining stages consumed VERBATIM by
    both frequent_pairs and association_rules (each previously re-ran
    the full item-count + prune + self-join pipeline; guide §1.2 step
    1 — don't recompute what a sibling already computed). freq is
    vocabulary-bounded, pairs is support-filtered — both tiny relative
    to the corpus — and the pruned doc-item table is persisted because
    the pair self-join reads it twice. Frames stay persisted (results'
    lineage reads them); registry queries hold them per session via
    io.session_cached, like the shingle cache."""
    from searchengine_spark.io import cut_and_release, cut_lineage

    doc_items = items if items is not None else doc_items_frame(docs)
    item_df = doc_items.groupBy("w").agg(F.count(F.lit(1)).alias("n_item"))
    freq = item_df.filter(F.col("n_item") >= min_support).persist()
    pruned = doc_items.join(F.broadcast(freq.select("w")), "w").persist()

    a, b = pruned.alias("a"), pruned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_support)
    )
    # Cut both outputs eagerly, then release the scratch persists
    # (r14 hygiene sweep — the old persisted handles pinned blocks for
    # the session on every out-of-registry call).
    freq_out = cut_lineage(freq)
    pairs_out = cut_and_release(pairs, freq, pruned)
    return freq_out, pairs_out


def frequent_pairs(
    docs: DataFrame,
    *,
    min_support: int | None = None,
    items: DataFrame | None = None,
    mined: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """(w1, w2, n_pair, lift) for every token pair co-occurring in
    >= min_support docs; w1 < w2 lexicographically.

    lift = P(w1,w2) / (P(w1) P(w2)) = n_pair * n_docs / (n_1 * n_2):
    > 1 means the words attract, < 1 means they repel. n_docs counts
    ALL docs (empty ones dilute P's — they are real baskets).
    """
    if mined is not None and (min_support is not None or items is not None):
        # r13 ADVICE: a precomputed `mined` tuple carries its own
        # support filter and item table — silently ignoring explicit
        # arguments here returned results filtered by the tuple's
        # support, not the caller's.
        raise ValueError(
            "frequent_pairs: pass either `mined` or "
            "`min_support`/`items`, not both"
        )
    freq, pairs = (
        mined
        if mined is not None
        else mined_pairs(
            docs,
            min_support=MIN_SUPPORT if min_support is None else min_support,
            items=items,
        )
    )

    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df1 = freq.select(F.col("w").alias("w1"), F.col("n_item").alias("n_1"))
    df2 = freq.select(F.col("w").alias("w2"), F.col("n_item").alias("n_2"))
    return (
        pairs.join(F.broadcast(df1), "w1")
        .join(F.broadcast(df2), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.col("n_pair").cast("double")
                * F.col("n_docs")
                / (F.col("n_1") * F.col("n_2")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------- queries

def _session_mined(
    spark, sf_dir: str, docs: DataFrame, *, min_support: int = MIN_SUPPORT
):
    """Session-shared (freq, pairs) over the shared doc-item cache —
    text_frequent_pairs and text_association_rules consume the SAME
    mining stages; only their (cheap, pairs-bounded) readouts differ.
    The support threshold is part of the cache key (r13 ADVICE)."""
    from searchengine_spark.io import session_cached

    items = session_cached(
        spark, "itemsets_doc_items", sf_dir, lambda: doc_items_frame(docs)
    )
    return session_cached(
        spark,
        f"itemsets_mined_pairs:{min_support}",
        sf_dir,
        lambda: mined_pairs(docs, min_support=min_support, items=items),
    )


def q_frequent_pairs(spark, sf_dir: str) -> DataFrame:
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return frequent_pairs(docs, mined=_session_mined(spark, sf_dir, docs))




MIN_CONFIDENCE = 0.6
RULES_TOP = 50


def association_rules(
    docs: DataFrame,
    *,
    min_support: int | None = None,
    min_confidence: float = MIN_CONFIDENCE,
    items: DataFrame | None = None,
    mined: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Directed rules (antecedent -> consequent) from the frequent
    pairs: confidence = P(consequent | antecedent) = n_pair / n_ante,
    lift shared with the undirected pair. The classic market-basket
    readout on top of the a-priori mining above — each frequent pair
    yields at most two rules, so this adds ZERO new joins over the
    corpus: it reads the SAME mined (freq, pairs) stages as
    frequent_pairs and re-broadcasts the (vocabulary-bounded) item
    dfs to direct the rules."""
    if mined is not None and (min_support is not None or items is not None):
        raise ValueError(
            "association_rules: pass either `mined` or "
            "`min_support`/`items`, not both"
        )
    freq, pairs = (
        mined
        if mined is not None
        else mined_pairs(
            docs,
            min_support=MIN_SUPPORT if min_support is None else min_support,
            items=items,
        )
    )
    directed = pairs.selectExpr(
        "w1 AS ante", "w2 AS cons", "n_pair"
    ).unionByName(pairs.selectExpr("w2 AS ante", "w1 AS cons", "n_pair"))

    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfa = freq.select(F.col("w").alias("ante"), F.col("n_item").alias("n_a"))
    dfc = freq.select(F.col("w").alias("cons"), F.col("n_item").alias("n_c"))
    conf = F.col("n_pair").cast("double") / F.col("n_a").cast("double")
    return (
        directed.join(F.broadcast(dfa), "ante")
        .join(F.broadcast(dfc), "cons")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("confidence", conf)
        .filter(F.col("confidence") >= min_confidence)
        .select(
            "ante",
            "cons",
            "n_pair",
            F.round("confidence", 6).alias("confidence"),
            F.round(
                F.col("n_pair").cast("double")
                * F.col("n_docs")
                / (F.col("n_a") * F.col("n_c")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("confidence"), F.asc("ante"), F.asc("cons"))
        .limit(RULES_TOP)
    )


def q_association_rules(spark, sf_dir: str) -> DataFrame:
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return association_rules(docs, mined=_session_mined(spark, sf_dir, docs))


QUERIES = {
    "text_frequent_pairs": q_frequent_pairs,
    "text_association_rules": q_association_rules,
}

ORACLES = {
    "text_frequent_pairs": f"""
        WITH items AS (
          SELECT DISTINCT doc_id, unnest({sql_tokens_expr("text")}) AS w
          FROM documents
        ),
        freq AS (
          SELECT w, COUNT(*) AS n_item FROM items
          GROUP BY w HAVING COUNT(*) >= {MIN_SUPPORT}
        ),
        fitems AS (
          SELECT i.doc_id, i.w FROM items i JOIN freq USING (w)
        ),
        pairs AS (
          SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_pair
          FROM fitems a JOIN fitems b
            ON a.doc_id = b.doc_id AND a.w < b.w
          GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SUPPORT}
        ),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT w1, w2, n_pair,
               round(CAST(n_pair AS DOUBLE) * n_docs / (fa.n_item * fb.n_item),
                     6) AS lift
        FROM pairs
        JOIN freq fa ON fa.w = pairs.w1
        JOIN freq fb ON fb.w = pairs.w2, nd
    """,
    "text_association_rules": f"""
        WITH items AS (
          SELECT DISTINCT doc_id, unnest({sql_tokens_expr("text")}) AS w
          FROM documents
        ),
        freq AS (
          SELECT w, COUNT(*) AS n_item FROM items
          GROUP BY w HAVING COUNT(*) >= {MIN_SUPPORT}
        ),
        fitems AS (
          SELECT i.doc_id, i.w FROM items i JOIN freq USING (w)
        ),
        pairs AS (
          SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_pair
          FROM fitems a JOIN fitems b
            ON a.doc_id = b.doc_id AND a.w < b.w
          GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SUPPORT}
        ),
        directed AS (
          SELECT w1 AS ante, w2 AS cons, n_pair FROM pairs
          UNION ALL
          SELECT w2 AS ante, w1 AS cons, n_pair FROM pairs
        ),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT ante, cons, n_pair,
               round(CAST(n_pair AS DOUBLE) / CAST(fa.n_item AS DOUBLE), 6)
                 AS confidence,
               round(CAST(n_pair AS DOUBLE) * n_docs / (fa.n_item * fc.n_item),
                     6) AS lift
        FROM directed
        JOIN freq fa ON fa.w = directed.ante
        JOIN freq fc ON fc.w = directed.cons, nd
        WHERE CAST(n_pair AS DOUBLE) / CAST(fa.n_item AS DOUBLE)
              >= {MIN_CONFIDENCE}
        ORDER BY confidence DESC, ante ASC, cons ASC LIMIT {RULES_TOP}
    """,
}
