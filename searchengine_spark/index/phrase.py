"""Positional index + exact-phrase matching.

The reference ranks bags of words only; real search needs phrases.
We extend the index with token positions:

    positional_index (doc_id, word, positions array<int>)  -- sorted

Phrase match "t0 t1 .. tn": a document matches iff some p in
pos(t0) has p+1 in pos(t1), ..., p+n in pos(tn). Evaluated as an
n-way equi-join on doc_id over the (term-filtered) positional table
followed by a pure array-expression existence check — no UDF, no
explode of positions.

Scale shape: the positional table is ~|flat_words| rows pre-grouping
and |tf| rows after; the phrase join touches only the query terms'
rows (isin filter -> scan prune, same as BM25) and the existence
check is per-candidate-doc O(|pos|).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.io import check_top_k, ensure_min_partitions, load_table
from searchengine_spark.text.tokenizer import sql_tokens_expr, tokens_column


def build_positional_index(
    docs: DataFrame, *, text_col: str = "text", stem: bool = False
) -> DataFrame:
    """(doc_id, word, positions) with 0-based token positions."""
    toked = ensure_min_partitions(docs).select(
        F.col("doc_id"), tokens_column(text_col, stem=stem).alias("words")
    )
    return (
        toked.select("doc_id", F.posexplode("words").alias("pos", "word"))
        .groupBy("doc_id", "word")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def phrase_match(positional: DataFrame, phrase_terms: list[str]) -> DataFrame:
    """Docs containing the exact phrase -> (doc_id, n_occurrences)."""
    if not phrase_terms:
        raise ValueError("empty phrase")
    base = positional.filter(F.col("word").isin(phrase_terms))
    sides = []
    for i, term in enumerate(phrase_terms):
        sides.append(
            base.filter(F.col("word") == term).select(
                "doc_id", F.col("positions").alias(f"p{i}")
            )
        )
    joined = reduce(lambda a, b: a.join(b, "doc_id"), sides)

    def occurrence_count() -> Column:
        # p is a start position iff every following term appears at
        # p+i. Pure array expressions over the joined pos arrays.
        cond = lambda p: reduce(
            lambda acc, i: acc & F.array_contains(F.col(f"p{i}"), p + i),
            range(1, len(phrase_terms)),
            F.lit(True),
        )
        return F.size(F.filter(F.col("p0"), cond))

    return (
        joined.select("doc_id", occurrence_count().alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def suggest_terms(
    vocabulary: DataFrame, query_term: str, *, max_distance: int = 2, k: int = 10
) -> DataFrame:
    """Spell-correction surface: vocabulary terms within edit distance,
    ranked by (distance, doc_freq desc). Native levenshtein — a
    map-only scan over the (small) vocabulary table.

    This is the one-term interactive path (one linear vocab scan per
    call, max_distance unrestricted). For batch correction or a
    vocabulary too large to scan per query, index/fuzzy.py generates
    distance-1 candidates by deletion-variant EQUI-join — no scan,
    no cross join."""
    check_top_k(k)
    return (
        vocabulary.withColumn(
            "distance", F.levenshtein(F.col("word"), F.lit(query_term))
        )
        .filter(F.col("distance") <= max_distance)
        .orderBy(F.asc("distance"), F.desc("doc_freq"), F.asc("word"))
        .limit(k)
    )


def search_with_correction(
    index,
    query: str,
    k: int = 10,
    *,
    max_distance: int = 2,
    stem: bool = False,
):
    """BM25 search with spell-correction fallback: query terms absent
    from the vocabulary are replaced by their best suggestion
    (min edit distance, then max doc_freq); see :func:`correct_terms`.

    Returns (results DataFrame, corrections dict).
    """
    from searchengine_spark.index.bm25 import search
    from searchengine_spark.text.tokenizer import tokenize_query

    terms, corrections = correct_terms(
        index.idf_values.select("word", "doc_freq"),
        tokenize_query(query, stem=stem),
        max_distance=max_distance,
    )
    return search(index, terms, k=k), corrections


def correct_terms(
    vocabulary: DataFrame, terms: list[str], *, max_distance: int = 2
) -> tuple[list[str], dict[str, str | None]]:
    """Replace each term missing from ``vocabulary`` (word, doc_freq)
    by its best suggestion -> (terms to search, corrections). One
    small vocabulary scan per unknown term — acceptable because
    queries are tiny and the vocabulary table is broadcast-sized.

    A term with no suggestion within ``max_distance`` is dropped and
    recorded as None, so callers can surface that part of the query
    was ignored rather than silently vanished."""
    known = {
        r.word
        for r in vocabulary.filter(F.col("word").isin(terms)).select("word").collect()
    }
    corrections: dict[str, str | None] = {}
    final_terms = []
    for t in terms:
        if t in known:
            final_terms.append(t)
            continue
        best = suggest_terms(vocabulary, t, max_distance=max_distance, k=1).collect()
        if best:
            corrections[t] = best[0].word
            final_terms.append(best[0].word)
        else:
            corrections[t] = None
    return final_terms, corrections


# --------------------------------------------------------------- queries

PHRASE = ("hash", "join")
SUGGEST_TERM = "wndow"  # deliberate misspelling of 'window'
PROX_TERMS = ("spark", "window")  # proximity query pair
PROX_SLOP = 5  # max token distance (any order)


def proximity_match(
    positional: DataFrame,
    term_a: str,
    term_b: str,
    *,
    slop: int = PROX_SLOP,
) -> DataFrame:
    """Docs where term_a and term_b occur within ``slop`` tokens of
    each other, IN ANY ORDER (the sloppy-phrase / NEAR operator the
    exact phrase_match can't express). Same plan shape as
    phrase_match: term-filtered positional scan, one doc_id equi
    join, then pure array folds — per-candidate O(|pos_a| * |pos_b|),
    no explode, no UDF."""
    a = positional.filter(F.col("word") == term_a).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = positional.filter(F.col("word") == term_b).select(
        "doc_id", F.col("positions").alias("pb")
    )
    min_dist = F.array_min(
        F.transform(
            F.col("pa"),
            lambda x: F.array_min(
                F.transform(F.col("pb"), lambda y: F.abs(x - y))
            ),
        )
    )
    n_anchors = F.size(
        F.filter(
            F.col("pa"),
            lambda x: F.exists(
                F.col("pb"), lambda y: F.abs(x - y) <= F.lit(slop)
            ),
        )
    )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            min_dist.cast("bigint").alias("min_distance"),
            n_anchors.cast("bigint").alias("n_anchor_hits"),
        )
        .filter(F.col("min_distance") <= slop)
    )


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = build_positional_index(load_table(spark, sf_dir, "documents"))
    return phrase_match(pos, list(PHRASE))


def q_term_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.index.queries import _index

    vocab = _index(spark, sf_dir).idf_values.select("word", "doc_freq")
    return suggest_terms(vocab, SUGGEST_TERM)


PASSAGE_W = 10  # tokens per passage window


def best_passage(
    docs: DataFrame, terms: list[str], *, w: int = PASSAGE_W
) -> DataFrame:
    """Best-passage snippet per doc: the w-RAW-token window holding
    the most query-term hits (start anchored at a hit; ties to the
    earliest). Raw tokens — not the stopword-filtered stream — so
    positions map back to readable text and the slice IS the snippet.
    One posexplode + one range window per doc's match set (matches
    only, not all tokens: the window state is per-hit, tiny)."""
    from pyspark.sql import Window

    from searchengine_spark.text.tokenizer import raw_tokens_column

    toked = docs.select(
        "doc_id", raw_tokens_column(F.col("text")).alias("toks")
    )
    matches = toked.select(
        "doc_id", "toks", F.posexplode("toks").alias("pos", "word")
    ).filter(F.col("word").isin(terms))
    win = Window.partitionBy("doc_id").orderBy("pos").rangeBetween(0, w - 1)
    rank = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("pos"))
    return (
        matches.withColumn("n_hits", F.count(F.lit(1)).over(win))
        .withColumn("_rn", F.row_number().over(rank))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("passage_start"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.array_join(F.slice("toks", F.col("pos") + 1, w), " ").alias("passage"),
        )
    )


def q_best_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best passage for each BM25 top-10 doc — the serving-layer
    snippet upgrade over the reference's fixed-prefix substring
    (nltksearchv1.py snippet = text[:300])."""
    from searchengine_spark.index.queries import BM25_QUERY_TERMS, q_bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    top = q_bm25_topk(spark, sf_dir).select("doc_id")
    return (
        best_passage(docs.join(top, "doc_id"), list(BM25_QUERY_TERMS))
        .orderBy("doc_id")
    )


_POS_SQL = f"""
WITH toked AS (
  SELECT doc_id, {sql_tokens_expr('text')} AS words FROM documents
),
pos AS (
  SELECT doc_id, unnest(words) AS word,
         generate_subscripts(words, 1) - 1 AS p
  FROM toked
)
"""

def _best_passage_sql() -> str:
    """One WITH chain: the shared BM25 index CTEs pick the top-10
    docs, then raw-token positions + a RANGE window find each doc's
    densest w-token window."""
    from searchengine_spark.index.queries import (
        _INDEX_CTES,
        BM25_QUERY_TERMS,
        BM25_SCORED_CTE,
    )
    from searchengine_spark.text.tokenizer import sql_raw_tokens_expr

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""{_INDEX_CTES}{BM25_SCORED_CTE},
        base AS (
          SELECT doc_id, round(sum(term_score), 6) AS s FROM scored GROUP BY doc_id
        ), topd AS (
          SELECT doc_id FROM base ORDER BY s DESC, doc_id ASC LIMIT 10
        ), rawtok AS (
          SELECT d.doc_id, {sql_raw_tokens_expr('d.text')} AS toks
          FROM documents d JOIN topd USING (doc_id)
        ), m AS (
          SELECT doc_id, toks,
                 generate_subscripts(toks, 1) - 1 AS pos,
                 unnest(toks) AS word
          FROM rawtok
        ), hits AS (
          SELECT doc_id, toks, pos,
                 COUNT(*) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   RANGE BETWEEN CURRENT ROW AND {PASSAGE_W - 1} FOLLOWING
                 ) AS n_hits
          FROM m WHERE word IN ({terms})
        ), best AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY n_hits DESC, pos ASC
          ) AS rn
          FROM hits
        )
        SELECT doc_id,
               CAST(pos AS BIGINT) AS passage_start,
               CAST(n_hits AS BIGINT) AS n_hits,
               array_to_string(list_slice(toks, pos + 1, pos + {PASSAGE_W}), ' ') AS passage
        FROM best WHERE rn = 1
        ORDER BY doc_id
    """


def q_proximity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = build_positional_index(load_table(spark, sf_dir, "documents"))
    return proximity_match(pos, *PROX_TERMS)


_PROX_SQL = f"""{_POS_SQL},
plists AS (
  SELECT doc_id, word, list(p ORDER BY p) AS positions
  FROM pos WHERE word IN ('{PROX_TERMS[0]}', '{PROX_TERMS[1]}')
  GROUP BY doc_id, word
),
joined AS (
  SELECT a.doc_id, a.positions AS pa, b.positions AS pb
  FROM plists a JOIN plists b ON a.doc_id = b.doc_id
  WHERE a.word = '{PROX_TERMS[0]}' AND b.word = '{PROX_TERMS[1]}'
)
SELECT doc_id,
       CAST(list_min(list_transform(pa,
              x -> list_min(list_transform(pb, y -> abs(x - y))))) AS BIGINT)
         AS min_distance,
       CAST(len(list_filter(pa,
              x -> len(list_filter(pb, y -> abs(x - y) <= {PROX_SLOP})) > 0))
            AS BIGINT) AS n_anchor_hits
FROM joined
WHERE list_min(list_transform(pa,
        x -> list_min(list_transform(pb, y -> abs(x - y))))) <= {PROX_SLOP}
"""


QUERIES = {
    "se_phrase_match": q_phrase_match,
    "se_term_suggestions": q_term_suggestions,
    "se_best_passage": q_best_passage,
    "se_proximity_match": q_proximity_match,
}

ORACLES = {
    "se_best_passage": _best_passage_sql(),
    "se_proximity_match": _PROX_SQL,
    "se_phrase_match": f"""{_POS_SQL},
        plists AS (
          SELECT doc_id, word, list(p ORDER BY p) AS positions
          FROM pos WHERE word IN ({", ".join(f"'{t}'" for t in PHRASE)})
          GROUP BY doc_id, word
        ),
        joined AS (
          SELECT a.doc_id, a.positions AS p0, b.positions AS p1
          FROM plists a JOIN plists b ON a.doc_id = b.doc_id
          WHERE a.word = '{PHRASE[0]}' AND b.word = '{PHRASE[1]}'
        )
        SELECT doc_id,
               len(list_filter(p0, p -> list_contains(p1, p + 1)))::INT AS n_occurrences
        FROM joined
        WHERE len(list_filter(p0, p -> list_contains(p1, p + 1))) > 0
    """,
    "se_term_suggestions": f"""
        WITH tok AS (
          SELECT doc_id, unnest({sql_tokens_expr('text')}) AS word FROM documents
        ),
        tf AS (SELECT doc_id, word FROM tok GROUP BY doc_id, word),
        vocab AS (SELECT word, count(*)::BIGINT AS doc_freq FROM tf GROUP BY word)
        SELECT word, doc_freq, levenshtein(word, '{SUGGEST_TERM}')::INT AS distance
        FROM vocab
        WHERE levenshtein(word, '{SUGGEST_TERM}') <= 2
        ORDER BY distance ASC, doc_freq DESC, word ASC
        LIMIT 10
    """,
}
