"""BM25 ranking as pure Column arithmetic (no UDF in the hot path).

Implements the reference's scoring exactly (SURVEY.md §2.8 X4;
/root/reference/pyapp.py:64-70):

    score(d, q) = sum_{t in q} idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*|d|/avgdl))
    k1 = 1.2, b = 0.75, idf = log10(N / df)

The reference evaluates this in a row-at-a-time Python UDF
(pyapp.py:65-70) — here it is a Column expression, so the whole
score pipeline runs inside whole-stage codegen. The X5 rank_bm25
variant (k1=1.5, idf=ln((N-df+0.5)/(df+0.5)+1) with eps-floor;
/root/reference/nltksearchv1.py:184) is available via
``idf_variant="okapi"``.

Query plan shape (at any scale):
    tf filtered by query terms        <- pushed to the parquet scan
      ⋈ broadcast(idf for the terms)  <- tiny dim
      ⋈ doc_lengths on doc_id         <- shuffle or broadcast (AQE)
      -> score expr -> groupBy(doc_id).sum -> TakeOrderedAndProject(k)
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.index.builder import InvertedIndex
from searchengine_spark.io import check_top_k
from searchengine_spark.text.tokenizer import tokenize_query

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def bm25_term_score(
    term_freq: Column,
    doc_length: Column,
    avgdl: Column,
    idf: Column,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> Column:
    """Per-(doc, term) BM25 contribution; pure arithmetic."""
    tf = term_freq.cast("double")
    dl = doc_length.cast("double")
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def tfidf_term_score(term_freq: Column, idf: Column) -> Column:
    """Classic TF-IDF contribution: (1 + log10(tf)) * idf.

    The sublinear-tf variant (log-scaled term frequency) — the
    scoring family the reference's README describes alongside BM25.
    """
    return (1.0 + F.log10(term_freq.cast("double"))) * idf


def tfidf_search(index: InvertedIndex, query: str | list[str], k: int = 10, *, stem: bool = False) -> DataFrame:
    """Top-k by summed TF-IDF (no length normalization — use BM25 for
    length-aware ranking; this is the reference's simpler scorer)."""
    check_top_k(k)
    terms = tokenize_query(query, stem=stem) if isinstance(query, str) else list(query)
    if not terms:
        return search(index, [], k=k)  # typed empty result
    tf = index.term_frequencies.filter(F.col("word").isin(terms))
    idf = index.idf_values.filter(F.col("word").isin(terms)).select("word", "idf")
    return (
        tf.join(F.broadcast(idf), "word")
        .select(
            "doc_id",
            tfidf_term_score(F.col("term_freq"), F.col("idf")).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("total_score"))
        .orderBy(F.desc("total_score"), F.asc("doc_id"))
        .limit(k)
    )


def okapi_idf(n_docs: Column, doc_freq: Column) -> Column:
    """Lucene/ATIRE-style smoothed idf: ln((N - df + 0.5)/(df + 0.5) + 1).

    The `+1` keeps idf positive for every df, so rank_bm25's ε-floor
    is unreachable in this form; the exact rank_bm25 semantics are
    :func:`rank_bm25_idf_table`.
    """
    return F.log(
        (n_docs.cast("double") - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0
    )


RANK_BM25_EPSILON = 0.25


def rank_bm25_idf_table(index: InvertedIndex, *, epsilon: float = RANK_BM25_EPSILON) -> DataFrame:
    """(word, idf) with the EXACT published rank_bm25 BM25Okapi
    semantics (X5 fidelity): raw idf = ln((N - df + 0.5)/(df + 0.5))
    — no `+1`, so terms in more than half the corpus go NEGATIVE —
    and every negative idf is floored to ε * mean(raw idf), the mean
    taken over the FULL vocabulary before flooring.

    The global mean is a 1-row broadcast aggregate over the (small)
    idf table — no extra pass over the corpus.

    Reproducing BASELINE.md's published "property rights" top-10
    (3.5183…3.4497) additionally requires the 91k-doc CAP Illinois
    corpus (nltksearchv1.ipynb cell 18), which is not shipped with
    the reference — impossible to replay here by construction. The
    golden test (tests/test_bm25_golden.py) instead proves formula
    fidelity against an independent pure-Python evaluation of the
    published algorithm on a fixture where the ε-floor is ACTIVE.
    """
    raw = index.idf_values.crossJoin(
        F.broadcast(index.scoring_params.select("n_docs"))
    ).select(
        "word",
        "doc_freq",
        F.log(
            (F.col("n_docs").cast("double") - F.col("doc_freq") + 0.5)
            / (F.col("doc_freq") + 0.5)
        ).alias("raw_idf"),
    )
    mean = raw.agg(F.avg("raw_idf").alias("avg_idf"))
    return raw.crossJoin(F.broadcast(mean)).select(
        "word",
        F.when(F.col("raw_idf") < 0, F.lit(epsilon) * F.col("avg_idf"))
        .otherwise(F.col("raw_idf"))
        .alias("idf"),
    )


def search(
    index: InvertedIndex,
    query: str | list[str],
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    stem: bool = False,
    idf_variant: str = "log10",
) -> DataFrame:
    """Top-k docs for a query -> (doc_id, total_score), score desc.

    Ties break on doc_id only where two docs' summed scores are
    bit-equal (the reference leaves ties to partition order; SURVEY.md
    FIXTURES §4 flags this): the sum's order follows the plan's
    partitioning, so docs whose totals agree to 6 places can swap.
    ``queries.rounded_top_k`` and ``search_many(round_scores=6)`` rank
    the rounded total and are deterministic at display precision.
    """
    check_top_k(k)
    terms = tokenize_query(query, stem=stem) if isinstance(query, str) else list(query)
    # Built before the empty-query exit so an unknown idf_variant
    # raises for every query.
    scores = query_term_scores(index, terms, idf_variant=idf_variant, k1=k1, b=b)
    if not terms:
        # Empty result with the SAME doc_id type as the index (any id
        # type is allowed), so empty- and non-empty-query results
        # union/join cleanly.
        from pyspark.sql.types import DoubleType, StructField, StructType

        id_field = index.term_frequencies.schema["doc_id"]
        schema = StructType(
            [
                StructField("doc_id", id_field.dataType),
                StructField("total_score", DoubleType()),
            ]
        )
        return index.term_frequencies.sparkSession.createDataFrame([], schema)
    return top_k(scores, k)


def query_term_scores(
    index: InvertedIndex,
    terms: list[str] | tuple[str, ...],
    *,
    idf_variant: str = "log10",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """:func:`term_scores` over the postings of ``terms`` only, with
    the idf of ``idf_variant``: "log10" (the reference), "okapi"
    (:func:`okapi_idf`) or "rank_bm25" (:func:`rank_bm25_idf_table`)."""
    if idf_variant not in ("log10", "okapi", "rank_bm25"):
        raise ValueError(
            f"unknown idf_variant {idf_variant!r}; expected 'log10', "
            "'okapi' or 'rank_bm25'"
        )
    terms = list(terms)
    # Manual filter-first shape (matches the reference's intent at
    # pyapp.py:93); Catalyst pushes the isin into the parquet scan.
    tf = index.term_frequencies.filter(F.col("word").isin(terms))
    if idf_variant == "rank_bm25":
        # ε-floor needs the FULL-vocab mean raw idf, so filter AFTER
        # the table build (the mean is a broadcast scalar either way).
        idf = rank_bm25_idf_table(index).filter(F.col("word").isin(terms))
    else:
        idf = index.idf_values.filter(F.col("word").isin(terms))
        if idf_variant == "okapi":
            idf = idf.crossJoin(
                F.broadcast(index.scoring_params.select("n_docs"))
            ).select(
                "word", okapi_idf(F.col("n_docs"), F.col("doc_freq")).alias("idf")
            )
        else:
            idf = idf.select("word", "idf")
    return term_scores(index, tf, idf, k1=k1, b=b)


def term_scores(
    index: InvertedIndex,
    tf: DataFrame,
    idf: DataFrame,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """(word, doc_id, ..., term_score): each posting's BM25
    contribution — the one place the BM25 join is written.

    ``tf`` is (a filter of) the index's term_frequencies and ``idf``
    a (word, idf) frame; |d| and avgdl come from the index. Every
    column of ``tf`` but term_freq passes through, so a (query_id,
    weight) carried in by a broadcast join reaches batched and
    weighted callers. With the unfiltered tables this is the
    per-term score table the serving shard pulls once."""
    params = index.scoring_params.select("avgdl")
    extra = [c for c in tf.columns if c not in ("word", "doc_id", "term_freq")]
    return (
        tf.join(F.broadcast(idf), "word")
        .join(index.doc_lengths, "doc_id")
        .crossJoin(F.broadcast(params))
        .select(
            "word",
            "doc_id",
            *extra,
            bm25_term_score(
                F.col("term_freq"),
                F.col("doc_length"),
                F.col("avgdl"),
                F.col("idf"),
                k1=k1,
                b=b,
            ).alias("term_score"),
        )
    )


def top_k(scores: DataFrame, k: int) -> DataFrame:
    """Sum (doc_id, term_score) rows per doc -> top-k (doc_id,
    total_score), score desc, then doc_id asc.

    The doc_id tie-break holds only for bit-equal sums: the raw sum's
    order follows the plan's partitioning, so two docs with equal
    6-place totals can come out in either order. The rankings that
    are deterministic at display precision are
    ``queries.rounded_top_k`` and ``search_many(round_scores=6)``."""
    check_top_k(k)
    return (
        scores.groupBy("doc_id")
        .agg(F.sum("term_score").alias("total_score"))
        .orderBy(F.desc("total_score"), F.asc("doc_id"))
        .limit(k)
    )


def search_many(
    index: InvertedIndex,
    queries: dict[str, str | list[str]],
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    stem: bool = False,
    round_scores: int | None = None,
) -> DataFrame:
    """Score MANY queries in ONE job: (query_id, doc_id, total_score,
    rnk) with rnk <= k per query.

    The serving-at-scale shape the reference's one-query-per-job loop
    (pyapp.py:89-107) can't reach: the tf table is scanned ONCE for
    the union of all terms (still a literal isin -> parquet pushdown),
    a tiny broadcast (query_id, word) table fans matches out to their
    queries, and per-query top-k is a row_number window partitioned by
    query_id — thousands of queries amortize to one pass over the
    index. ``round_scores`` rounds before ranking so the k-cutoff is
    reproducible across engines (used by the oracle-checked query).
    """
    spark = index.term_frequencies.sparkSession
    pairs = []
    for qid, q in queries.items():
        terms = tokenize_query(q, stem=stem) if isinstance(q, str) else list(q)
        pairs.extend((qid, t) for t in dict.fromkeys(terms))
    if not pairs:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        id_field = index.term_frequencies.schema["doc_id"]
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", StringType()),
                    StructField("doc_id", id_field.dataType),
                    StructField("total_score", DoubleType()),
                    StructField("rnk", LongType()),
                ]
            ),
        )
    qterms = spark.createDataFrame(pairs, "query_id string, word string")
    words = sorted({w for _, w in pairs})

    tf = index.term_frequencies.filter(F.col("word").isin(words)).join(
        F.broadcast(qterms), "word"
    )
    idf = index.idf_values.filter(F.col("word").isin(words)).select("word", "idf")
    score = F.sum("term_score").alias("total_score")
    if round_scores is not None:
        score = F.round(score, round_scores).alias("total_score")
    totals = (
        term_scores(index, tf, idf, k1=k1, b=b)
        .groupBy("query_id", "doc_id")
        .agg(score)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("total_score"), F.asc("doc_id")
    )
    return totals.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rnk") <= k)


def boolean_search(
    index: InvertedIndex,
    must: list[str],
    must_not: list[str] | None = None,
) -> DataFrame:
    """Boolean retrieval over the term_frequencies posting lists:
    docs containing ALL of `must` and NONE of `must_not`.

    This honors the reference README's stated inverted-index design
    (/root/reference/README.md:17-18 — built at
    searchenginespark.py:114 but never queried by the app): AND is
    posting-list intersection, expressed scalably as
    count-distinct-terms == |must| per doc (one shuffle on doc_id,
    no N-way self-join); NOT is a left-anti join against the excluded
    terms' postings. Returns (doc_id, n_terms_matched)."""
    must = list(dict.fromkeys(must))
    tf = index.term_frequencies
    if must:
        hits = (
            tf.filter(F.col("word").isin(must))
            .groupBy("doc_id")
            .agg(F.countDistinct("word").alias("n_terms_matched"))
            .filter(F.col("n_terms_matched") == len(must))
        )
    else:
        # NOT-only query: the universe is every indexed doc (an empty
        # result here would be silently wrong, not conservative).
        hits = index.doc_lengths.select(
            "doc_id", F.lit(0).cast("bigint").alias("n_terms_matched")
        )
    if must_not:
        excl = tf.filter(F.col("word").isin(list(must_not))).select("doc_id").distinct()
        hits = hits.join(excl, "doc_id", "left_anti")
    return hits


def snippets(
    results: DataFrame, doc_text: DataFrame, *, text_col: str = "text", max_len: int = 300
) -> DataFrame:
    """Attach a truncated snippet to each hit with ONE join.

    Fixes the reference's N+1 per-hit point lookups
    (/root/reference/pyapp.py:110-114: one filter().collect() per
    result row). Duplicate doc_ids in the text table (multi-opinion
    cases) are collapsed to the first by min(text) — same
    "take first match" semantics as pyapp.py:114.
    """
    return results.join(
        snippet_table(doc_text, text_col=text_col, max_len=max_len),
        "doc_id",
        "left",
    )


def snippet_table(
    doc_text: DataFrame, *, text_col: str = "text", max_len: int = 300
) -> DataFrame:
    """(doc_id, snippet): the first ``max_len`` characters of each
    doc's text, duplicate doc_ids collapsed by min(text)."""
    return doc_text.groupBy("doc_id").agg(
        F.substring(F.min(text_col), 1, max_len).alias("snippet")
    )


def highlight(
    df: DataFrame, col: str, query: str | list[str], *, tag: str = "mark"
) -> DataFrame:
    """Wrap literal query matches in <tag>..</tag> (reference F6:
    /root/reference/app.py:52 — case-sensitive literal replace).

    A LIST of terms highlights them all in ONE alternation pass —
    sequential per-term passes could rematch text inside tags already
    inserted by an earlier term."""
    pattern = highlight_pattern(query)
    if pattern is None:
        return df
    return df.withColumn(
        col, F.regexp_replace(F.col(col), pattern, f"<{tag}>$0</{tag}>")
    )


def highlight_text(
    text: str | None, query: str | list[str], *, tag: str = "mark"
) -> str | None:
    """:func:`highlight` of one driver-side string: the same pattern,
    matched by Python's ``re`` instead of Java's regex (the pattern is
    literals and escapes only, which both read alike)."""
    pattern = highlight_pattern(query)
    if pattern is None or text is None:
        return text
    return re.sub(pattern, rf"<{tag}>\g<0></{tag}>", text)


def highlight_pattern(query: str | list[str]) -> str | None:
    """The literal-match alternation both highlighters use, or None
    when there is nothing to highlight."""
    terms = [query] if isinstance(query, str) else [t for t in query if t]
    if not terms:
        return None
    return "|".join(re.escape(t) for t in terms)
