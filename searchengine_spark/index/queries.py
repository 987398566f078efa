"""Search-engine core queries + DuckDB oracle twins.

Each Spark query here is the scale-out implementation; its ORACLES
entry is the semantically identical ANSI SQL DuckDB runs on the same
parquet (driver contract in __spark_entry__.py). Column names/aliases
match exactly; floats that depend on summation order are rounded to 6
decimals on BOTH sides.

The `documents` test table is flat (doc_id, text, lang, source,
n_chars) — the reference's nested CAP corpus shape is handled by
corpus.py; the index/query semantics are identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.builder import build_index
from searchengine_spark.index.bm25 import query_term_scores, search, tfidf_search
from searchengine_spark.io import TESTDATA_DOC_VOCAB, check_top_k, load_table
from searchengine_spark.text.porter import sql_stem_case_expr
from searchengine_spark.text.tokenizer import sql_tokens_expr, tokenize_query

# Fixed benchmark query for the oracle-checked BM25 path (terms from
# the synthetic corpus vocabulary, mixed document frequency).
BM25_QUERY_TERMS = ("spark", "join", "window", "fast")
BM25_K = 10
K1, B = 1.2, 0.75


# One built index per (session, sf_dir): the reference's architecture
# is build-once/query-many (materialized parquet artifacts); rebuilding
# the lineage per query would re-tokenize the corpus every time.


def _index(spark: SparkSession, sf_dir: str):
    from searchengine_spark.io import session_cached

    return session_cached(
        spark, "index", sf_dir,
        # few-partition cache: the whole se_* family is small-result
        # scheduling-bound over this index (see InvertedIndex.coalesce)
        lambda: build_index(load_table(spark, sf_dir, "documents"))
        .coalesce(8)
        .materialized(),
    )


def q_flat_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index(spark, sf_dir).flat_words


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index(spark, sf_dir).doc_lengths


def q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index(spark, sf_dir).term_frequencies


def q_idf_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index(spark, sf_dir).idf_values.select(
        "word", "doc_freq", F.round("idf", 6).alias("idf")
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Postings emitted as a joined string: deterministic, and immune
    # to array-representation differences between engines.
    return _index(spark, sf_dir).inverted_index.select(
        "word",
        F.size("doc_ids").alias("n_docs"),
        F.array_join("doc_ids", ",").alias("doc_ids_str"),
    )


def q_scoring_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index(spark, sf_dir).scoring_params


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All docs matching >=1 query term, with full BM25 scores."""
    return rounded_totals(query_term_scores(_index(spark, sf_dir), BM25_QUERY_TERMS))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k of q_bm25_scores; ordered on the ROUNDED score so the
    cutoff is deterministic across engines."""
    return rounded_top_k(
        query_term_scores(_index(spark, sf_dir), BM25_QUERY_TERMS), BM25_K
    )


def q_search_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The public search() entry point (same semantics as bm25_topk,
    exercised through the user-facing API)."""
    idx = _index(spark, sf_dir)
    # Overfetch then re-rank on the rounded score so the top-k cutoff
    # is deterministic across engines (raw-score ordering can differ
    # at the last ulp).
    res = search(idx, list(BM25_QUERY_TERMS), k=BM25_K + 20)
    return (
        res.select("doc_id", F.round("total_score", 6).alias("total_score"))
        .orderBy(F.desc("total_score"), F.asc("doc_id"))
        .limit(BM25_K)
    )


# ---------------------------------------------------------------- oracles

_TOK_CTE = f"""
WITH tok AS (
  SELECT doc_id, unnest({sql_tokens_expr('text')}) AS word
  FROM documents
)
"""

# Stemmed twin of _TOK_CTE: same tokenizer, then each token through a
# stem dictionary generated from the golden-tested porter_stem over
# the closed corpus vocabulary (loud error() on drift — see
# porter.sql_stem_case_expr). Downstream index CTEs are shared: the
# stemmed index IS the plain index over a stemmed token stream.
_STEM_TOK_CTE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_transform(
           {sql_tokens_expr('text')},
           w -> {sql_stem_case_expr(TESTDATA_DOC_VOCAB, var='w')}
         )) AS word
  FROM documents
)
"""

_INDEX_BODY_TPL = """,
{p}dl AS (
  SELECT doc_id, count(*)::BIGINT AS doc_length FROM {p}tok GROUP BY doc_id
),
{p}tf AS (
  SELECT doc_id, word, count(*)::BIGINT AS term_freq
  FROM {p}tok GROUP BY doc_id, word
),
{p}params AS (
  SELECT count(*)::BIGINT AS n_docs, sum(doc_length) / count(*) AS avgdl FROM {p}dl
),
{p}idf AS (
  SELECT word, count(*)::BIGINT AS doc_freq,
         log10((SELECT n_docs FROM {p}params) / count(*)) AS idf
  FROM {p}tf GROUP BY word
)
"""


def index_body_sql(prefix: str = "") -> str:
    """The BM25 index CTE chain ({p}dl/{p}tf/{p}params/{p}idf over a
    ``{p}tok`` CTE) with every name prefixed — so a second index in
    the same oracle (e.g. the CHUNK index in index/ragrecall.py)
    shares this definition verbatim instead of restating it."""
    return _INDEX_BODY_TPL.replace("{p}", prefix)


_INDEX_BODY = index_body_sql()

_INDEX_CTES = _TOK_CTE + _INDEX_BODY
_STEM_INDEX_CTES = _STEM_TOK_CTE + _INDEX_BODY

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

# Split so index/hybrid.py can reuse the scored CTE without copying
# the BM25 arithmetic (copy-drift between oracles would be invisible
# until a driver hash-fail).
BM25_SCORED_CTE = f""",
scored AS (
  SELECT tf.doc_id,
         idf.idf * (tf.term_freq * {K1 + 1.0}) /
           (tf.term_freq + {K1} * (1.0 - {B} + {B} * dl.doc_length /
             (SELECT avgdl FROM params))) AS term_score
  FROM tf
  JOIN idf ON tf.word = idf.word
  JOIN dl ON tf.doc_id = dl.doc_id
  WHERE tf.word IN ({_BM25_TERMS_SQL})
)"""


def rounded_totals(scores: DataFrame) -> DataFrame:
    """(doc_id, total_score): (doc_id, term_score) rows summed per doc
    and rounded to 6 places — the Spark side of the oracles'
    ``round(sum(term_score), 6)`` over BM25_SCORED_CTE."""
    return scores.groupBy("doc_id").agg(
        F.round(F.sum("term_score"), 6).alias("total_score")
    )


def rounded_top_k(scores: DataFrame, k: int) -> DataFrame:
    """Top-k of :func:`rounded_totals`, score desc, then doc_id asc.

    Ranking the ROUNDED total makes the cutoff and the tie order
    deterministic at display precision, whatever order a plan sums
    in; ``bm25.top_k`` ranks the raw sum and keeps full precision."""
    check_top_k(k)
    return (
        rounded_totals(scores)
        .orderBy(F.desc("total_score"), F.asc("doc_id"))
        .limit(k)
    )


_BM25_SCORES_SQL = f"""{_INDEX_CTES}{BM25_SCORED_CTE}
SELECT doc_id, round(sum(term_score), 6) AS total_score
FROM scored GROUP BY doc_id
"""

STEMMED_QUERY = "sorting merges windows"


def q_bm25_topk_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stemmed-pipeline BM25 (Porter pandas_udf in the index build,
    stemmed query terms). Oracle: the stem step is a dictionary
    lookup generated from the golden-tested porter_stem over the
    closed corpus vocabulary (_STEM_INDEX_CTES), so DuckDB replays
    tokenize -> stem -> index -> score end-to-end; exact scoring
    goldens additionally live in tests/test_bm25_golden.py and
    tests/test_tokenizer.py. Overfetch + re-rank on the ROUNDED
    score so the top-k cutoff is deterministic across engines."""
    from searchengine_spark.io import session_cached

    idx = session_cached(
        spark, "index-stemmed", sf_dir,
        lambda: build_index(
            load_table(spark, sf_dir, "documents"), stem=True
        )
        .coalesce(8)
        .materialized(),
    )
    res = search(idx, STEMMED_QUERY, k=BM25_K + 20, stem=True)
    return (
        res.select("doc_id", F.round("total_score", 6).alias("total_score"))
        .orderBy(F.desc("total_score"), F.asc("doc_id"))
        .limit(BM25_K)
    )


BATCH_QUERIES: dict[str, list[str]] = {
    # Pre-tokenized term lists so the Spark path and the SQL oracle
    # share literal terms (no tokenizer in the oracle).
    "q_spark": ["spark", "join", "window", "fast"],
    "q_sort": ["merge", "sort", "table"],
    "q_hash": ["hash", "group", "filter"],
}


def batch_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared BATCH_QUERIES BM25 top-k (query_id, doc_id,
    total_score, rnk): computed once per (session, sf_dir) and reused
    by every consumer — the declared se_bm25_batch query and the
    chunk-retrieval recall audit's doc-level side previously ran the
    identical search_many twice per bench sweep (r13 optimization,
    guide §1.2 step 1). The result is k rows per query — tiny — so
    the session cache's lineage cut materializes ~30 rows."""
    from searchengine_spark.io import session_cached

    def build():
        from searchengine_spark.index.bm25 import search_many

        return search_many(
            _index(spark, sf_dir), dict(BATCH_QUERIES), k=BM25_K, round_scores=6
        )

    return session_cached(spark, "bm25_batch_top", sf_dir, build)


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched serving: all BATCH_QUERIES scored in one job, top-k per
    query via a query_id-partitioned window (see bm25.search_many)."""
    return batch_top(spark, sf_dir)


BOOL_MUST = ("spark", "join", "window")
BOOL_MUST_NOT = ("error",)


def q_boolean_and_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND/NOT retrieval via posting intersection (the
    inverted-index query path the reference README describes but
    never wired up)."""
    from searchengine_spark.index.bm25 import boolean_search

    idx = _index(spark, sf_dir)
    return boolean_search(idx, list(BOOL_MUST), list(BOOL_MUST_NOT))


OKAPI_K1 = 1.5


def q_bm25_okapi_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 variant (rank_bm25-style): k1=1.5 and idf=ln((N-df+0.5)/
    (df+0.5)+1) — full score set for the benchmark terms, so the
    alternate idf/constants path is oracle-checked end-to-end, not
    just golden-tested."""
    return rounded_totals(
        query_term_scores(
            _index(spark, sf_dir), BM25_QUERY_TERMS,
            idf_variant="okapi", k1=OKAPI_K1,
        )
    )


def q_bm25_rank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 EXACT fidelity (rank_bm25 BM25Okapi): raw ln idf without the
    +1 smoothing, negatives floored to eps*mean(raw idf over the full
    vocab), k1=1.5 — the published library algorithm, oracle-checked
    end-to-end (the ε-floor arithmetic included)."""
    return rounded_totals(
        query_term_scores(
            _index(spark, sf_dir), BM25_QUERY_TERMS,
            idf_variant="rank_bm25", k1=OKAPI_K1,
        )
    )


def q_tfidf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full TF-IDF score set for the benchmark terms (all matching
    docs — no top-k boundary, fully oracle-deterministic)."""
    idx = _index(spark, sf_dir)
    terms = list(BM25_QUERY_TERMS)
    tf = idx.term_frequencies.filter(F.col("word").isin(terms))
    idf = idx.idf_values.filter(F.col("word").isin(terms)).select("word", "idf")
    from searchengine_spark.index.bm25 import tfidf_term_score

    return (
        tf.join(F.broadcast(idf), "word")
        .select(
            "doc_id",
            tfidf_term_score(F.col("term_freq"), F.col("idf")).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("total_score"))
    )


QUERIES = {
    "se_flat_words": q_flat_words,
    "se_bm25_topk_stemmed": q_bm25_topk_stemmed,
    "se_tfidf_scores": q_tfidf_scores,
    "se_doc_lengths": q_doc_lengths,
    "se_term_frequencies": q_term_frequencies,
    "se_idf_values": q_idf_values,
    "se_inverted_index": q_inverted_index,
    "se_scoring_params": q_scoring_params,
    "se_bm25_scores": q_bm25_scores,
    "se_bm25_topk": q_bm25_topk,
    "se_search_api": q_search_api,
    "se_bm25_batch": q_bm25_batch,
    "se_bm25_okapi_scores": q_bm25_okapi_scores,
    "se_bm25_rank_scores": q_bm25_rank_scores,
    "se_boolean_and_not": q_boolean_and_not,
}

_BOOL_MUST_SQL = ", ".join(f"'{t}'" for t in BOOL_MUST)
_BOOL_NOT_SQL = ", ".join(f"'{t}'" for t in BOOL_MUST_NOT)

_BATCH_QTERMS_SQL = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in BATCH_QUERIES.items() for t in terms
)

_BM25_BATCH_SQL = f"""{_INDEX_CTES},
qterms(query_id, word) AS (SELECT * FROM (VALUES {_BATCH_QTERMS_SQL})),
scored AS (
  SELECT q.query_id, tf.doc_id,
         idf.idf * (tf.term_freq * {K1 + 1.0}) /
           (tf.term_freq + {K1} * (1.0 - {B} + {B} * dl.doc_length /
             (SELECT avgdl FROM params))) AS term_score
  FROM tf
  JOIN qterms q ON tf.word = q.word
  JOIN idf ON tf.word = idf.word
  JOIN dl ON tf.doc_id = dl.doc_id
),
totals AS (
  SELECT query_id, doc_id, round(sum(term_score), 6) AS total_score
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, total_score, rnk FROM (
  SELECT query_id, doc_id, total_score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY total_score DESC, doc_id ASC
         ) AS rnk
  FROM totals
) WHERE rnk <= {BM25_K}
"""

_STEMMED_TERMS_SQL = ", ".join(
    f"'{t}'" for t in tokenize_query(STEMMED_QUERY, stem=True)
)

ORACLES = {
    "se_flat_words": f"{_TOK_CTE} SELECT doc_id, word FROM tok",
    "se_bm25_topk_stemmed": f"""{_STEM_INDEX_CTES},
        scored AS (
          SELECT tf.doc_id,
                 idf.idf * (tf.term_freq * {K1 + 1.0}) /
                   (tf.term_freq + {K1} * (1.0 - {B} + {B} * dl.doc_length /
                     (SELECT avgdl FROM params))) AS term_score
          FROM tf
          JOIN idf ON tf.word = idf.word
          JOIN dl ON tf.doc_id = dl.doc_id
          WHERE tf.word IN ({_STEMMED_TERMS_SQL})
        )
        SELECT doc_id, round(sum(term_score), 6) AS total_score
        FROM scored GROUP BY doc_id
        ORDER BY total_score DESC, doc_id ASC LIMIT {BM25_K}
    """,
    "se_tfidf_scores": f"""{_INDEX_CTES}
        SELECT tf.doc_id,
               round(SUM((1.0 + log10(tf.term_freq)) * idf.idf), 6) AS total_score
        FROM tf JOIN idf ON tf.word = idf.word
        WHERE tf.word IN ({_BM25_TERMS_SQL})
        GROUP BY tf.doc_id
    """,
    "se_doc_lengths": f"{_TOK_CTE} SELECT doc_id, count(*)::BIGINT AS doc_length FROM tok GROUP BY doc_id",
    "se_term_frequencies": (
        f"{_TOK_CTE} SELECT doc_id, word, count(*)::BIGINT AS term_freq "
        "FROM tok GROUP BY doc_id, word"
    ),
    "se_idf_values": f"{_INDEX_CTES} SELECT word, doc_freq, round(idf, 6) AS idf FROM idf",
    "se_inverted_index": (
        f"{_INDEX_CTES} SELECT word, count(*)::INT AS n_docs, "
        "string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids_str "
        "FROM tf GROUP BY word"
    ),
    "se_scoring_params": f"{_INDEX_CTES} SELECT n_docs, avgdl FROM params",
    "se_bm25_scores": _BM25_SCORES_SQL,
    "se_bm25_topk": (
        f"{_BM25_SCORES_SQL} ORDER BY total_score DESC, doc_id ASC LIMIT {BM25_K}"
    ),
    "se_search_api": (
        f"{_BM25_SCORES_SQL} ORDER BY total_score DESC, doc_id ASC LIMIT {BM25_K}"
    ),
    "se_bm25_batch": _BM25_BATCH_SQL,
    "se_boolean_and_not": f"""{_INDEX_CTES}
        SELECT doc_id, COUNT(DISTINCT word) AS n_terms_matched
        FROM tf
        WHERE word IN ({_BOOL_MUST_SQL})
          AND doc_id NOT IN (
            SELECT doc_id FROM tf WHERE word IN ({_BOOL_NOT_SQL})
          )
        GROUP BY doc_id
        HAVING COUNT(DISTINCT word) = {len(BOOL_MUST)}
    """,
    "se_bm25_okapi_scores": f"""{_INDEX_CTES},
        okapi AS (
          SELECT word,
                 ln(((SELECT n_docs FROM params) - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0) AS idf
          FROM idf
        ),
        scored AS (
          SELECT tf.doc_id,
                 okapi.idf * (tf.term_freq * {OKAPI_K1 + 1.0}) /
                   (tf.term_freq + {OKAPI_K1} * (1.0 - {B} + {B} * dl.doc_length /
                     (SELECT avgdl FROM params))) AS term_score
          FROM tf
          JOIN okapi ON tf.word = okapi.word
          JOIN dl ON tf.doc_id = dl.doc_id
          WHERE tf.word IN ({_BM25_TERMS_SQL})
        )
        SELECT doc_id, round(sum(term_score), 6) AS total_score
        FROM scored GROUP BY doc_id
    """,
    # Exact rank_bm25 semantics: raw ln idf (no +1) and ε-floor at
    # 0.25 * mean(raw idf over the FULL vocabulary, pre-floor).
    "se_bm25_rank_scores": f"""{_INDEX_CTES},
        raw AS (
          SELECT word,
                 ln(((SELECT n_docs FROM params) - doc_freq + 0.5) / (doc_freq + 0.5)) AS raw_idf
          FROM idf
        ),
        floored AS (
          SELECT word,
                 CASE WHEN raw_idf < 0
                      THEN 0.25 * (SELECT AVG(raw_idf) FROM raw)
                      ELSE raw_idf END AS idf
          FROM raw
        ),
        scored AS (
          SELECT tf.doc_id,
                 floored.idf * (tf.term_freq * {OKAPI_K1 + 1.0}) /
                   (tf.term_freq + {OKAPI_K1} * (1.0 - {B} + {B} * dl.doc_length /
                     (SELECT avgdl FROM params))) AS term_score
          FROM tf
          JOIN floored ON tf.word = floored.word
          JOIN dl ON tf.doc_id = dl.doc_id
          WHERE tf.word IN ({_BM25_TERMS_SQL})
        )
        SELECT doc_id, round(sum(term_score), 6) AS total_score
        FROM scored GROUP BY doc_id
    """,
}
