"""CJK character-bigram segmentation over the Unicode token stream.

The Unicode tokenizer (text/tokenizer.py, unicode=True) splits on
non-letter codepoints — correct for alphabetic scripts, but CJK text
carries no whitespace, so an unsegmented run ("訓練データ処理")
becomes ONE token: tf/idf over such tokens is useless because nearly
every document's runs are unique. The classic fix — what Lucene's
CJKAnalyzer and early CJK IR literature standardized — is overlapping
CHARACTER BIGRAMS: each maximal Han/Hiragana/Katakana run of length n
emits its n-1 overlapping 2-char grams; non-CJK tokens pass through
unchanged. Bigrams give BM25 a vocabulary with real document
frequencies at the cost of ~2x postings for CJK text.

Cross-engine parity: the CJK run test is a script-property character
class (Java spells it \\p{IsHan}, RE2 \\p{Han}) plus the two
script=Common members CJK text needs (ー U+30FC prolonged sound mark,
々 U+3005 iteration mark); gram extraction is 1-based substr(i, 2)
in both engines. The driver's hash compare of the queries below is
the proof, as with the unicode mode.

Scale: pure column expressions (filter/transform/sequence/substr/
flatten) — map-side, whole-stage codegen, no UDF; the index build
downstream is the standard tokenize->explode->agg shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.bm25 import query_term_scores
from searchengine_spark.index.builder import build_index
from searchengine_spark.index.queries import B, K1, index_body_sql, rounded_top_k
from searchengine_spark.index.unicode_search import (
    _UDOCS_CTES,
    _udocs,
)
from searchengine_spark.io import session_cached
from searchengine_spark.text.tokenizer import (
    MIN_TOKEN_LEN,
    STOPWORDS,
    tokens_column,
)

# Java (Spark) and RE2 (DuckDB) spell Unicode script properties
# differently; both classes match the same codepoints.
_CJK_RUN_JAVA = r"^[\p{IsHan}\p{IsHiragana}\p{IsKatakana}ー々]+$"
_CJK_RUN_RE2 = r"^[\p{Han}\p{Hiragana}\p{Katakana}ー々]+$"


def cjk_resegment(toks: Column) -> Column:
    """Re-segment an existing token-array Column: each all-CJK token
    becomes its overlapping character bigrams (a 2-char CJK token is
    its own single bigram); non-CJK tokens pass through unchanged.
    Pure column expressions — shared by the CJK index mode below and
    the language-routed tokenizer (text/multilingual.py)."""
    return F.flatten(
        F.transform(
            toks,
            lambda w: F.when(
                w.rlike(_CJK_RUN_JAVA),
                F.transform(
                    F.sequence(F.lit(1), F.length(w) - 1),
                    lambda i: w.substr(i, F.lit(2)),
                ),
            ).otherwise(F.array(w)),
        )
    )


def cjk_bigram_tokens_column(text: Column | str) -> Column:
    """Unicode tokens with CJK runs re-segmented into overlapping
    character bigrams. A 2-char CJK token is its own (single) bigram;
    non-CJK tokens pass through unchanged."""
    return cjk_resegment(tokens_column(text, unicode=True))


def is_cjk_char(ch: str) -> bool:
    """Driver-side twin of the _CJK_RUN character class (one char)."""
    import unicodedata

    if ch in ("ー", "々"):
        return True
    try:
        name = unicodedata.name(ch)
    except ValueError:
        return False
    return name.startswith(("CJK ", "HIRAGANA ", "KATAKANA "))


def cjk_bigram_query_terms(query: str) -> list[str]:
    """Driver-side query segmentation — same rules as the column."""
    from searchengine_spark.text.tokenizer import unicode_letter_runs

    out: list[str] = []
    for w in unicode_letter_runs(query.lower()):
        if len(w) < MIN_TOKEN_LEN or w in STOPWORDS:
            continue
        if all(is_cjk_char(c) for c in w):
            out.extend(w[i : i + 2] for i in range(len(w) - 1))
        else:
            out.append(w)
    return out


def sql_cjk_bigram_expr(tokens_list_expr: str) -> str:
    """DuckDB twin: re-segment an existing token-LIST expression."""
    return (
        f"flatten(list_transform({tokens_list_expr}, w -> "
        f"CASE WHEN regexp_matches(w, '{_CJK_RUN_RE2}') "
        "THEN list_transform(range(1, length(w)), i -> w[i:i+1]) "
        "ELSE [w] END))"
    )


# --------------------------------------------------------- queries

# Mixed CJK/Latin query: "訓練データ" segments to 訓練/練デ/デー/ータ.
# The suffix fixture carries 訓練 and データ as separate tokens, so
# the within-token grams (訓練, デー, ータ) hit while the cross-token
# gram (練デ) finds no posting — both gram paths exercised — plus a
# Latin term sharing the index.
CJK_QUERY = "訓練データ café"
CJK_K = 10


def _cjk_index(spark: SparkSession, sf_dir: str):
    return session_cached(
        spark, "cjk-bigram-index", sf_dir,
        lambda: build_index(
            _udocs(spark, sf_dir),
            tokens=cjk_bigram_tokens_column("text"),
        )
        .coalesce(8)
        .materialized(),
    )


def q_cjk_bigram_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-vocabulary term statistics under CJK bigram segmentation
    over the multilingual suffix fixture — every CJK run must emit
    exactly its overlapping bigrams, with exact frequencies."""
    return (
        _udocs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(cjk_bigram_tokens_column("text")).alias("word"),
        )
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def q_bm25_topk_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over the bigram-segmented index for a mixed
    CJK/Latin query — the retrieval path CJK text actually needs
    (whole-run tokens have no useful document frequency)."""
    return rounded_top_k(
        query_term_scores(_cjk_index(spark, sf_dir), cjk_bigram_query_terms(CJK_QUERY)), CJK_K
    )


# ---------------------------------------------------------- oracles

# Rebuild the fixture CTEs with the bigram token stream: reuse the
# unicode fixture's udocs CTE verbatim, swapping utok's list
# expression for the bigram-segmented one.
from searchengine_spark.text.tokenizer import sql_tokens_expr  # noqa: E402

_CJK_CTES = _UDOCS_CTES[: _UDOCS_CTES.index("utok AS (")] + f"""utok AS (
  SELECT doc_id,
         unnest({sql_cjk_bigram_expr(sql_tokens_expr('text', unicode=True))}) AS word
  FROM udocs
)"""

_CJK_TERMS_SQL = ", ".join(
    f"'{t}'" for t in cjk_bigram_query_terms(CJK_QUERY)
)

QUERIES = {
    "text_cjk_bigram_tokens": q_cjk_bigram_tokens,
    "se_bm25_topk_cjk": q_bm25_topk_cjk,
}

ORACLES = {
    "text_cjk_bigram_tokens": f"""{_CJK_CTES}
        SELECT word, count(*)::BIGINT AS freq,
               count(DISTINCT doc_id)::BIGINT AS n_docs
        FROM utok GROUP BY word
    """,
    "se_bm25_topk_cjk": f"""{_CJK_CTES}{index_body_sql('u')},
        scored AS (
          SELECT utf.doc_id,
                 uidf.idf * (utf.term_freq * {K1 + 1.0}) /
                   (utf.term_freq + {K1} * (1.0 - {B} + {B} * udl.doc_length /
                     (SELECT avgdl FROM uparams))) AS term_score
          FROM utf
          JOIN uidf ON utf.word = uidf.word
          JOIN udl ON utf.doc_id = udl.doc_id
          WHERE utf.word IN ({_CJK_TERMS_SQL})
        )
        SELECT doc_id, round(sum(term_score), 6) AS total_score
        FROM scored GROUP BY doc_id
        ORDER BY total_score DESC, doc_id ASC LIMIT {CJK_K}
    """,
}
