"""Unicode text normalization — NFC + format-char strip + whitespace
collapse — and normalization-aware exact dedup.

Why this is a first-class 100 TB pipeline op: the same visible text
arrives in MANY byte forms — decomposed accents (e + U+0301 vs é),
zero-width spaces / BOMs / soft hyphens pasted from rich sources,
runs of whitespace — and every byte-keyed stage downstream (exact
dedup hashing, shingling, token counts) silently treats them as
different documents. Canonicalize FIRST: NFC (the canonical
composition form; NFKC's compatibility folds are lossy and stay
opt-out here), drop format characters (category Cf: ZWSP, BOM, soft
hyphen...), collapse ASCII whitespace runs, trim.

Engine split: NFC is the one step Spark has no native function for —
it runs as an Arrow-batched pandas_udf (Python's unicodedata and
DuckDB's utf8proc both implement Unicode canonical composition;
parity probed across decomposed/ligature/fullwidth/halfwidth inputs
and pinned by the oracle hash). The strip/collapse/trim steps are
native regexp_replace — JVM-side, whole-stage codegen.

Scale: map-only over the corpus scan; the single Python boundary is
Arrow-batched (the same budget as the Porter stemmer). At 100 TB
this runs once at ingest, before any shuffle-bearing stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from searchengine_spark.io import ensure_min_partitions, load_table


@F.pandas_udf(StringType())
def nfc_udf(texts: pd.Series) -> pd.Series:
    import unicodedata

    return texts.map(
        lambda t: unicodedata.normalize("NFC", t) if t is not None else None
    )


def normalize_text_column(text: Column | str) -> Column:
    """NFC -> strip \\p{Cf} format chars -> collapse [ \\t\\r\\n]+ to a
    single space -> trim. The regex steps use explicit ASCII
    whitespace (not \\s) so Java and RE2 agree exactly."""
    col = F.col(text) if isinstance(text, str) else text
    cleaned = F.regexp_replace(nfc_udf(col), r"\p{Cf}", "")
    collapsed = F.regexp_replace(cleaned, "[ \t\r\n]+", " ")
    return F.trim(collapsed)


def sql_normalize_expr(text_expr: str) -> str:
    """DuckDB twin: nfc_normalize + the same regexp chain."""
    return (
        "trim(regexp_replace(regexp_replace("
        f"nfc_normalize({text_expr}), "
        r"'\p{Cf}', '', 'g'), "
        "'[ \\t\\r\\n]+', ' ', 'g'))"
    )


# Messy-form fixture suffixes (doc_id % 8), built with EXPLICIT
# escapes so the byte forms are unambiguous: decomposed accents,
# zero-width chars (ZWSP/BOM/ZWNJ), soft hyphen, whitespace runs.
# Residues 0 and 4 normalize to the SAME string — the
# normalization-aware dedup query must merge them; no other pair
# merges. Single quotes forbidden (SQL literal embedding).
MESSY_SUFFIXES: tuple[str, ...] = (
    "cafe\u0301 creme bru\u0302le\u0301e",  # decomposed twin of 4
    "zero\u200bwidth\ufeff and\u200c marks",  # Cf chars to strip
    "double  space\t runs \n here",  # whitespace runs
    "already clean text",
    "caf\u00e9 creme br\u00fbl\u00e9e",  # composed twin of 0
    "soft\u00adhyphen inside",  # Cf soft hyphen
    "tab\tand\r\nnewline mix",
    "trailing spaces   ",
)


def with_messy_suffix(docs: DataFrame) -> DataFrame:
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in MESSY_SUFFIXES]),
        (F.col("doc_id") % len(MESSY_SUFFIXES) + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit(" "), suffix
        ).alias("text"),
    )


def q_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document normalization audit over the corpus + messy
    suffix: how many chars each doc loses and whether it changed at
    all — the numbers a curation run reports before committing the
    canonicalized corpus."""
    docs = with_messy_suffix(load_table(spark, sf_dir, "documents"))
    # project the normalized string ONCE so the pandas_udf runs a
    # single Arrow pass per document
    base = ensure_min_partitions(docs).select(
        "doc_id", "text", normalize_text_column("text").alias("norm")
    )
    return base.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_before"),
        F.length("norm").cast("bigint").alias("n_after"),
        (F.col("norm") != F.col("text")).alias("changed"),
    )


def q_nfc_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact-dup groups over the suffix forms:
    byte-distinct texts that canonicalize identically MUST land in
    one group (the composed/decomposed pair), and nothing else may
    merge. Grouped on the normalized string; output is one row per
    group with its size — the semantics proof that byte-keyed exact
    dedup without canonicalization undercounts."""
    docs = load_table(spark, sf_dir, "documents")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in MESSY_SUFFIXES]),
        (F.col("doc_id") % len(MESSY_SUFFIXES) + 1).cast("int"),
    )
    forms = docs.select(suffix.alias("text"))
    return (
        forms.select(normalize_text_column("text").alias("norm_text"))
        .groupBy("norm_text")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------- oracles

_SUFFIX_SQL = "[" + ", ".join(f"'{s}'" for s in MESSY_SUFFIXES) + "]"

_MDOCS_CTE = f"""
WITH mdocs AS (
  SELECT doc_id,
         coalesce(text, '') || ' ' ||
           ({_SUFFIX_SQL})[(doc_id % {len(MESSY_SUFFIXES)}) + 1] AS text
  FROM documents
)"""

QUERIES = {
    "text_normalize_stats": q_normalize_stats,
    "dedup_nfc_groups": q_nfc_dedup_groups,
}

ORACLES = {
    "text_normalize_stats": f"""{_MDOCS_CTE}
        SELECT doc_id,
               length(text)::BIGINT AS n_before,
               length({sql_normalize_expr('text')})::BIGINT AS n_after,
               {sql_normalize_expr('text')} <> text AS changed
        FROM mdocs
    """,
    "dedup_nfc_groups": f"""
        WITH forms AS (
          SELECT ({_SUFFIX_SQL})[(doc_id % {len(MESSY_SUFFIXES)}) + 1] AS text
          FROM documents
        )
        SELECT {sql_normalize_expr('text')} AS norm_text,
               count(*)::BIGINT AS n_docs
        FROM forms GROUP BY 1
    """,
}


# Byte-variant twin fixture: every even-doc_id document appears TWICE
# — once with a composed decoration, once (as doc_id+1) with the
# decomposed form of the SAME decoration. The pair is byte-distinct
# but canonically identical, so exact dedup keyed on raw md5 sees all
# singletons while NFC-keyed dedup halves the corpus. Built from the
# even rows alone (map-side union, no join) identically in both
# engines. Tails are explicit escapes so no tool can silently
# re-normalize the source file.
_COMPOSED_TAIL = " caf\u00e9 br\u00fbl\u00e9e"
_DECOMPOSED_TAIL = " cafe\u0301 bru\u0302le\u0301e"


def _variant_pairs(docs: DataFrame) -> DataFrame:
    evens = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    composed = evens.select(
        "doc_id", F.concat(F.col("t"), F.lit(_COMPOSED_TAIL)).alias("text")
    )
    decomposed = evens.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.concat(F.col("t"), F.lit(_DECOMPOSED_TAIL)).alias("text"),
    )
    return composed.unionByName(decomposed)


def q_nfc_exact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit over the byte-variant twin fixture: raw-md5
    exact dedup finds NOTHING (every form is a byte singleton) while
    NFC-keyed dedup finds exactly one group per twin pair — the
    undercount a canonicalize-first pipeline exists to fix, measured
    at corpus scale."""
    forms = _variant_pairs(load_table(spark, sf_dir, "documents"))
    counted = forms.select(
        F.md5(F.col("text").cast("binary")).alias("h_raw"),
        F.md5(normalize_text_column("text").cast("binary")).alias("h_nfc"),
    )
    return (
        counted.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h_raw").alias("n_groups_raw"),
            F.countDistinct("h_nfc").alias("n_groups_nfc"),
        )
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_groups_raw").cast("bigint").alias("n_groups_raw"),
            F.col("n_groups_nfc").cast("bigint").alias("n_groups_nfc"),
            (F.col("n_groups_raw") - F.col("n_groups_nfc"))
            .cast("bigint")
            .alias("n_hidden_dups"),
        )
    )


_VARIANT_CTE = f"""
WITH evens AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id % 2 = 0
),
forms AS (
  SELECT doc_id, t || '{_COMPOSED_TAIL}' AS text FROM evens
  UNION ALL
  SELECT doc_id + 1, t || '{_DECOMPOSED_TAIL}' FROM evens
)"""

# ------------------------------------------- NFC-normalized BM25 index

# Composed-form query over a corpus carrying BOTH byte forms: residue
# 0 of MESSY_SUFFIXES is the decomposed twin of residue 4. Only a
# normalize=True index matches both — without NFC the decomposed
# docs tokenize "café" to "cafe" (combining marks are not \p{L})
# and the composed query misses them entirely; the companion test
# pins that asymmetry.
NFC_QUERY_TERMS: tuple[str, ...] = ("café", "brûlée")
NFC_K = 10


def _nfc_index(spark: SparkSession, sf_dir: str):
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.io import session_cached
    from searchengine_spark.text.tokenizer import tokens_column

    return session_cached(
        spark, "nfc-bm25-index", sf_dir,
        lambda: build_index(
            with_messy_suffix(load_table(spark, sf_dir, "documents")),
            tokens=tokens_column("text", unicode=True),
            normalize=True,
        )
        .coalesce(8)
        .materialized(),
    )


def q_bm25_topk_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over the NFC-normalized unicode index for a
    composed-form accented query — proof the search path (not just
    dedup) is canonicalization-aware: decomposed-form documents match
    a composed-form query only because build_index(normalize=True)
    canonicalized them at ingest."""
    from searchengine_spark.index.bm25 import query_term_scores
    from searchengine_spark.index.queries import rounded_top_k

    return rounded_top_k(
        query_term_scores(_nfc_index(spark, sf_dir), NFC_QUERY_TERMS), NFC_K
    )


def _nfc_topk_oracle() -> str:
    from searchengine_spark.index.queries import B, K1, index_body_sql
    from searchengine_spark.text.tokenizer import sql_tokens_expr

    terms = ", ".join(f"'{t}'" for t in NFC_QUERY_TERMS)
    return f"""{_MDOCS_CTE},
ntok AS (
  SELECT doc_id,
         unnest({sql_tokens_expr(sql_normalize_expr('text'), unicode=True)}) AS word
  FROM mdocs
){index_body_sql('n')},
scored AS (
  SELECT ntf.doc_id,
         nidf.idf * (ntf.term_freq * {K1 + 1.0}) /
           (ntf.term_freq + {K1} * (1.0 - {B} + {B} * ndl.doc_length /
             (SELECT avgdl FROM nparams))) AS term_score
  FROM ntf
  JOIN nidf ON ntf.word = nidf.word
  JOIN ndl ON ntf.doc_id = ndl.doc_id
  WHERE ntf.word IN ({terms})
)
SELECT doc_id, round(sum(term_score), 6) AS total_score
FROM scored GROUP BY doc_id
ORDER BY total_score DESC, doc_id ASC LIMIT {NFC_K}
"""


QUERIES["se_bm25_topk_nfc"] = q_bm25_topk_nfc
ORACLES["se_bm25_topk_nfc"] = _nfc_topk_oracle()

QUERIES["dedup_nfc_exact_audit"] = q_nfc_exact_audit
ORACLES["dedup_nfc_exact_audit"] = f"""{_VARIANT_CTE}
    SELECT count(*)::BIGINT AS n_docs,
           count(DISTINCT md5(text))::BIGINT AS n_groups_raw,
           count(DISTINCT md5({sql_normalize_expr('text')}))::BIGINT
             AS n_groups_nfc,
           (count(DISTINCT md5(text))
            - count(DISTINCT md5({sql_normalize_expr('text')})))::BIGINT
             AS n_hidden_dups
    FROM forms
"""
