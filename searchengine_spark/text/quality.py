"""Gopher-style rule-based quality gating and repetition signals.

The reference engine scores documents only by BM25 relevance; a
training-data pipeline additionally needs *content-quality* filters
before anything reaches dedup or tokenization. This module implements
the repetition/heuristic family popularized by the Gopher data work
(Rae et al. 2021, "Scaling Language Models", appendix A1.1): word
count bounds, mean-word-length bounds, stopword evidence,
adjacent-duplicate-word ratio, lexical diversity, and the
top-n-gram-character-fraction repetition signal.

Scale notes: `text_gopher_gate` is a pure map stage (array
expressions over one scan — no shuffle, no UDF), which is exactly the
shape a 100 TB quality pass must have. `text_top_bigram_repetition`
needs a per-doc mode, so it explodes bigrams and aggregates on
(doc_id, bigram) — partial aggregation applies, keys are
near-unique so no skew, and the window that picks the argmax
partitions by doc_id (never a global sort).

Both queries have DuckDB oracle twins; every ratio is rounded to 6
decimals on both sides, and arrays are materialized behind an
exchange barrier before expensive reuse (see memory: Catalyst
CollapseProject re-inlines aliased exprs into every reference site).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark.io import ensure_min_partitions, load_table
from searchengine_spark.text.tokenizer import (
    STOPWORDS,
    raw_tokens_column as _raw_tokens,
    sql_raw_tokens_expr,
)

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# Gate thresholds — Gopher-shaped, calibrated so the synthetic corpus
# (10-99 words/doc, adjacent-dup ratio 0-0.17) splits into a
# meaningful pass/fail mix instead of all-pass.
MIN_WORDS = 30
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_STOPWORDS = 1
MAX_ADJACENT_DUP_FRAC = 0.05
MIN_DISTINCT_FRAC = 0.40


def gate_passes_expr(toks: Column) -> Column:
    """The full gate as ONE boolean Column over a token-array Column
    — lets callers (pipeline.curate) filter in place without joining
    back to the signals frame. Signal arithmetic and rounding are
    identical to gopher_gate's output columns (asserted in tests)."""
    n = F.size(toks)
    adj_dups = F.size(
        F.filter(
            F.zip_with(
                F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1), lambda a, b: a == b
            ),
            lambda x: x,
        )
    )
    adj_dup_frac = F.when(n >= 2, F.round(adj_dups / (n - 1), 6)).otherwise(F.lit(0.0))
    mean_word_len = F.round(F.length(F.array_join(toks, "")) / n, 6)
    distinct_frac = F.round(F.size(F.array_distinct(toks)) / n, 6)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    return (
        n.between(MIN_WORDS, MAX_WORDS)
        & mean_word_len.between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (n_stop >= MIN_STOPWORDS)
        & (adj_dup_frac <= MAX_ADJACENT_DUP_FRAC)
        & (distinct_frac >= MIN_DISTINCT_FRAC)
    )


def sql_gate_predicate(t: str = "toks") -> str:
    """DuckDB twin of gate_passes_expr over a token-list expression
    alias."""
    return f"""(
      len({t}) BETWEEN {MIN_WORDS} AND {MAX_WORDS}
      AND round(length(array_to_string({t}, '')) * 1.0 / len({t}), 6)
            BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
      AND len(list_filter({t}, w -> w IN ({_STOP_SQL}))) >= {MIN_STOPWORDS}
      AND (CASE WHEN len({t}) >= 2 THEN
             round(len(list_filter(list_transform(range(1, len({t})),
                                                  i -> {t}[i] = {t}[i+1]),
                                   b -> b)) * 1.0 / (len({t}) - 1), 6)
           ELSE 0.0 END) <= {MAX_ADJACENT_DUP_FRAC}
      AND round(len(list_distinct({t})) * 1.0 / len({t}), 6) >= {MIN_DISTINCT_FRAC}
    )"""


def gopher_gate(docs: DataFrame) -> DataFrame:
    """Per-document quality signals + boolean gate, one map stage.

    Returns every signal (so downstream can re-threshold without a
    rescan) plus `passes` — the conjunction of the Gopher-style
    rules above. Input needs (doc_id, text).
    """
    base = ensure_min_partitions(docs).select(
        "doc_id", _raw_tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    # Adjacent-duplicate ratio: fraction of consecutive word pairs
    # that are equal ("batch batch batch" -> 2 dup pairs). zip_with
    # over the two shifted slices; guarded for 1-word docs (slice
    # with length 0 is fine, but 0/0 is not).
    adj_dups = F.size(
        F.filter(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda a, b: a == b,
            ),
            lambda x: x,
        )
    )
    adj_dup_frac = F.when(n >= 2, F.round(adj_dups / (n - 1), 6)).otherwise(F.lit(0.0))
    mean_word_len = F.round(F.length(F.array_join("toks", "")) / n, 6)
    distinct_frac = F.round(F.size(F.array_distinct("toks")) / n, 6)
    n_stop = F.size(F.filter("toks", lambda w: w.isin(*STOPWORDS)))
    sig = base.filter(n > 0).select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        n_stop.cast("bigint").alias("n_stopwords"),
        adj_dup_frac.alias("adjacent_dup_frac"),
        distinct_frac.alias("distinct_frac"),
    )
    return sig.withColumn(
        "passes",
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & F.col("mean_word_len").between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (F.col("n_stopwords") >= MIN_STOPWORDS)
        & (F.col("adjacent_dup_frac") <= MAX_ADJACENT_DUP_FRAC)
        & (F.col("distinct_frac") >= MIN_DISTINCT_FRAC),
    )


def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_gate(load_table(spark, sf_dir, "documents"))


CALIBRATED_KEEP_PCT = 0.2  # drop the bottom quintile PER SOURCE


def quality_percentile_by_source(docs: DataFrame) -> DataFrame:
    """Per-source percentile calibration of a quality signal
    (lexical diversity = distinct_frac from the Gopher signals).

    Why: a single global quality threshold systematically biases a
    multi-source corpus — boilerplate-heavy sources (legal, logs)
    score lower across the board than prose, so a global cutoff
    deletes whole domains instead of each domain's worst documents.
    Rank-normalizing WITHIN source makes "bottom 20%" mean the same
    thing everywhere (the CCNet/RefinedWeb-style per-domain bucket).

    Shape: one map stage for the signal, then the per-source
    percent_rank goes through `distrank.distributed_rank` (round 9;
    previously a plain per-source window — with O(10) sources each
    window partition was ~1/10 of the corpus sorted in ONE task):
    the signal value quantized to 4096 integral buckets is the
    monotone bucket key, rank uses RANK() semantics (ties share a
    rank, and equal values land in equal buckets so a tie group
    never straddles buckets), and percent_rank = (rank-1)/(n-1)
    from the rank plus the per-group count the helper already
    derives from its bucket totals. Value-identical to the plain
    percent_rank window the oracle states.
    """
    from searchengine_spark.operators.distrank import distributed_rank

    sig = gopher_gate(docs.select("doc_id", "text")).select(
        "doc_id", "distinct_frac"
    )
    # The rank helper's bucket-totals aggregate and its final join are
    # separate consumers of this frame; without a materialization the
    # tokenize-heavy signal evaluates TWICE (caught by the bench
    # budget gate). A bare .cache() here pinned executor storage for
    # the rest of the session (a library operator never sees "after
    # the consuming action" to unpersist — round-9 ADVICE); the
    # lineage cut materializes the slim 3-column frame instead, whose
    # blocks the ContextCleaner reclaims once the result frame is
    # dropped, and which upgrades to a reliable checkpoint under
    # $SPARK_GRAFT_PERSIST_DIR at build scale.
    from searchengine_spark.io import cut_lineage

    joined = cut_lineage(sig.join(docs.select("doc_id", "source"), "doc_id"))
    ranked = distributed_rank(
        joined,
        ["source"],
        [F.asc("distinct_frac")],
        F.least(
            F.lit(4095), F.floor(F.col("distinct_frac") * 4096)
        ).cast("bigint"),
        rank_name="_r",
        group_count_name="_gn",
        method="rank",
        # the signal upstream is tokenize-heavy; one shared Exchange
        # beats evaluating gopher_gate twice (bench-gate finding)
        pre_partition=True,
    )
    pct = F.round(
        F.when(
            F.col("_gn") > 1,
            (F.col("_r") - 1).cast("double") / (F.col("_gn") - 1),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return ranked.select(
        "doc_id",
        "source",
        "distinct_frac",
        pct.alias("quality_pct"),
        (pct >= CALIBRATED_KEEP_PCT).alias("keep"),
    )


def q_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_percentile_by_source(load_table(spark, sf_dir, "documents"))




def quantile_normalize_by_source(docs: DataFrame) -> DataFrame:
    """Quantile-normalize the quality signal ACROSS sources: each
    document's within-source rank percentile is mapped to the GLOBAL
    score distribution's value at that percentile.

    Per-source percent_rank (quality_percentile_by_source) makes
    thresholds comparable but destroys the score scale; quantile
    normalization (standard in cross-batch calibration) keeps a real
    score AND removes the per-source distribution shift: after it,
    every source's score histogram is (a subsample of) the global
    one, so one global threshold is simultaneously fair per-source
    and meaningful in score units.

    Exact distributed construction — no interpolation, no floats in
    the mapping: within-source RANK r of n_s (ties share), target
    global index idx = ((r-1) * (N-1)) div (n_s-1) (exact integer
    rational), and the normalized score is the global sorted
    multiset's value at idx (ties in the global ROW_NUMBER order
    carry equal values, so the value at an index is well-defined).
    Both rank passes run through the audited two-level
    distributed_rank; the mapping is ONE equi-join on idx.
    """
    from searchengine_spark.io import cut_lineage
    from searchengine_spark.operators.distrank import distributed_rank

    sig = gopher_gate(docs.select("doc_id", "text")).select(
        "doc_id", "distinct_frac"
    )
    joined = cut_lineage(sig.join(docs.select("doc_id", "source"), "doc_id"))
    bucket = F.least(F.lit(4095), F.floor(F.col("distinct_frac") * 4096)).cast(
        "bigint"
    )
    ranked = distributed_rank(
        joined,
        ["source"],
        [F.asc("distinct_frac")],
        bucket,
        rank_name="_r",
        group_count_name="_gn",
        method="rank",
        pre_partition=True,
    )
    glob = distributed_rank(
        joined,
        [],
        [F.asc("distinct_frac"), F.asc("doc_id")],
        bucket,
        rank_name="_g",
    ).select(
        (F.col("_g") - 1).alias("_gidx"),
        F.col("distinct_frac").alias("norm_score"),
    )
    n = joined.agg(F.count(F.lit(1)).alias("_n"))
    idx = F.when(
        F.col("_gn") > 1,
        F.expr("((_r - 1) * (_n - 1)) div (_gn - 1)"),
    ).otherwise(F.lit(0)).cast("bigint")
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("_gidx", idx)
        .join(glob, "_gidx")
        .select("doc_id", "source", "distinct_frac", "norm_score")
    )


def q_quality_quantile_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantile_normalize_by_source(load_table(spark, sf_dir, "documents"))


def top_bigram_repetition(docs: DataFrame) -> DataFrame:
    """Per-document most-frequent word bigram and the fraction of the
    document's word characters it accounts for (Gopher's
    "top-2-gram character fraction").

    Shape: materialize tokens (barrier), explode bigrams keyed by
    doc_id, count, then a doc_id-partitioned window argmax with a
    deterministic (count desc, bigram asc) tiebreak.
    """
    toked = ensure_min_partitions(docs).select(
        "doc_id", _raw_tokens(F.col("text")).alias("toks")
    )
    # Exchange barrier: `toks` feeds both the char total and the
    # bigram transform — without it Catalyst re-inlines the split
    # into every element_at (quadratic per doc).
    toked = toked.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    ).filter(F.size("toks") >= 2)
    exploded = toked.select(
        "doc_id",
        F.length(F.array_join("toks", "")).alias("tok_chars"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i + 1), F.element_at("toks", i + 2)
                ),
            )
        ).alias("bigram"),
    )
    counts = exploded.groupBy("doc_id", "tok_chars", "bigram").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("n_occurrences"), F.asc("bigram")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("bigram").alias("top_bigram"),
            "n_occurrences",
            F.round(
                F.col("n_occurrences")
                * (F.length("bigram") - 1)  # chars excluding the joining space
                / F.col("tok_chars"),
                6,
            ).alias("top_bigram_char_frac"),
        )
    )


def q_top_bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_bigram_repetition(load_table(spark, sf_dir, "documents"))


DUP_NGRAM_N = 5


def dup_ngram_char_fraction(docs: DataFrame, *, n: int = DUP_NGRAM_N) -> DataFrame:
    """Gopher's other repetition family: the fraction of a document's
    word characters covered by word n-grams that occur MORE THAN ONCE
    in the document (copy-paste/boilerplate detector; the top-bigram
    signal catches tight loops, this catches long repeated spans).

    Definition pinned here: sum over duplicated n-grams of
    occurrences x n-gram-chars, over total word chars, capped at 1.0
    (overlapping occurrences can over-count). Docs with >= n tokens
    get a row (0.0 when nothing repeats).

    Same explode -> (doc, ngram) count shape as top_bigram_repetition,
    then a per-doc conditional sum instead of an argmax window.
    """
    toked = ensure_min_partitions(docs).select(
        "doc_id", _raw_tokens(F.col("text")).alias("toks")
    )
    toked = toked.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    ).filter(F.size("toks") >= n)
    exploded = toked.select(
        "doc_id",
        F.length(F.array_join("toks", "")).alias("tok_chars"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("toks", i + j + 1) for j in range(n)]
                ),
            )
        ).alias("ngram"),
    )
    counts = exploded.groupBy("doc_id", "tok_chars", "ngram").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = counts.groupBy("doc_id", "tok_chars").agg(
        F.sum(
            F.when(
                F.col("c") >= 2, F.col("c") * (F.length("ngram") - (n - 1))
            ).otherwise(F.lit(0))
        ).alias("dup_chars")
    )
    return per_doc.select(
        "doc_id",
        F.round(
            F.least(F.col("dup_chars") / F.col("tok_chars"), F.lit(1.0)), 6
        ).alias("dup_ngram_char_frac"),
    )


def q_dup_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_ngram_char_fraction(load_table(spark, sf_dir, "documents"))


_RAW_TOK_SQL = sql_raw_tokens_expr("text")

QUERIES = {
    "text_gopher_gate": q_gopher_gate,
    "text_top_bigram_repetition": q_top_bigram_repetition,
    "text_dup_ngram_char_frac": q_dup_ngram_char_fraction,
    "text_quality_calibrated": q_quality_calibrated,
    "text_quality_quantile_normalized": q_quality_quantile_normalized,
}

ORACLES = {
    "text_gopher_gate": f"""
        WITH base AS (
          SELECT doc_id, {_RAW_TOK_SQL} AS toks FROM documents
        ), sig AS (
          SELECT doc_id,
                 len(toks) AS n_words,
                 round(length(array_to_string(toks, '')) * 1.0 / len(toks), 6) AS mean_word_len,
                 len(list_filter(toks, w -> w IN ({_STOP_SQL}))) AS n_stopwords,
                 CASE WHEN len(toks) >= 2 THEN
                   round(len(list_filter(list_transform(range(1, len(toks)),
                                                        i -> toks[i] = toks[i+1]),
                                         b -> b)) * 1.0 / (len(toks) - 1), 6)
                 ELSE 0.0 END AS adjacent_dup_frac,
                 round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_frac
          FROM base WHERE len(toks) > 0
        )
        SELECT *,
               (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                AND mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
                AND n_stopwords >= {MIN_STOPWORDS}
                AND adjacent_dup_frac <= {MAX_ADJACENT_DUP_FRAC}
                AND distinct_frac >= {MIN_DISTINCT_FRAC}) AS passes
        FROM sig
    """,
    "text_quality_calibrated": f"""
        WITH base AS (
          SELECT doc_id, {_RAW_TOK_SQL} AS toks FROM documents
        ), sig AS (
          SELECT doc_id,
                 round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_frac
          FROM base WHERE len(toks) > 0
        ), j AS (
          SELECT s.doc_id, d.source, s.distinct_frac,
                 round(percent_rank() OVER (
                   PARTITION BY d.source ORDER BY s.distinct_frac
                 ), 6) AS quality_pct
          FROM sig s JOIN documents d ON s.doc_id = d.doc_id
        )
        SELECT doc_id, source, distinct_frac, quality_pct,
               quality_pct >= {CALIBRATED_KEEP_PCT} AS keep
        FROM j
    """,
    "text_quality_quantile_normalized": f"""
        WITH base AS (
          SELECT doc_id, {_RAW_TOK_SQL} AS toks FROM documents
        ), sig AS (
          SELECT doc_id,
                 round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_frac
          FROM base WHERE len(toks) > 0
        ), j AS (
          SELECT s.doc_id, d.source, s.distinct_frac
          FROM sig s JOIN documents d ON s.doc_id = d.doc_id
        ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
        src AS (
          SELECT doc_id, source, distinct_frac,
                 CAST(rank() OVER (PARTITION BY source
                                   ORDER BY distinct_frac) AS BIGINT) AS r,
                 CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS gn
          FROM j
        ), gq AS (
          SELECT distinct_frac AS norm_score,
                 CAST(row_number() OVER (ORDER BY distinct_frac, doc_id) - 1
                      AS BIGINT) AS gidx
          FROM j
        )
        SELECT s.doc_id, s.source, s.distinct_frac, g.norm_score
        FROM src s
        CROSS JOIN nn
        JOIN gq g
          ON g.gidx = CASE WHEN s.gn > 1
                           THEN ((s.r - 1) * (nn.n - 1)) // (s.gn - 1)
                           ELSE 0 END
    """,
    "text_dup_ngram_char_frac": f"""
        WITH toked AS (
          SELECT doc_id, {_RAW_TOK_SQL} AS toks FROM documents
        ), ex AS (
          SELECT doc_id,
                 length(array_to_string(toks, '')) AS tok_chars,
                 unnest(list_transform(range(1, len(toks) - {DUP_NGRAM_N - 2}),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                             || ' ' || toks[i+3] || ' ' || toks[i+4])) AS ngram
          FROM toked WHERE len(toks) >= {DUP_NGRAM_N}
        ), counts AS (
          SELECT doc_id, tok_chars, ngram, COUNT(*) AS c
          FROM ex GROUP BY ALL
        ), per_doc AS (
          SELECT doc_id, tok_chars,
                 SUM(CASE WHEN c >= 2
                     THEN c * (length(ngram) - {DUP_NGRAM_N - 1}) ELSE 0 END) AS dup_chars
          FROM counts GROUP BY doc_id, tok_chars
        )
        SELECT doc_id,
               round(least(dup_chars * 1.0 / tok_chars, 1.0), 6) AS dup_ngram_char_frac
        FROM per_doc
    """,
    "text_top_bigram_repetition": f"""
        WITH toked AS (
          SELECT doc_id, {_RAW_TOK_SQL} AS toks FROM documents
        ), ex AS (
          SELECT doc_id,
                 length(array_to_string(toks, '')) AS tok_chars,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM toked WHERE len(toks) >= 2
        ), counts AS (
          SELECT doc_id, tok_chars, bigram, COUNT(*) AS n_occurrences
          FROM ex GROUP BY ALL
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY n_occurrences DESC, bigram ASC) AS rn
          FROM counts
        )
        SELECT doc_id, bigram AS top_bigram, n_occurrences,
               round(n_occurrences * (length(bigram) - 1) * 1.0 / tok_chars, 6)
                 AS top_bigram_char_frac
        FROM ranked WHERE rn = 1
    """,
}


# ---------------------------------------------------- unicode gate

# Multilingual variant of the Gopher gate (round 12, completing the
# unicode arc): the ASCII gate's stopword-evidence rule fails every
# non-English document by construction — correct for the reference's
# English-corpus parity, wrong for a multilingual 100 TB pipeline.
# This additive variant tokenizes on \p{L} runs and replaces the
# English-stopword rule with LANGUAGE-AGNOSTIC function-word
# evidence: max marker overlap across every UNICODE_LANG_MARKERS set
# >= MIN_STOPWORDS, OR a CJK script share >= CJK_SHARE_MIN (marker
# words cannot represent unsegmented text — for CJK docs the
# mean-word-length rule is also waived, since \p{L} runs are phrases,
# not words). Word-count, adjacent-dup, and distinct-fraction rules
# are language-agnostic and unchanged. Still one map stage.


def gopher_gate_unicode(docs: DataFrame) -> DataFrame:
    from searchengine_spark.text.langid import (
        _CJK_JAVA,
        CJK_SHARE_MIN,
        UNICODE_LANG_MARKERS,
    )

    base = ensure_min_partitions(docs).select(
        "doc_id", _raw_tokens(F.col("text"), unicode=True).alias("toks")
    )
    n = F.size("toks")
    adj_dups = F.size(
        F.filter(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda a, b: a == b,
            ),
            lambda x: x,
        )
    )
    adj_dup_frac = F.when(n >= 2, F.round(adj_dups / (n - 1), 6)).otherwise(
        F.lit(0.0)
    )
    mean_word_len = F.round(F.length(F.array_join("toks", "")) / n, 6)
    distinct_frac = F.round(F.size(F.array_distinct("toks")) / n, 6)
    distinct = F.array_distinct(F.col("toks"))
    marker_hits = F.greatest(
        *[
            F.size(
                F.array_intersect(
                    distinct, F.array(*[F.lit(w) for w in words])
                )
            )
            for _, words in sorted(UNICODE_LANG_MARKERS.items())
        ]
    )
    cjk_share = F.round(
        F.size(F.filter("toks", lambda w: w.rlike(_CJK_JAVA))) / n, 6
    )
    sig = base.filter(n > 0).select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        marker_hits.cast("bigint").alias("marker_hits"),
        cjk_share.alias("cjk_share"),
        adj_dup_frac.alias("adjacent_dup_frac"),
        distinct_frac.alias("distinct_frac"),
    )
    is_cjk = F.col("cjk_share") >= CJK_SHARE_MIN
    return sig.withColumn(
        "passes",
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & (
            is_cjk
            | F.col("mean_word_len").between(
                MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN
            )
        )
        & ((F.col("marker_hits") >= MIN_STOPWORDS) | is_cjk)
        & (F.col("adjacent_dup_frac") <= MAX_ADJACENT_DUP_FRAC)
        & (F.col("distinct_frac") >= MIN_DISTINCT_FRAC),
    )


def q_gopher_gate_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.index.unicode_search import with_unicode_suffix

    return gopher_gate_unicode(
        with_unicode_suffix(load_table(spark, sf_dir, "documents"))
    )


def _gate_unicode_sql() -> str:
    from searchengine_spark.index.unicode_search import _UDOCS_CTES
    from searchengine_spark.text.langid import (
        _CJK_RE2,
        CJK_SHARE_MIN,
        UNICODE_LANG_MARKERS,
    )
    from searchengine_spark.text.tokenizer import sql_raw_tokens_expr

    hits = ", ".join(
        f"len(list_intersect(toks_d, [{', '.join(chr(39) + w + chr(39) for w in words)}]))"
        for _, words in sorted(UNICODE_LANG_MARKERS.items())
    )
    udocs = _UDOCS_CTES[: _UDOCS_CTES.index(",\nutok AS (")]
    return f"""{udocs},
base AS (
  SELECT doc_id, {sql_raw_tokens_expr('text', unicode=True)} AS toks
  FROM udocs
),
sig AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_words,
         round(length(array_to_string(toks, '')) * 1.0 / len(toks), 6)
           AS mean_word_len,
         CAST(greatest({hits}) AS BIGINT) AS marker_hits,
         round(len(list_filter(toks, w -> regexp_matches(w, '{_CJK_RE2}')))
               * 1.0 / len(toks), 6) AS cjk_share,
         (CASE WHEN len(toks) >= 2 THEN
            round(len(list_filter(list_transform(range(1, len(toks)),
                                                 i -> toks[i] = toks[i+1]),
                                  b -> b)) * 1.0 / (len(toks) - 1), 6)
          ELSE 0.0 END) AS adjacent_dup_frac,
         round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_frac
  FROM (SELECT doc_id, toks, list_distinct(toks) AS toks_d FROM base)
  WHERE len(toks) > 0
)
SELECT *,
       (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS})
       AND (cjk_share >= {CJK_SHARE_MIN}
            OR mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN})
       AND (marker_hits >= {MIN_STOPWORDS} OR cjk_share >= {CJK_SHARE_MIN})
       AND adjacent_dup_frac <= {MAX_ADJACENT_DUP_FRAC}
       AND distinct_frac >= {MIN_DISTINCT_FRAC} AS passes
FROM sig
"""


QUERIES["text_gopher_gate_unicode"] = q_gopher_gate_unicode
ORACLES["text_gopher_gate_unicode"] = _gate_unicode_sql()
