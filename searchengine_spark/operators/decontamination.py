"""Benchmark decontamination — find training documents that share
n-gram content with a held-out eval set (the overlap check every
serious LLM data pipeline runs before training; cf. GPT-3 appendix C,
PaLM/Llama dedup-against-eval sections).

Semantics: a train doc is contaminated w.r.t. an eval doc if they
share >= MIN_SHARED distinct token k-shingles, counting only
DISCRIMINATIVE shingles (document frequency <= MAX_SHINGLE_DF over
the whole corpus). The df cap is essential at scale and for meaning:
boilerplate n-grams occur everywhere and are not contamination
evidence, and they're exactly the keys that would explode the join
(a shingle in f docs yields O(f^2) join rows).

Shape: reuses the cached tokenize->shingle frame shared with the
MinHash family (one scan feeds all dedup/decontam queries); the
overlap is an equi-join on the shingle string, keyed near-uniformly
AFTER the df cap, then a (train,eval) pair count. The eval set here
is a deterministic hash split standing in for real benchmark text —
swapping in an external eval corpus changes only the eval-side
input, not the topology.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.dedup import SHINGLE_K, _shingles
from searchengine_spark.operators.sampling import N_BUCKETS, _bucket_sql, hash_bucket
from searchengine_spark.text.tokenizer import sql_tokens_expr

EVAL_SALT = "evalset"
EVAL_FRACTION = 0.02
MAX_SHINGLE_DF = 10
MIN_SHARED = 2


def discriminative_shingles(
    shingles: DataFrame, *, max_shingle_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """(s) — the df-capped discriminative shingle set. Independent of
    the eval split (df counts ALL docs), so both decontam queries
    consume it VERBATIM — and the Bloom variant reads it on both its
    eval and train sides. The session cache in _session_keep makes
    that one corpus-wide aggregation instead of three per bench
    (guide §1.2 step 1); a production pipeline precomputes this table
    once per corpus snapshot alongside the index."""
    return (
        shingles.select(
            "doc_id", F.explode(F.array_distinct("shingles")).alias("s")
        )
        .groupBy("s")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .select("s")
    )


def contamination_pairs(
    shingles: DataFrame,
    *,
    eval_fraction: float = EVAL_FRACTION,
    salt: str = EVAL_SALT,
    max_shingle_df: int = MAX_SHINGLE_DF,
    min_shared: int = MIN_SHARED,
    keep: DataFrame | None = None,
) -> DataFrame:
    """(train_doc_id, eval_doc_id, n_shared) from a (doc_id,
    shingles) frame; eval membership by salted hash bucket."""
    cutoff = int(eval_fraction * N_BUCKETS)
    flat = shingles.select(
        "doc_id",
        (hash_bucket(F.col("doc_id"), salt=salt) < cutoff).alias("is_eval"),
        F.explode(F.array_distinct("shingles")).alias("s"),
    )
    if keep is None:
        keep = discriminative_shingles(shingles, max_shingle_df=max_shingle_df)
    flat = flat.join(keep, "s")
    train = flat.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc_id"), "s"
    )
    ev = flat.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc_id"), "s"
    )
    return (
        train.join(ev, "s")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _session_keep(
    spark: SparkSession, sf_dir: str, *, max_shingle_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Session-cached discriminative shingle set over the shared
    shingle cache (see discriminative_shingles). The df cap is part
    of the cache key (r13 ADVICE: a parameterized builder memoized
    under a parameter-blind tag silently returns the default build
    to a non-default caller)."""
    from searchengine_spark.io import session_cached

    return session_cached(
        spark,
        f"decontam-keep:{max_shingle_df}",
        sf_dir,
        lambda: discriminative_shingles(
            _shingles(spark, sf_dir), max_shingle_df=max_shingle_df
        ),
    )


def q_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return contamination_pairs(
        _shingles(spark, sf_dir), keep=_session_keep(spark, sf_dir)
    )


def bloom_contamination_pairs(
    shingles: DataFrame,
    *,
    eval_fraction: float = EVAL_FRACTION,
    salt: str = EVAL_SALT,
    max_shingle_df: int = MAX_SHINGLE_DF,
    min_shared: int = MIN_SHARED,
    keep: DataFrame | None = None,
) -> DataFrame:
    """contamination_pairs with the PRODUCTION-scale topology: the
    benchmark (eval) side's df-capped shingle set — small and fixed by
    construction, the GPT-3 appendix-C shape where the eval n-gram
    list fits one node — builds a Bloom filter (operators/bloom.py),
    and the corpus-side shingle stream is pruned MAP-SIDE by the
    membership test before it ever reaches the join exchanges. False
    positives pass the Bloom and die in the exact eval join, so the
    pair set is byte-identical to contamination_pairs and this query
    shares its DuckDB oracle verbatim.

    At 100 TB the win is the exchange: without the prefilter every
    df-capped train shingle shuffles to the join; with it only shingles
    that (probably) occur in the benchmark set do — typically a
    ~1e-3..1e-2 fraction. The corpus-wide df cap (`keep`) is the same
    table the MinHash family derives; a production pipeline
    precomputes it once per corpus snapshot alongside the index."""
    from searchengine_spark.operators.bloom import bloom_build, bloom_prefilter

    cutoff = int(eval_fraction * N_BUCKETS)
    flat = shingles.select(
        "doc_id",
        (hash_bucket(F.col("doc_id"), salt=salt) < cutoff).alias("is_eval"),
        F.explode(F.array_distinct("shingles")).alias("s"),
    )
    if keep is None:
        keep = discriminative_shingles(shingles, max_shingle_df=max_shingle_df)
    # ev is read twice — the Bloom build aggregates it eagerly, the
    # exact join reads it again — and it is tiny by construction
    # (eval_fraction of docs, df-capped), so persist it.
    ev = (
        flat.filter(F.col("is_eval"))
        .join(keep, "s")
        .select(F.col("doc_id").alias("eval_doc_id"), "s")
        .persist()
    )
    words, m_bits = bloom_build(ev, "s")
    train = bloom_prefilter(
        flat.filter(~F.col("is_eval")).select(
            F.col("doc_id").alias("train_doc_id"), "s"
        ),
        "s",
        words,
        m_bits,
    ).join(keep, "s")
    from searchengine_spark.io import cut_and_release

    return cut_and_release(
        train.join(ev, "s")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared),
        ev,
    )


def q_bloom_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_contamination_pairs(
        _shingles(spark, sf_dir), keep=_session_keep(spark, sf_dir)
    )


_TOKS = sql_tokens_expr("text")
_EVAL_CUT = int(EVAL_FRACTION * N_BUCKETS)

QUERIES = {
    "decontam_train_eval_overlap": q_contamination_pairs,
    "decontam_bloom_prefilter": q_bloom_contamination_pairs,
}

ORACLES = {
    "decontam_train_eval_overlap": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
          FROM toks WHERE len(t) >= {SHINGLE_K}
        ),
        keep AS (
          SELECT s FROM sh GROUP BY s
          HAVING COUNT(DISTINCT doc_id) <= {MAX_SHINGLE_DF}
        ),
        tagged AS (
          SELECT doc_id, s,
                 {_bucket_sql("doc_id", EVAL_SALT)} < {_EVAL_CUT} AS is_eval
          FROM sh JOIN keep USING (s)
        )
        SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id,
               COUNT(*) AS n_shared
        FROM tagged tr JOIN tagged ev USING (s)
        WHERE NOT tr.is_eval AND ev.is_eval
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_SHARED}
    """,
}

# Byte-identical result by construction (Bloom false positives die in
# the exact eval join), so the scale-path variant shares the oracle.
ORACLES["decontam_bloom_prefilter"] = ORACLES["decontam_train_eval_overlap"]
