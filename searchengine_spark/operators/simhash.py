"""SimHash near-duplicate fingerprints (Charikar, STOC 2002).

60-bit signatures (fits signed 64-bit in every engine): each token
hashes to a 60-bit integer (md5 prefix, as in dedup.py); bit i of the
document signature is the sign of the tf-weighted vote
sum_tokens(tf * (bit_i(h)*2 - 1)).

Dataflow (one shuffle): explode tokens -> groupBy(doc_id, token-hash)
tf -> groupBy(doc_id) with 60 conditional-sum vote columns ->
reassemble bits. Candidate pairs come from banding the signature
(4 bands x 15 bits) and equi-joining on band values — the same
LSH-join shape as MinHash, never O(n^2). Verification = popcount of
XOR (native bit_count in Spark and DuckDB).

Fully deterministic -> DuckDB oracle twins for both signatures and
pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.io import ensure_min_partitions, load_table
from searchengine_spark.text.tokenizer import sql_tokens_expr, tokens_column

N_BITS = 60
N_BANDS = 4
BAND_BITS = N_BITS // N_BANDS  # 15
HAMMING_MAX = 12


def token_hash_expr(col):
    """60-bit md5-prefix hash of a token (string Column) — identical
    to the shingle hash in dedup.py before the field reduction."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")


def simhash_signatures(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — one row per doc with >= 1 token.

    Single shuffle: tf-weighted bit votes equal per-OCCURRENCE +/-1
    votes (sum over words of tf*sign == sum over occurrences of
    sign), so the (doc_id, word) pre-aggregation the textbook
    formulation uses is skipped entirely — explode -> hash ->
    groupBy(doc_id) with map-side partial aggregation.
    """
    toked = ensure_min_partitions(docs).select(
        F.col("doc_id"), tokens_column(text_col).alias("toks")
    )
    occurrences = toked.select(
        "doc_id", F.explode("toks").alias("word")
    ).select("doc_id", token_hash_expr(F.col("word")).alias("h"))
    votes = occurrences.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
            ).alias(f"v{i}")
            for i in range(N_BITS)
        ]
    )
    sig = votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                for i in range(N_BITS)
            ],
            F.lit(0),
        ).cast("bigint").alias("simhash"),
    )
    return sig


def simhash_bands(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, band_val) — 15-bit slices for the LSH join."""
    mask = (1 << BAND_BITS) - 1
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * BAND_BITS)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for b in range(N_BANDS)
    ]
    return signatures.select(
        "doc_id", F.explode(F.array(*bands)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_val")


def simhash_neardup_pairs(signatures: DataFrame, *, max_hamming: int = HAMMING_MAX) -> DataFrame:
    """Candidate pairs sharing a band, verified by Hamming distance."""
    bands = simhash_bands(signatures)
    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sig_a = signatures.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    sig_b = signatures.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------- queries

# Signatures are shared by the signature and pair queries (same
# materialize-once policy as the dedup shingle cache).


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.io import session_cached

    return session_cached(
        spark, "simhash-sigs", sf_dir,
        lambda: simhash_signatures(load_table(spark, sf_dir, "documents")),
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_neardup_pairs(
        q_simhash_signatures(spark, sf_dir)
    )


# --------------------------------------------------------------- oracles

def _sig_sql() -> str:
    toks = sql_tokens_expr("text")
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS v{i}"
        for i in range(N_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(N_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS word FROM documents
),
tf AS (
  SELECT doc_id,
         ('0x' || substr(md5(word), 1, 15))::BIGINT AS h,
         count(*)::BIGINT AS tf
  FROM tok GROUP BY doc_id, word
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM tf GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
)
"""


_MASK = (1 << BAND_BITS) - 1
_BANDS_SQL = ",\n    ".join(
    f"({b}, (simhash >> {b * BAND_BITS}) & {_MASK})" for b in range(N_BANDS)
)

QUERIES = {
    "dedup_simhash_signatures": q_simhash_signatures,
    "dedup_simhash_pairs": q_simhash_pairs,
}

ORACLES = {
    "dedup_simhash_signatures": f"{_sig_sql()} SELECT doc_id, simhash FROM sig",
    "dedup_simhash_pairs": f"""{_sig_sql()},
        bands AS (
          SELECT doc_id, b.band, b.band_val
          FROM sig, LATERAL (VALUES
            {_BANDS_SQL}
          ) AS b(band, band_val)
        ),
        cand AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM bands l JOIN bands r
            ON l.band = r.band AND l.band_val = r.band_val
           AND l.doc_id < r.doc_id
        )
        SELECT doc_a, doc_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM cand
        JOIN sig a ON a.doc_id = doc_a
        JOIN sig b ON b.doc_id = doc_b
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
}
