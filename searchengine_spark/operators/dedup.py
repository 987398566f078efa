"""Deduplication operators for large-corpus curation.

Three families, all shuffle-on-hash (the only scalable shape):

- exact: md5 of the raw text; groupBy hash. One shuffle keyed by a
  uniformly distributed 128-bit hash — no skew by construction.
- near-dup via MinHash + LSH banding: shingle -> per-hash-function
  min -> band signatures -> candidates join on (band, band_hash).
  At 100 TB, candidate generation is a self-equi-join on band_hash
  (uniform key), NOT an O(n^2) cross join.
- SimHash (in simhash_bits/q via md5 bit votes) for
  Hamming-style near-dup on token multisets.

Determinism: every hash is md5 over explicit strings, so Spark and
DuckDB agree bit-for-bit — the whole MinHash/LSH path is
oracle-checkable SQL, no RNG involved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from searchengine_spark.io import (
    cut_lineage,
    default_persist_dir,
    ensure_min_partitions,
    load_table,
    materialize_barrier as _barrier,
    session_cached,
)
from searchengine_spark.text.tokenizer import (
    sql_raw_tokens_expr,
    sql_tokens_expr,
    tokens_column,
)

NUM_HASHES = 16
BAND_SIZE = 4  # -> 4 bands
SHINGLE_K = 3

# MinHash integer-hash family: h_i(x) = (A_i * x + B_i) mod MOD over a
# 31-bit prime field. One md5 per shingle (not per hash function) —
# the base 60-bit integer comes from the first 15 hex chars of
# md5(shingle), so every engine reproduces it exactly.
MINHASH_MOD = 2_147_483_647  # 2^31 - 1 (prime)
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (1_203_077_357, 528_734_109), (1_827_450_343, 93_406_133),
    (695_402_117, 1_442_689_063), (1_549_331_159, 320_581_723),
    (874_113_077, 1_906_734_883), (2_011_237_231, 44_567_891),
    (432_198_761, 765_432_109), (1_111_111_121, 987_654_323),
    (1_777_777_783, 135_792_467), (246_813_579, 1_357_924_681),
    (1_928_374_655, 564_738_291), (847_563_029, 1_029_384_757),
    (1_594_268_303, 726_351_849), (369_258_147, 1_472_583_691),
    (1_086_421_357, 217_365_409), (1_650_342_879, 838_201_567),
)


def exact_dedup_groups(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Group identical texts; emit hash, copy count, canonical id."""
    return (
        docs.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_hash"), "doc_id"
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def shingles_column(tokens: Column, k: int = SHINGLE_K) -> Column:
    """k-token shingles as space-joined strings (array Column).

    Total: arrays shorter than k yield an EMPTY array. Without the
    guard, F.sequence(0, negative) produces a descending sequence and
    element_at(tokens, 0) throws at runtime.
    """
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j + 1) for j in range(k)]
        ),
    )
    return F.when(F.size(tokens) >= k, shingles).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(shingles: Column) -> Column:
    """Hash each shingle ONCE: first 60 bits of md5 -> int, reduced
    into the 31-bit prime field. Everything downstream is integer
    arithmetic — ~16x fewer md5 evaluations than salting md5 per
    hash function."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        % MINHASH_MOD,
    )


def minhash_signature_cols(hashes: Column, num_hashes: int = NUM_HASHES) -> list[Column]:
    """num_hashes MinHash values over pre-hashed shingle ints:
    sig_i = min_x (A_i*x + B_i) mod MOD. A_i*x < 2^62 — no overflow."""

    def affine(i: int):
        a, b = MINHASH_COEFFS[i]
        # NB: ONE-argument lambda — F.transform treats a second lambda
        # parameter as the array index.
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_MOD

    return [
        F.array_min(F.transform(hashes, affine(i))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]




def shingle_frame(
    docs: DataFrame, *, text_col: str = "text", persist_dir: str | None = None
) -> DataFrame:
    """(doc_id, shingles array) for docs with >= SHINGLE_K tokens.

    The min-length filter is phrased on the materialized token array
    BETWEEN the barrier and the shingle projection. Filtering on
    size(shingles) after the projection looks equivalent, but
    predicate pushdown substitutes the full shingle expression into
    the filter and sinks it to the scan stage — single-threaded AND
    quadratic (measured 12s vs 0.7s at sf0.1).

    ``persist_dir`` (default $SPARK_GRAFT_PERSIST_DIR): route the
    barrier through a persisted parquet intermediate — map-only write
    + scan, no corpus-wide Exchange — the build-scale default for a
    100 TB token stream.
    """
    persist_dir = persist_dir if persist_dir is not None else default_persist_dir()
    toked = ensure_min_partitions(docs).select(
        F.col("doc_id"), tokens_column(text_col).alias("toks")
    )
    return (
        _barrier(toked, persist_dir, tag="tokens")
        .filter(F.size("toks") >= SHINGLE_K)
        .select("doc_id", shingles_column(F.col("toks")).alias("shingles"))
    )


def minhash_bands(
    docs: DataFrame | None = None,
    *,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    shingles: DataFrame | None = None,
    persist_dir: str | None = None,
) -> DataFrame:
    """(doc_id, band, band_hash) — LSH bucketing table.

    Docs with fewer than SHINGLE_K tokens are excluded (no shingle).
    Pass a (cached) ``shingles`` frame to share the tokenize/shingle
    scan with a downstream verification stage. ``persist_dir``: see
    :func:`shingle_frame` — with it set, the whole band build has NO
    corpus-wide Exchange (scan -> write, scan -> write, scan).
    """
    persist_dir = persist_dir if persist_dir is not None else default_persist_dir()
    sh = (
        shingles
        if shingles is not None
        else shingle_frame(docs, text_col=text_col, persist_dir=persist_dir)
    )
    # Barrier again: without it the per-shingle md5 expression is
    # inlined into all 16 signature mins (16x the hashing work).
    hashed = _barrier(
        sh.select("doc_id", shingle_hashes(F.col("shingles")).alias("hashes")),
        persist_dir,
        tag="shingle_hashes",
    )
    with_sig = hashed.select(
        "doc_id", *minhash_signature_cols(F.col("hashes"), num_hashes)
    )
    n_bands = num_hashes // band_size

    def band_hash(b: int):
        # Polynomial combine of the band's signatures: sigs < 2^31 so
        # the 31-base polynomial stays < 2^46 — exact in any BIGINT.
        h = F.col(f"sig_{b * band_size}")
        for j in range(1, band_size):
            h = h * 31 + F.col(f"sig_{b * band_size + j}")
        return h

    bands = [
        F.struct(F.lit(b).alias("band"), band_hash(b).alias("band_hash"))
        for b in range(n_bands)
    ]
    return with_sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


# Production default for the hot-bucket guard, shared by every
# registry entry point that enumerates candidate pairs (the standalone
# dedup queries, the centrality/triangle graph family, and — via
# pipeline.CURATE_MAX_BUCKET / lsh_eval.AUDIT_MAX_BUCKET — the curate
# chain and the recall audit). 64 keeps recall on real near-dup groups
# (which are small once exact dedup ran upstream) while bounding the
# per-bucket pair output at 64^2/2; anything bigger is templated
# boilerplate that needs a policy, not pair enumeration. Uncapped is
# OPT-IN (max_bucket=None), never a default — the round-7 verdict's
# O(B^3) triangle hazard was exactly an uncapped default reaching the
# graph queries.
DEFAULT_MAX_BUCKET = 64


def neardup_candidate_pairs(
    bands: DataFrame, *, max_bucket: int | None = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Self-join on (band, band_hash): the LSH candidate generation.

    At scale this is an equi-join on a uniform 128-bit key — the
    shuffle is balanced for DISTINCT content, and no pair outside a
    shared bucket is ever materialized. Output: distinct
    (doc_a < doc_b) pairs.

    ``max_bucket`` is the hot-bucket guard: B near-identical docs
    (templated boilerplate that survives exact dedup) share every
    band bucket and emit B²/2 pairs from a single key — quadratic
    OUTPUT that no join strategy (AQE splits partitions, not keys)
    can bound. Buckets holding more than ``max_bucket`` docs are
    excluded from the pair join entirely; surface them loudly with
    :func:`hot_buckets` (same counters pattern as
    ``pipeline.curate_with_metrics``) and route them to a dedicated
    boilerplate policy (cluster-by-exact-prefix, keep-one, or manual
    review) instead of pair enumeration. Recall on normal-sized
    groups is untouched: a true near-dup pair of docs that are not
    boilerplate shares SOME bucket of size <= max_bucket with high
    probability, and exact dedup upstream has already collapsed
    byte-identical copies. The default is CAPPED at DEFAULT_MAX_BUCKET
    (the production shape; every oracle mirrors the cap with a
    sized/keepb CTE so parity holds on any corpus); pass
    ``max_bucket=None`` explicitly for the uncapped research path.

    The bucket-size count reuses the join's own hash partitioning:
    the window count and the self-join key the same (band, band_hash)
    columns, so Catalyst plans ONE Exchange feeding both.
    """
    if max_bucket is not None:
        w = Window.partitionBy("band", "band_hash")
        bands = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= F.lit(max_bucket))
            .drop("_bsz")
        )
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def hot_buckets(bands: DataFrame, max_bucket: int) -> DataFrame:
    """(band, band_hash, n_docs) for LSH buckets EXCEEDING the cap —
    the loud-metrics companion to ``neardup_candidate_pairs(...,
    max_bucket=...)``. Anything reported here was excluded from pair
    generation and needs a boilerplate policy, not silence. One keyed
    aggregation; at 100 TB the output is tiny (hot keys are rare by
    definition) and lands on the driver/monitoring sink safely.
    """
    return (
        bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > F.lit(max_bucket))
    )


def jaccard_pairs(
    docs: DataFrame | None,
    pairs: DataFrame,
    *,
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (verification stage).

    Joins the (small) candidate set back to per-doc shingle sets;
    array_intersect/union are per-row ops — no extra shuffle beyond
    the two joins.
    """
    base = shingles if shingles is not None else shingle_frame(docs, text_col=text_col)
    sh = base.select("doc_id", F.array_distinct("shingles").alias("sh"))
    return (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
    )


def incremental_neardup_pairs(
    new_docs: DataFrame,
    existing_bands: DataFrame,
    *,
    text_col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an EXISTING corpus,
    without re-banding the corpus: band only the new docs and
    equi-join against the persisted band table.

    This is the append-time dedup shape at 100 TB — the full self-join
    cost is paid once at bootstrap; each incremental batch costs
    O(|batch|) banding plus a join keyed on the uniform band hash.
    Pairs within the new batch itself are also caught (the new bands
    participate on both sides). Output: (doc_a < doc_b) distinct, with
    doc_a/doc_b ordering independent of which side is 'new'.

    ``max_bucket`` applies the same hot-bucket guard as the batch path,
    measured on the COMBINED bucket size (batch + corpus) — exactly the
    size the bootstrap self-join would have seen, so a boilerplate
    bucket that is hot in aggregate is excluded even when each
    increment alone is small. One extra keyed aggregate over the union;
    the join keys are unchanged.
    """
    # cache: new_bands feeds BOTH join inputs below; uncached, the
    # tokenize->shingle->MinHash pipeline for the batch would run twice.
    new_bands = minhash_bands(new_docs, text_col=text_col).cache()
    all_bands = existing_bands.unionByName(new_bands)
    if max_bucket is not None:
        keep = (
            all_bands.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= F.lit(max_bucket))
            .select("band", "band_hash")
        )
        all_bands = all_bands.join(keep, ["band", "band_hash"], "left_semi")
        new_bands = new_bands.join(keep, ["band", "band_hash"], "left_semi")
    new_only = new_bands.select(
        F.col("doc_id").alias("n_id"), "band", "band_hash"
    )
    return (
        new_only.join(
            all_bands.select(F.col("doc_id").alias("o_id"), "band", "band_hash"),
            ["band", "band_hash"],
        )
        .filter(F.col("n_id") != F.col("o_id"))
        .select(
            F.least("n_id", "o_id").alias("doc_a"),
            F.greatest("n_id", "o_id").alias("doc_b"),
        )
        .distinct()
    )


CROSS_DOC_SHINGLE_K = 10  # tokens per positional shingle (Lee et al. use
#                           50 BPE tokens; scaled to the short synthetic docs)
CROSS_DOC_DF_CAP = 20     # drop shingles present in more docs (boilerplate)


def cross_doc_spans(
    docs: DataFrame,
    *,
    k: int = CROSS_DOC_SHINGLE_K,
    df_cap: int = CROSS_DOC_DF_CAP,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document verbatim-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    every maximal run of >= k consecutive tokens shared verbatim
    BETWEEN two documents, with its position in each. Complements
    the within-doc dup_ngram fraction (text/quality.py) and the
    train-vs-eval decontamination join (decontamination.py).

    Output: (doc_a < doc_b, start_a, start_b, span_tokens) — one row
    per maximal shared span occurrence pair.

    Scale shape (100 TB):
    - positional k-shingles are built MAP-SIDE from each doc's token
      array (transform over sequence — no explode-then-window, no
      shuffle to form shingles);
    - a df-cap drops boilerplate shingles appearing in more than
      df_cap docs BEFORE the pair join (the same blowup control as
      decontamination.py); candidates come from an equi-join on a
      uniform 128-bit hash, never an all-pairs comparison;
    - matching positions chain into maximal spans with one shuffle
      keyed by (doc_a, doc_b, diagonal): consecutive positions on a
      diagonal are one verbatim span (gaps-and-islands via
      pos - row_number). A df-capped interior shingle can split a
      boilerplate-crossing span in two — the documented trade for
      killing the hot-shingle join blowup.
    """
    from pyspark.sql.window import Window

    from searchengine_spark.text.tokenizer import raw_tokens_column

    toks = docs.select(
        "doc_id", raw_tokens_column(text_col).alias("toks")
    ).filter(F.size("toks") >= k)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(toks) - {k}), i -> "
                f"struct(i AS pos, concat_ws(' ', slice(toks, i + 1, {k})) AS shingle))"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.pos").cast("long").alias("pos"),
        F.md5(F.col("s.shingle").cast("binary")).alias("sh_hash"),
    )
    # Persisted: sh (an md5 per positional shingle occurrence) feeds
    # the df aggregation AND the candidate join; cand (df-capped,
    # small by construction) feeds BOTH sides of the pair self-join.
    # Left lazy the tokenize+md5 scan re-executes 3-4x per result
    # (guide §5 caching note; §1.2 step 1). Stays persisted — the
    # result is session-cached by _spans, so these pin once per
    # session like the shingle cache.
    sh = sh.persist()
    shared = (
        sh.groupBy("sh_hash")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("sh_hash")
    )
    cand = sh.join(shared, "sh_hash").persist()
    pairs = (
        cand.alias("a")
        .join(cand.alias("b"), "sh_hash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    out = (
        pairs.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
        .withColumn("island", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k)).cast("long").alias("span_tokens"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )
    from searchengine_spark.io import cut_and_release

    return cut_and_release(out, sh, cand)


def remove_cross_doc_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    *,
    k: int = CROSS_DOC_SHINGLE_K,
    df_cap: int = CROSS_DOC_DF_CAP,
    text_col: str = "text",
) -> DataFrame:
    """Excise cross-document verbatim spans from the corpus (the
    second half of Lee et al. 2022: detection finds the shared spans,
    removal keeps ONE occurrence). Policy: canonical-keep-lowest —
    for every matched pair the span text survives in the lower
    doc_id and is cut from the higher one.

    Output: (doc_id, clean_text, n_tokens, n_removed_tokens) for
    every input document (clean_text '' when everything was cut or
    the doc had no tokens).

    Scale shape: cut ranges come from the span table keyed by the
    victim doc_id; the membership test is an equi-join on doc_id
    with a positional range residual (the same interval-join shape
    as rel_interval_clicks_before_purchase — never a cartesian), a
    distinct to collapse overlapping ranges, one anti-join, and one
    ordered re-assembly agg. Everything is per-doc keyed; no
    corpus-wide fan-out.
    """
    from searchengine_spark.text.tokenizer import raw_tokens_column

    if spans is None:
        spans = cross_doc_spans(docs, k=k, df_cap=df_cap, text_col=text_col)
    cuts = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("cut_start"),
        (F.col("start_b") + F.col("span_tokens")).alias("cut_end"),
    )
    toks = docs.select(
        "doc_id", F.posexplode(raw_tokens_column(text_col)).alias("pos", "w")
    )
    removed = (
        toks.join(cuts, "doc_id")
        .filter((F.col("pos") >= F.col("cut_start")) & (F.col("pos") < F.col("cut_end")))
        .select("doc_id", "pos")
        .distinct()
    )
    kept = toks.join(removed, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    n_cut = removed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed_tokens")
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .join(n_cut, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_removed_tokens", F.lit(0)).cast("long").alias("n_removed_tokens"),
        )
    )


def _star_components(sym: DataFrame, *, max_rounds: int = 50) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) —
    converges in O(log^2 n) rounds on ANY graph, including the
    adversarial long-chain case where per-round min-label propagation
    needs diameter-many rounds.

    Each round: large-star points every node's larger neighbors at
    the minimum of its closed neighborhood; small-star then contracts
    each node and its smaller neighbors onto their minimum. The fixed
    point is a set of stars (node -> component root).

    Input ``sym``: symmetric (src,dst) edge set. Output: (node,
    component) for every node appearing in sym.
    """
    edges = cut_lineage(
        sym.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    all_nodes = sym.select(F.col("src").alias("node")).distinct()
    for _ in range(max_rounds):
        # Large-star: neighborhoods in both directions; m(u) = min of
        # the closed neighborhood; every LARGER neighbor re-points at m.
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        lm = both.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
        large = (
            both.join(lm, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: edges now point large -> small; contract each
        # node and all its smaller neighbors onto their minimum.
        sm = large.groupBy("u").agg(F.min("v").alias("m"))
        small = cut_lineage(  # cut lineage each round
            large.join(sm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(sm.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Fixed point: the edge set stopped changing (set equality via
        # two anti-joins; both sides are checkpointed and tiny relative
        # to the corpus).
        if (
            small.exceptAll(edges).limit(1).count() == 0
            and edges.exceptAll(small).limit(1).count() == 0
        ):
            edges = small
            break
        edges = small
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds"
        )
    # Stars: u -> root v; roots and singletons label themselves.
    roots = edges.groupBy("u").agg(F.min("v").alias("component"))
    return all_nodes.join(
        roots.select(F.col("u").alias("node"), "component"), "node", "left"
    ).select("node", F.coalesce("component", F.col("node")).alias("component"))


def connected_components(
    edges: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) over an undirected edge set — min-label
    propagation, the iterative step dedup clustering needs to turn
    pairwise matches into duplicate CLUSTERS (A~B and B~C must group
    A,C together even though they never matched directly).

    Each round: every node takes the min label among itself and its
    neighbors; converged when nothing changes. Rounds needed = graph
    diameter — near-dup clusters are tiny (a handful of docs), so
    this terminates in 2-4 rounds. If the diameter exceeds
    ``max_iterations`` (adversarial chains), the loop hands off to
    the large-star/small-star contraction (:func:`_star_components`),
    which converges in O(log^2 n) rounds on any graph instead of
    aborting.

    Deterministic: min-label has a unique fixed point independent of
    execution/iteration order (and star contraction reaches the same
    min-root labeling).
    """
    sym = cut_lineage(
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        # materialize once: every iteration joins against sym, and
        # without the checkpoint each round would re-run the entire
        # upstream edge pipeline (tokenize->shingle->MinHash->LSH for
        # the dedup caller) diameter-many times.
    )
    labels = cut_lineage(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iterations):
        nbr = sym.join(labels, sym.dst == labels.node).select(
            F.col("src").alias("node"), F.col("component")
        )
        new_labels = cut_lineage(  # cut lineage each round
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Diameter exceeds the bound: switch to star contraction
        # rather than aborting (same fixed point, O(log^2 n) rounds).
        return _star_components(sym)
    return labels


# ------------------------------------------------------------- queries

# One cached shingle frame per (session, sf_dir): the tokenize ->
# shingle scan is the dominant cost of every MinHash query, and the
# dedup family (bands, pairs, jaccard) shares it — same
# materialize-once policy as the index cache in index/queries.py.


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_cached(
        spark, "shingles", sf_dir,
        lambda: shingle_frame(load_table(spark, sf_dir, "documents")),
    )


def _bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached LSH banding table over the cached shingles.

    Every registry consumer of the default banding (the standalone
    dedup queries, the graph/centrality family, the recall audit)
    previously re-derived bands from the shingle cache per query —
    re-hashing NUM_HASHES signatures per doc each time. Same
    materialize-once policy as `_shingles` (r13 optimization round;
    the first consumer in a session pays the build, the rest reuse)."""
    return session_cached(
        spark, "minhash-bands", sf_dir,
        lambda: minhash_bands(shingles=_shingles(spark, sf_dir)),
    )


def session_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public session-shared LSH band table (r13 ADVICE: streaming/
    replay.py imported the private _bands, coupling the streaming
    module to another module's internals)."""
    return _bands(spark, sf_dir)


def _capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached DEFAULT_MAX_BUCKET candidate pairs — the shared
    input of the pair/centrality/audit family (8 registry queries
    previously re-ran the band self-join + distinct each)."""
    return session_cached(
        spark, "capped-cand-pairs", sf_dir,
        lambda: neardup_candidate_pairs(_bands(spark, sf_dir)),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


def q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bands(spark, sf_dir)


def q_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _capped_pairs(spark, sf_dir)


def q_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters over the LSH candidate pairs:
    (doc_id, component) where component = min doc_id reachable
    through the match graph."""
    pairs = _capped_pairs(spark, sf_dir)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles(spark, sf_dir)
    pairs = _capped_pairs(spark, sf_dir)
    return jaccard_pairs(None, pairs, shingles=sh)


def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the
    number of agreeing MinHash signature slots (whose expectation
    over the hash family is NUM_HASHES * Jaccard) next to the EXACT
    shingle Jaccard. Both columns are deterministic integer/md5
    arithmetic, so the audit hash-checks exactly — this is the QA
    frame that catches a broken hash family, a signature computed
    over the wrong shingle set, or a banding bug inflating agreement,
    none of which the recall audit alone can localize. Cost: the
    candidate set joined twice against vocabulary-bounded per-doc
    frames — verification-stage sized, never corpus x corpus."""
    sh = _shingles(spark, sf_dir)
    pairs = _capped_pairs(spark, sf_dir)
    sigs = sh.select(
        "doc_id", shingle_hashes(F.col("shingles")).alias("hashes")
    ).select(
        "doc_id",
        F.array(*minhash_signature_cols(F.col("hashes"))).alias("sig"),
    )
    matched = (
        jaccard_pairs(None, pairs, shingles=sh)
        .join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return matched.select(
        "doc_a", "doc_b", agree.alias("n_sig_match"), "jaccard"
    ).orderBy("doc_a", "doc_b")


INCR_NEW_FRACTION = 0.10


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-time dedup, driver-checked: a deterministic 10% of docs
    plays the 'new batch', the rest the persisted corpus. Bands are
    built for the batch ONLY and equi-joined against the corpus band
    table — O(batch) work. The oracle states the correctness
    contract: exactly the full-corpus LSH pairs touching >= 1 new
    doc, nothing else."""
    from searchengine_spark.operators.sampling import N_BUCKETS, hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket(F.col("doc_id"), salt="incr") < int(
        INCR_NEW_FRACTION * N_BUCKETS
    )
    existing_bands = minhash_bands(docs.filter(~is_new))
    return incremental_neardup_pairs(docs.filter(is_new), existing_bands)


# ------------------------------------------------------------- oracles

def _sig_sql_cols(num_hashes: int = NUM_HASHES) -> str:
    return ",\n         ".join(
        "list_aggregate(list_transform(hashes, x -> (({a}::BIGINT * x + {b}) % {m})), 'min')"
        " AS sig_{i}".format(a=MINHASH_COEFFS[i][0], b=MINHASH_COEFFS[i][1], m=MINHASH_MOD, i=i)
        for i in range(num_hashes)
    )


def _band_hash_sql(b: int, band_size: int = BAND_SIZE) -> str:
    expr = f"sig_{b * band_size}"
    for j in range(1, band_size):
        expr = f"({expr} * 31 + sig_{b * band_size + j})"
    return expr


def _bands_sql(num_hashes: int = NUM_HASHES, band_size: int = BAND_SIZE) -> str:
    toks = sql_tokens_expr("text")
    n_bands = num_hashes // band_size
    band_rows = ",\n    ".join(
        f"({b}, {_band_hash_sql(b, band_size)})" for b in range(n_bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
  FROM toks WHERE len(t) >= {SHINGLE_K}
),
hashed AS (
  SELECT doc_id,
         list_transform(shingles,
                        s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_MOD}) AS hashes
  FROM sh
),
sig AS (
  SELECT doc_id,
         {_sig_sql_cols(num_hashes)}
  FROM hashed
),
bands AS (
  SELECT doc_id, b.band, b.band_hash
  FROM sig, LATERAL (VALUES
    {band_rows}
  ) AS b(band, band_hash)
)
"""


_BANDS_CTE = _bands_sql()

# DuckDB mirror of the DEFAULT_MAX_BUCKET hot-bucket guard — appended
# directly after _BANDS_CTE by every oracle whose Spark twin calls
# neardup_candidate_pairs with the capped default. Same sized/keepb CTE
# shape the round-7 curate oracles proved (pipeline.py): parity holds
# on ANY corpus, including one where the cap binds, not just the test
# SFs whose buckets happen to stay under it.
_CAPPED_CAND_CTE = f""",
    sized AS (
      SELECT doc_id, band, band_hash,
             COUNT(*) OVER (PARTITION BY band, band_hash) AS bsz
      FROM bands
    ),
    keepb AS (
      SELECT doc_id, band, band_hash FROM sized WHERE bsz <= {DEFAULT_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM keepb l JOIN keepb r
        ON l.band = r.band AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
    )"""

_SIG_MATCH_TERMS = " + ".join(
    f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END"
    for i in range(NUM_HASHES)
)



def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one cached span table per (session, sf_dir): detection feeds both
    # the span query and the removal query (same policy as the index /
    # shingle caches).
    return session_cached(
        spark, "cross-doc-spans", sf_dir,
        lambda: cross_doc_spans(load_table(spark, sf_dir, "documents")),
    )


def q_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spans(spark, sf_dir)


def q_span_scrubbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remove_cross_doc_spans(
        load_table(spark, sf_dir, "documents"), _spans(spark, sf_dir)
    )


CAP_MAX_BUCKET = 2  # small on purpose at test SF: the sf0.01 corpus tops
#                     out at 3-doc buckets, so 2 proves exclusion end-to-end


def q_neardup_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-shape candidate generation: hot buckets excluded
    before the pair join, bounding output to O(cap * n_buckets)."""
    return neardup_candidate_pairs(
        minhash_bands(shingles=_shingles(spark, sf_dir)),
        max_bucket=CAP_MAX_BUCKET,
    )


def q_hot_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loud counters for buckets the cap excluded (boilerplate alarm)."""
    return hot_buckets(
        minhash_bands(shingles=_shingles(spark, sf_dir)), CAP_MAX_BUCKET
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-shingles appearing for the FIRST time in corpus (doc_id) order —
    the redundancy metric that tells a curation pipeline how much new
    content each document actually contributes (near-1 novelty early,
    decaying as the corpus saturates; boilerplate-heavy docs crater
    it). Complements pair-based dedup: novelty is per-DOC and needs no
    candidate generation at all.

    Scale shape: one gram-keyed MIN aggregate (first-seeing doc per
    gram) + an equi-join back on the gram — both keyed on the uniform
    shingle string, no pair blowup possible, and the shingle scan is
    the session-cached frame every other dedup query shares."""
    sh = _shingles(spark, sf_dir)
    grams = sh.select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("g")
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_novel").cast("bigint").alias("n_novel"),
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def cluster_survivorship(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """(doc_id, component, canonical_id, is_canonical, n_members):
    survivorship policy over duplicate clusters — within every
    near-dup cluster keep the LONGEST document (``n_chars`` desc, tie
    broken by min doc_id) as canonical; all other members map to it.
    This is the step that turns clustering into an actionable dedup:
    a curation pipeline drops the non-canonical rows, and downstream
    provenance (citations, URL maps) re-points through canonical_id.

    Keep-longest is the Lee et al. (2022) NearDup convention (their
    dedup keeps one representative per cluster); longest-first keeps
    the superset doc when a cluster is {page, page+boilerplate-strip}.

    Scale shape: one shuffle keyed on ``component`` (clusters are a
    handful of docs each, so window partitions are tiny), zero joins
    after it — canonical and member counts come from the SAME window
    pass (full-frame first/count), not a per-cluster argmax join.
    """
    from pyspark.sql import Window

    member = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    wfull = (
        Window.partitionBy("component")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return member.select(
        "doc_id",
        "component",
        F.first("doc_id").over(wfull).alias("canonical_id"),
        (F.col("doc_id") == F.first("doc_id").over(wfull)).alias("is_canonical"),
        F.count(F.lit(1)).over(wfull).cast("bigint").alias("n_members"),
    )


def q_cluster_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-doc selection (keep-longest) over the transitive
    near-dup clusters, with the replacement map for dropped members."""
    docs = load_table(spark, sf_dir, "documents")
    return cluster_survivorship(
        docs, q_duplicate_clusters(spark, sf_dir)
    ).orderBy("doc_id")


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_bands": q_minhash_bands,
    "dedup_neardup_pairs": q_neardup_pairs,
    "dedup_neardup_pairs_capped": q_neardup_pairs_capped,
    "dedup_hot_buckets": q_hot_buckets,
    "dedup_neardup_jaccard": q_neardup_jaccard,
    "dedup_minhash_accuracy": q_minhash_accuracy,
    "dedup_duplicate_clusters": q_duplicate_clusters,
    "dedup_incremental_pairs": q_incremental_neardup,
    "dedup_cross_doc_spans": q_cross_doc_spans,
    "dedup_span_scrubbed_docs": q_span_scrubbed_docs,
    "dedup_ngram_novelty": q_ngram_novelty,
    "dedup_cluster_survivorship": q_cluster_survivorship,
}

# The cluster oracle reaches the same fixed point with a recursive
# CTE (min reachable label == connected component representative).
# Shared as a CTE chain so the survivorship oracle builds on the
# IDENTICAL component definition instead of restating it.
_COMP_CTE = (
    _BANDS_CTE.replace("WITH toks AS", "WITH RECURSIVE toks AS", 1)
    + _CAPPED_CAND_CTE
    + """,
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach AS (
      SELECT src AS node, src AS lab FROM edges
      UNION
      SELECT e.src AS node, r.lab
      FROM reach r JOIN edges e ON e.dst = r.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(lab) AS component
      FROM reach GROUP BY node
    )
"""
)

_CLUSTERS_SQL = _COMP_CTE + " SELECT doc_id, component FROM comp"

# DuckDB twin of cross_doc_spans: same positional shingles, df-cap,
# hash equi-join, and gaps-and-islands chaining.
_CROSS_DOC_SPANS_SQL = f"""
WITH raw AS (
  SELECT doc_id, {sql_raw_tokens_expr('text')} AS toks FROM documents
),
filt AS (SELECT * FROM raw WHERE len(toks) >= {CROSS_DOC_SHINGLE_K}),
sh0 AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, len(toks) - {CROSS_DOC_SHINGLE_K}),
           i -> struct_pack(
             pos := i,
             h := md5(array_to_string(
                    list_slice(toks, i + 1, i + {CROSS_DOC_SHINGLE_K}), ' '))
           )
         )) AS s
  FROM filt
),
sh AS (SELECT doc_id, s.pos AS pos, s.h AS sh_hash FROM sh0),
dfc AS (
  SELECT sh_hash FROM sh GROUP BY sh_hash
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {CROSS_DOC_DF_CAP}
),
cand AS (SELECT sh.* FROM sh JOIN dfc USING (sh_hash)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
  FROM cand a JOIN cand b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
),
isl AS (
  SELECT doc_a, doc_b, pos_a - pos_b AS diag, pos_a, pos_b,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a
         ) AS island
  FROM pairs
)
SELECT doc_a, doc_b, min(pos_a)::BIGINT AS start_a, min(pos_b)::BIGINT AS start_b,
       (max(pos_a) - min(pos_a) + {CROSS_DOC_SHINGLE_K})::BIGINT AS span_tokens
FROM isl GROUP BY doc_a, doc_b, diag, island
"""

# Removal twin: same spans CTE, positional range join for membership,
# anti-join, ordered string_agg re-assembly.
_SPAN_SCRUB_SQL = f"""
WITH spans AS (
  SELECT * FROM ({_CROSS_DOC_SPANS_SQL})
),
cuts AS (
  SELECT doc_b AS doc_id, start_b AS cut_start,
         start_b + span_tokens AS cut_end
  FROM spans
),
toks AS (
  SELECT doc_id, w, pos - 1 AS pos FROM (
    SELECT doc_id, unnest(raw_toks) AS w,
           generate_subscripts(raw_toks, 1) AS pos
    FROM (SELECT doc_id, {sql_raw_tokens_expr('text')} AS raw_toks FROM documents)
  )
),
removed AS (
  SELECT DISTINCT t.doc_id, t.pos
  FROM toks t JOIN cuts c
    ON t.doc_id = c.doc_id AND t.pos >= c.cut_start AND t.pos < c.cut_end
),
kept AS (
  SELECT t.* FROM toks t
  ANTI JOIN removed r ON t.doc_id = r.doc_id AND t.pos = r.pos
),
rebuilt AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_tokens
  FROM kept GROUP BY doc_id
),
ncut AS (SELECT doc_id, count(*) AS n_removed_tokens FROM removed GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(rebuilt.clean_text, '') AS clean_text,
       COALESCE(rebuilt.n_tokens, 0)::BIGINT AS n_tokens,
       COALESCE(ncut.n_removed_tokens, 0)::BIGINT AS n_removed_tokens
FROM (SELECT doc_id FROM documents) d
LEFT JOIN rebuilt USING (doc_id)
LEFT JOIN ncut USING (doc_id)
"""

ORACLES = {
    # novelty reuses the shared toks/sh CTEs (DuckDB prunes the unused
    # sig/bands CTEs) so the shingle definition can never drift.
    "dedup_ngram_novelty": f"""{_BANDS_CTE},
        grams AS (
          SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh
        ),
        firstseen AS (
          SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               ROUND(CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        FROM grams JOIN firstseen USING (g)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "dedup_cross_doc_spans": _CROSS_DOC_SPANS_SQL,
    "dedup_span_scrubbed_docs": _SPAN_SCRUB_SQL,
    "dedup_exact": """
        SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
               MIN(doc_id) AS canonical_doc_id
        FROM documents GROUP BY md5(text)
    """,
    "dedup_minhash_bands": f"{_BANDS_CTE} SELECT doc_id, band, band_hash FROM bands",
    # incremental contract: capped full-corpus LSH pairs with >= 1
    # side in the deterministic 10% "new batch" (same md5 bucket rule
    # as operators/sampling). The cap is measured on the COMBINED
    # bucket (batch + corpus bands = the full corpus bands), exactly
    # what the Spark path's union-sized guard computes.
    "dedup_incremental_pairs": f"""{_BANDS_CTE}{_CAPPED_CAND_CTE}
        SELECT doc_a, doc_b FROM cand
        WHERE (('0x' || substr(md5('incr' || CAST(doc_a AS VARCHAR)), 1, 15))::BIGINT % 10000) < 1000
           OR (('0x' || substr(md5('incr' || CAST(doc_b AS VARCHAR)), 1, 15))::BIGINT % 10000) < 1000
    """,
    "dedup_duplicate_clusters": _CLUSTERS_SQL,
    # survivorship builds on the SAME comp CTE: keep-longest
    # (n_chars DESC, doc_id ASC) via one window ranking per component.
    "dedup_cluster_survivorship": _COMP_CTE
    + """,
    member AS (
      SELECT c.doc_id, c.component, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, component,
             FIRST_VALUE(doc_id) OVER (
               PARTITION BY component
               ORDER BY n_chars DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS canonical_id,
             CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
               AS n_members
      FROM member
    )
    SELECT doc_id, component, canonical_id,
           doc_id = canonical_id AS is_canonical, n_members
    FROM ranked ORDER BY doc_id
    """,
    "dedup_neardup_pairs": f"""{_BANDS_CTE}{_CAPPED_CAND_CTE}
        SELECT doc_a, doc_b FROM cand
    """,
    "dedup_neardup_pairs_capped": f"""{_BANDS_CTE},
        sized AS (
          SELECT doc_id, band, band_hash,
                 COUNT(*) OVER (PARTITION BY band, band_hash) AS bsz
          FROM bands
        ),
        keep AS (
          SELECT doc_id, band, band_hash FROM sized WHERE bsz <= {CAP_MAX_BUCKET}
        )
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM keep l JOIN keep r
          ON l.band = r.band AND l.band_hash = r.band_hash
         AND l.doc_id < r.doc_id
    """,
    "dedup_hot_buckets": f"""{_BANDS_CTE}
        SELECT band, band_hash, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM bands GROUP BY band, band_hash
        HAVING COUNT(*) > {CAP_MAX_BUCKET}
    """,
    "dedup_minhash_accuracy": f"""{_BANDS_CTE}{_CAPPED_CAND_CTE},
        shsets AS (
          SELECT doc_id, list_distinct(shingles) AS shset FROM sh
        )
        SELECT p.doc_a, p.doc_b,
               CAST({_SIG_MATCH_TERMS} AS BIGINT) AS n_sig_match,
               round(len(list_intersect(x.shset, y.shset))
                     / len(list_distinct(list_concat(x.shset, y.shset))), 6) AS jaccard
        FROM cand p
        JOIN sig a ON a.doc_id = p.doc_a
        JOIN sig b ON b.doc_id = p.doc_b
        JOIN shsets x ON x.doc_id = p.doc_a
        JOIN shsets y ON y.doc_id = p.doc_b
        ORDER BY doc_a, doc_b
    """,
    "dedup_neardup_jaccard": f"""{_BANDS_CTE}{_CAPPED_CAND_CTE},
        shsets AS (
          SELECT doc_id, list_distinct(shingles) AS shset FROM sh
        )
        SELECT doc_a, doc_b,
               round(len(list_intersect(a.shset, b.shset))
                     / len(list_distinct(list_concat(a.shset, b.shset))), 6) AS jaccard
        FROM cand
        JOIN shsets a ON a.doc_id = doc_a
        JOIN shsets b ON b.doc_id = doc_b
    """,
}
