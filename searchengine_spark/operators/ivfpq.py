"""IVF-PQ: the billion-scale ANN layout — coarse inverted-file
partitioning + product-quantized RESIDUALS + cell-probed ADC search.

This is the composition FAISS ships as `IVFx,PQy` (Jégou et al.
2011 §V): the coarse quantizer (the deterministic Lloyd trainer of
operators/kmeans.py, K cells) routes every vector to a cell; PQ
codebooks train on the RESIDUAL x - centroid(cell) (residuals have
far lower variance than raw vectors, so the same code budget buys a
much finer quantization); a query probes only the N_PROBE nearest
cells and ranks their members by table-lookup ADC distance.

Spark-first shapes, all exact fixed-point integers:
- coarse train = the kmeans module's loop (map-only assignment
  against a literal centroid array + one keyed floor-avg per round);
- residuals = one zip_with against the centroid literal indexed by
  the row's cluster — map-only, no join;
- PQ train = operators/pq.py's single exploded-subvector loop,
  unchanged (it never looks at the extra cluster column);
- search = cluster-membership filter against the N_PROBE literal +
  per-cell distance-table lookup (the query's residual DIFFERS per
  probed cell, so there is one M*KPQ table per cell — N_PROBE*M*KPQ
  ints, still a trivial plan literal) -> groupBy sum ->
  TakeOrderedAndProject.

At 100 TB the codes table is WRITTEN partitioned by cell
(partitionBy("cluster")), so the probe filter becomes partition
pruning and a query touches N_PROBE/K of the index files — the same
PartitionFilters mechanism tests/test_ann.py pins for plain IVF.

Because every stage is exact integer arithmetic, the full pipeline —
coarse Lloyd, residuals, residual-PQ Lloyd, probing, ADC — unrolls
into one DuckDB CTE chain and the driver hash-checks the END-TO-END
search result, not just a recall bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.io import check_top_k, load_table, session_cached
from searchengine_spark.operators.kmeans import (
    FP_SCALE,
    ITERS,
    K,
    TRAIN_SAMPLE_TARGET,
    _assign,
    _lloyd_driver,
    fixed_point_vec,
    train_sample_filter,
    train_sample_mod,
    train_sample_sql,
)
from searchengine_spark.operators.pq import (
    KPQ,
    M,
    PQ_ITERS,
    PQ_K,
    PQ_QUERY_ID,
    SUB_DIM,
    _assign_codes,
    _assign_codes_wide,
    _pq_lloyd_driver,
    adc_distance_table,
)

N_PROBE = 3  # cells probed out of K=8 — ~3/8 of the index scanned


def residual_wide(quant: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, cluster, subs array[m] of array<bigint>): each
    vector's cell plus ALL its residual subvectors in ONE row — the
    no-explode layout (r13 optimization; guide §2.4): one zip_with
    against the centroid literal indexed by the row's cluster, then
    an array of slices. Input is the fixed-point (vec_id, qvec)
    frame."""
    assigned = _assign(quant, cents)
    from searchengine_spark.io import int_array_lit

    cent_lit = int_array_lit(
        [[int(v) for v in c] for c in cents], "array<array<bigint>>"
    )
    res = assigned.select(
        "vec_id",
        "cluster",
        F.zip_with(
            "qvec",
            F.element_at(cent_lit, F.col("cluster") + 1),
            lambda x, y: x - y,
        ).alias("rvec"),
    )
    slices = F.array(
        *[F.slice("rvec", m * SUB_DIM + 1, SUB_DIM) for m in range(M)]
    )
    return res.select("vec_id", "cluster", slices.alias("subs"))


def residual_subs(quant: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, cluster, m, sub): the long-format residual frame —
    now a map-side posexplode of the wide layout (kept for the
    distortion test and any long-format consumer)."""
    return residual_wide(quant, cents).select(
        "vec_id", "cluster", F.posexplode("subs").alias("m", "sub")
    )


def _explode_wide_codes_ivfpq(wide: DataFrame, *, keep_dist: bool = False) -> DataFrame:
    """WIDE ivfpq codes frame -> the long (vec_id, cluster, m, code
    [, dist]) contract the append query, the disk layout and the
    batch-search path use. Pure map-side posexplode."""
    out = wide.select(
        "vec_id",
        "cluster",
        F.posexplode(F.arrays_zip("codes", "dists")).alias("m", "_z"),
    ).select(
        "vec_id",
        "cluster",
        "m",
        F.col("_z.codes").alias("code"),
        F.col("_z.dists").alias("dist"),
    )
    return out if keep_dist else out.drop("dist")


def _argmin_cluster(vec: list[int], cents: list[list[int]]) -> int:
    """Driver-side exact nearest centroid, first occurrence on ties
    (= the (dist, cluster) lexicographic tie-break of _assign)."""
    best_j = 0
    best_d: int | None = None
    for j, c in enumerate(cents):
        d = sum((vec[i] - c[i]) ** 2 for i in range(len(vec)))
        if best_d is None or d < best_d:
            best_j, best_d = j, d
    return best_j


def ivfpq_train_wide(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_target: int = TRAIN_SAMPLE_TARGET,
) -> tuple[DataFrame, list[list[int]], list[list[list[int]]]]:
    """Returns (wide codes, coarse_centroids, pq_codebooks) where the
    wide frame is (vec_id, cluster, subs, codes, dists) — one row per
    vector, lineage-cut.

    r13 optimization shape (guide §1.2 step 1): both Lloyd loops run
    driver-side over the SAME two bounded collects (init rows +
    hash-sampled vectors) — the sampled RESIDUAL subvectors are
    derived on the driver from the already-collected sample with the
    identical integer argmin/subtract arithmetic, killing the old
    path's full-corpus exploded residual persist and its two extra
    sample collects. The full-corpus work is exactly ONE map-only
    pass: assign cell -> residual -> nearest codeword, all on the
    wide no-explode layout."""
    quant = emb.select(
        F.col(id_col).alias("vec_id"), fixed_point_vec(vec_col).alias("qvec")
    ).persist()
    train = None
    try:
        smod = train_sample_mod(quant.count(), sample_target)
        # bounded sample -> few cached partitions (kmeans.py note)
        train = (
            quant.filter(train_sample_filter(smod)).coalesce(4).persist()
            if smod > 1
            else quant
        )
        # first K/KPQ PRESENT ids with dense positional labels —
        # identical to `id < k` on a contiguous corpus, correct on
        # filtered inputs (the incremental-ANN base split)
        init = quant.orderBy("vec_id").limit(max(K, KPQ)).collect()
        cents = [[int(v) for v in r["qvec"]] for r in init[:K]]
        # K (=8) is always in the flat-argmin regime: one bounded
        # collect + driver Lloyd, bit-identical to the Spark loop
        # (kmeans._lloyd_driver), transform stays distributed
        train_vecs = [
            [int(v) for v in r["qvec"]] for r in train.select("qvec").collect()
        ]
        cents = _lloyd_driver(train_vecs, cents, ITERS)

        # residual subvectors of a vector under the FINAL centroids —
        # same argmin tie-break and exact integer subtraction as the
        # distributed residual_wide path
        def res_subs(vec: list[int]) -> list[list[int]]:
            c = cents[_argmin_cluster(vec, cents)]
            r = [vec[i] - c[i] for i in range(len(vec))]
            return [r[m * SUB_DIM : (m + 1) * SUB_DIM] for m in range(M)]

        codebooks: list[list[list[int]]] = [
            [[0] * SUB_DIM for _ in range(KPQ)] for _ in range(M)
        ]
        for j, r in enumerate(init[:KPQ]):
            for m, sub in enumerate(res_subs([int(v) for v in r["qvec"]])):
                codebooks[m][j] = sub
        sub_rows = [
            (m, sub) for vec in train_vecs for m, sub in enumerate(res_subs(vec))
        ]
        codebooks = _pq_lloyd_driver(sub_rows, codebooks, PQ_ITERS)
        wide = _assign_codes_wide(residual_wide(quant, cents), codebooks)
        from searchengine_spark.io import cut_lineage

        return cut_lineage(wide), cents, codebooks
    finally:
        if train is not None and train is not quant:
            train.unpersist()
        quant.unpersist()


def ivfpq_train(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_target: int = TRAIN_SAMPLE_TARGET,
) -> tuple[DataFrame, list[list[int]], list[list[list[int]]]]:
    """Returns (codes, coarse_centroids, pq_codebooks) where codes =
    (vec_id, cluster, m, code): each vector's cell plus the PQ
    encoding of its residual — the long contract, posexploded from
    the wide trainer."""
    wide, cents, codebooks = ivfpq_train_wide(
        emb, id_col=id_col, vec_col=vec_col, sample_target=sample_target
    )
    return _explode_wide_codes_ivfpq(wide), cents, codebooks


def ivfpq_search(
    codes: DataFrame,
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    qv: list[int],
    *,
    k: int = PQ_K,
    n_probe: int = N_PROBE,
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe the n_probe nearest cells and ADC-rank their members.

    Driver side: n_probe cell picks + one distance table PER CELL
    (the query residual differs per cell) — n_probe*M*KPQ exact ints
    as plan literals. Executor side: membership filter + table
    lookup + sum, zero joins."""
    check_top_k(k)
    dim = len(qv)
    cell_d = sorted(
        (sum((qv[i] - c[i]) ** 2 for i in range(dim)), j)
        for j, c in enumerate(cents)
    )
    probed = [j for _, j in cell_d[:n_probe]]
    tables = []
    for j in probed:
        qres = [qv[i] - cents[j][i] for i in range(dim)]
        qsub = [qres[m * SUB_DIM : (m + 1) * SUB_DIM] for m in range(M)]
        tables.append(adc_distance_table(qsub, codebooks))
    from searchengine_spark.io import int_array_lit

    dt_lit = int_array_lit(
        [[[int(d) for d in row] for row in t] for t in tables],
        "array<array<array<bigint>>>",
    )
    # Membership as a plain `cluster IN (literals)` filter FIRST —
    # on a cluster-partitioned index layout this is what plans as
    # PartitionFilters (file-listing-time pruning); the 1-based
    # probed-list position for table indexing is a when-chain over
    # n_probe literals computed on the survivors only.
    pos = F.lit(0)
    for i, j in enumerate(probed):
        pos = F.when(F.col("cluster") == j, F.lit(i + 1)).otherwise(pos)
    looked = codes.filter(F.col("cluster").isin(probed)).withColumn("_p", pos)
    if exclude_id is not None:
        looked = looked.filter(F.col("vec_id") != exclude_id)
    return (
        looked.select(
            "vec_id",
            F.element_at(
                F.element_at(
                    F.element_at(dt_lit, F.col("_p")), F.col("m") + 1
                ),
                F.col("code") + 1,
            ).alias("_d"),
        )
        .groupBy("vec_id")
        .agg(F.sum("_d").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )


def ivfpq_search_wide(
    wide_codes: DataFrame,
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    qv: list[int],
    *,
    k: int = PQ_K,
    n_probe: int = N_PROBE,
    exclude_id: int | None = None,
) -> DataFrame:
    """ivfpq_search over the WIDE codes frame: same driver-side probe
    pick and per-cell ADC tables (one nested literal), but the
    per-vector distance is an array fold over the codes column — a
    pure map feeding TakeOrderedAndProject with ZERO exchange (the
    long path shuffles M rows per probed vector into a
    groupBy(vec_id); guide §2.4)."""
    check_top_k(k)
    dim = len(qv)
    cell_d = sorted(
        (sum((qv[i] - c[i]) ** 2 for i in range(dim)), j)
        for j, c in enumerate(cents)
    )
    probed = [j for _, j in cell_d[:n_probe]]
    tables = []
    for j in probed:
        qres = [qv[i] - cents[j][i] for i in range(dim)]
        qsub = [qres[m * SUB_DIM : (m + 1) * SUB_DIM] for m in range(M)]
        tables.append(adc_distance_table(qsub, codebooks))
    from searchengine_spark.io import int_array_lit

    dt_lit = int_array_lit(
        [[[int(d) for d in row] for row in t] for t in tables],
        "array<array<array<bigint>>>",
    )
    pos = F.lit(0)
    for i, j in enumerate(probed):
        pos = F.when(F.col("cluster") == j, F.lit(i + 1)).otherwise(pos)
    looked = wide_codes.filter(F.col("cluster").isin(probed)).withColumn(
        "_p", pos
    )
    if exclude_id is not None:
        looked = looked.filter(F.col("vec_id") != exclude_id)
    scored = looked.select(
        "vec_id",
        F.aggregate(
            F.transform(
                F.col("codes"),
                lambda c, i: F.element_at(
                    F.element_at(
                        F.element_at(dt_lit, F.col("_p")), i + F.lit(1)
                    ),
                    c + F.lit(1),
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("adc_dist"),
    )
    return scored.orderBy("adc_dist", "vec_id").limit(k)


def ivfpq_batch_search(
    spark: SparkSession,
    codes: DataFrame,
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    queries: DataFrame,
    *,
    k: int = PQ_K,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Batch ADC search: rank every query in ``queries`` (a
    (qid, qvec) fixed-point frame) in ONE pass over the codes table.

    This is the serving pattern that actually runs at scale — online
    search amortizes nothing, but training-data mining (hard-negative
    sweeps, SemDeDup, eval-set retrieval) issues MILLIONS of queries,
    and per-query driver literals (ivfpq_search) would mean a plan
    per query. Here everything stays relational, with no collect of
    query vectors:

      probe pick  — queries x centroids (K-row broadcast) -> keyed
                    sum -> per-qid row_number <= n_probe;
      dist tables — query residuals x codebooks (M*KPQ broadcast)
                    -> one (qid, cell, m, code) keyed sum;
      ADC         — codes JOIN broadcast(tables) on (cell, m, code):
                    the fact-table scan happens ONCE for the whole
                    batch, per-query top-k is a qid-partitioned
                    window (never a global sort).

    At B queries the broadcast is B*n_probe*M*KPQ rows (~100 bytes
    each); past ~10^5 queries flip the hint off and let AQE pick a
    shuffled hash join — the shape stays one scan either way. On a
    cluster-partitioned layout (write_ivfpq_index) the dt join's cell
    key enables dynamic partition pruning instead of the single-query
    path's literal IN filter."""
    from pyspark.sql import Window

    cent_df = spark.createDataFrame(
        [
            (j, p, int(c))
            for j, cv in enumerate(cents)
            for p, c in enumerate(cv)
        ],
        "cluster int, pos int, c bigint",
    )
    cb_df = spark.createDataFrame(
        [
            (m, code, s, int(v))
            for m, cb in enumerate(codebooks)
            for code, sub in enumerate(cb)
            for s, v in enumerate(sub)
        ],
        "m int, code int, spos int, c bigint",
    )

    qexp = queries.select("qid", F.posexplode("qvec").alias("pos", "v"))
    sq = (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
    cell_dist = (
        qexp.join(F.broadcast(cent_df), "pos")
        .groupBy("qid", "cluster")
        .agg(F.sum(sq).cast("bigint").alias("dist"))
    )
    w_probe = Window.partitionBy("qid").orderBy("dist", "cluster")
    probed = (
        cell_dist.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select("qid", F.col("cluster").alias("cell"))
    )
    cent_cells = cent_df.select(
        F.col("cluster").alias("cell"), "pos", "c"
    )
    qres = (
        qexp.join(probed, "qid")
        .join(F.broadcast(cent_cells), ["cell", "pos"])
        .select(
            "qid",
            "cell",
            (F.col("pos") / SUB_DIM).cast("int").alias("m"),
            (F.col("pos") % SUB_DIM).cast("int").alias("spos"),
            (F.col("v") - F.col("c")).alias("v"),
        )
    )
    dt = (
        qres.join(F.broadcast(cb_df), ["m", "spos"])
        .groupBy("qid", "cell", "m", "code")
        .agg(F.sum(sq).cast("bigint").alias("d"))
        .select(
            "qid",
            "cell",
            F.col("m").alias("dm"),
            F.col("code").alias("dcode"),
            "d",
        )
    )
    scored = (
        codes.join(
            F.broadcast(dt),
            (codes["cluster"] == dt["cell"])
            & (codes["m"] == dt["dm"])
            & (codes["code"] == dt["dcode"]),
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "adc_dist")
        .orderBy("qid", "adc_dist", "vec_id")
    )


def ivfpq_encode(
    emb: DataFrame,
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_dist: bool = False,
) -> DataFrame:
    """Encode vectors against FROZEN centroids/codebooks (the
    transform half of the fit/transform split): nearest-cell
    assignment, residual, nearest-codeword — one map-only pass, no
    training state touched. This is how a batch APPENDS to a
    persisted IVF-PQ index without retraining: new rows join the
    existing cells/codes and the partitioned layout stays valid.
    ``keep_dist`` additionally returns each subspace's exact integer
    quantization distortion (the drift audit's raw signal)."""
    return _explode_wide_codes_ivfpq(
        ivfpq_encode_wide(emb, cents, codebooks, id_col=id_col, vec_col=vec_col),
        keep_dist=keep_dist,
    )


def ivfpq_encode_wide(
    emb: DataFrame,
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The wide-layout encode: (vec_id, cluster, subs, codes, dists)
    in ONE map-only pass — nearest cell, residual, nearest codeword
    as array expressions, nothing exploded or shuffled."""
    quant = emb.select(
        F.col(id_col).alias("vec_id"), fixed_point_vec(vec_col).alias("qvec")
    )
    return _assign_codes_wide(residual_wide(quant, cents), codebooks)


def write_ivfpq_index(codes: DataFrame, path: str) -> None:
    """Persist the codes table partitioned by cell: the probe's
    `cluster IN (...)` filter then prunes at FILE LISTING time — a
    query touches n_probe/K of the index directories, the serving
    layout the SCALE.md entry describes (same mechanism as
    ann.write_ivf_index, with 4-byte PQ codes instead of vectors)."""
    codes.write.mode("overwrite").partitionBy("cluster").parquet(path)


def read_ivfpq_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# --------------------------------------------------------------- queries

def _cached_wide(spark: SparkSession, sf_dir: str):
    """Session-shared WIDE IVF-PQ index — the one training every
    family member (single/batch/curve/recall queries) derives from.
    ivfpq_train_wide already cuts lineage, so the frame is
    materialized."""

    def build():
        return ivfpq_train_wide(load_table(spark, sf_dir, "embeddings"))

    return session_cached(spark, "ivfpq_train", sf_dir, build)


def _cached(spark: SparkSession, sf_dir: str):
    """Long-contract view of the cached wide index. The exploded
    frame is itself lineage-cut and session-shared: leaving the
    posexplode lazy re-ran it inside every consumer plan and measured
    3x slower on the batch-search join (bench r13 opt round,
    isolate-reproduced) — the materialized frame is M rows per vector
    of 4 small columns, the same footprint the pre-r13 code cached."""
    from searchengine_spark.io import session_cached

    def build():
        wide, cents, codebooks = _cached_wide(spark, sf_dir)
        return _explode_wide_codes_ivfpq(wide), cents, codebooks

    return session_cached(spark, "ivfpq_train_long", sf_dir, build)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 for the fixed query vector: coarse cells,
    residual PQ codes, N_PROBE probed cells, per-cell ADC tables —
    hash-checked end to end against the unrolled SQL twin."""
    wide, cents, codebooks = _cached_wide(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = (
        emb.filter(F.col("vec_id") == PQ_QUERY_ID)
        .select(fixed_point_vec("embedding").alias("qv"))
        .collect()[0]
    )
    qv = [int(v) for v in qrow["qv"]]
    return ivfpq_search_wide(
        wide, cents, codebooks, qv, exclude_id=PQ_QUERY_ID
    )


BATCH_QUERY_IDS = [1, 5, 9, 42]  # includes PQ_QUERY_ID for cross-checks


def q_ivfpq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IVF-PQ top-10 for a fixed query batch, one codes
    scan for the whole batch — the relational serving path
    (ivfpq_batch_search) hash-checked end to end against the same
    unrolled twin as the single-query path, extended per-qid."""
    codes, cents, codebooks = _cached(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), fixed_point_vec("embedding").alias("qvec")
    )
    return ivfpq_batch_search(spark, codes, cents, codebooks, queries)


# --------------------------------------- incremental index maintenance

# Deterministic append split: md5 bucket 0 of ANN_BATCH_MOD (~20%) is
# the "newly arriving" batch; the rest is the base corpus the index
# was trained on. Same record set at any partitioning, and the DuckDB
# twins restate the split exactly.
ANN_BASE_SALT = "annbase"
ANN_BATCH_MOD = 5
# Per-cell mean-distortion growth ratio that flags a retrain. An
# in-distribution batch already shows ~1.15-1.25 (generalization gap:
# the codebook was FIT on the base, so base distortion is optimistic);
# 1.5 sits clear of that noise floor while a genuinely shifted batch
# (planted test: +0.5 on every coordinate) lands far above it.
DRIFT_GROWTH_BOUND = 1.5


def _append_split(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    from searchengine_spark.operators.sampling import hash_bucket

    is_batch = (
        hash_bucket(F.col("vec_id"), n_buckets=ANN_BATCH_MOD, salt=ANN_BASE_SALT)
        == 0
    )
    return emb.filter(~is_batch), emb.filter(is_batch)


def _cached_base_train_wide(spark: SparkSession, sf_dir: str):
    def build():
        base, _ = _append_split(load_table(spark, sf_dir, "embeddings"))
        return ivfpq_train_wide(base)

    return session_cached(spark, "ivfpq_train_base", sf_dir, build)


def _cached_base_train(spark: SparkSession, sf_dir: str):
    from searchengine_spark.io import session_cached

    def build():
        wide, cents, codebooks = _cached_base_train_wide(spark, sf_dir)
        return _explode_wide_codes_ivfpq(wide), cents, codebooks

    return session_cached(spark, "ivfpq_train_base_long", sf_dir, build)


def q_ivf_append_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN maintenance: append the arriving batch to the
    base-trained IVF-PQ index by ENCODING it against the existing
    centroids/codebooks — no retrain, exact assignment arithmetic, so
    the whole append hash-checks end to end. At scale this is the
    only sane maintenance mode (FAISS add() after train()): the new
    rows land in the existing partitionBy(cluster) layout as one
    appended file set, and a query's probe pruning keeps working
    unchanged. Complements incremental BM25 (index/incremental.py)
    and incremental near-dup (dedup.py) with the embedding side."""
    _, cents, codebooks = _cached_base_train_wide(spark, sf_dir)
    _, batch = _append_split(load_table(spark, sf_dir, "embeddings"))
    return ivfpq_encode(batch, cents, codebooks)


def q_ivf_append_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift audit for the no-retrain append: per cell, how much
    worse does the frozen codebook quantize the NEW batch than the
    base corpus it was trained on? growth = batch mean ADC distortion
    / base mean ADC distortion (both exact integer sums, rounded 6);
    `drifted` flags cells past DRIFT_GROWTH_BOUND — the retrain
    trigger a production pipeline watches. A shifted batch (planted
    test) trips it; an in-distribution batch stays ~1.0."""
    base_wide, cents, codebooks = _cached_base_train_wide(spark, sf_dir)
    _, batch = _append_split(load_table(spark, sf_dir, "embeddings"))
    # The base-side encode IS the cached training frame: the trainer's
    # final pass is _assign_codes_wide(residual_wide(base), codebooks)
    # — identical to ivfpq_encode_wide(base, ...) under the frozen
    # artifacts, so the audit re-encodes only the BATCH (r13; guide
    # §1.2 step 1 — don't recompute what a sibling already computed).
    be = base_wide
    ne = ivfpq_encode_wide(batch, cents, codebooks)

    def stats(enc: DataFrame, n_name: str, mean_name: str) -> DataFrame:
        # wide layout: one row per vector — n is a plain count, and
        # the per-(vec, m) mean divides the same exact integer sum by
        # the same n*M row count as the long path did
        total = F.aggregate(
            F.col("dists"), F.lit(0).cast("bigint"), lambda a, v: a + v
        )
        return enc.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("bigint").alias(n_name),
            F.round(
                F.sum(total).cast("double") / (F.count(F.lit(1)) * M), 6
            ).alias(mean_name),
        )

    bs = stats(be, "n_base", "base_mean_dist")
    ns = stats(ne, "n_batch", "batch_mean_dist")
    growth = F.when(
        F.col("base_mean_dist") > 0,
        F.round(F.col("batch_mean_dist") / F.col("base_mean_dist"), 6),
    )
    return bs.join(ns, "cluster", "left").select(
        "cluster",
        "n_base",
        F.coalesce("n_batch", F.lit(0)).cast("bigint").alias("n_batch"),
        "base_mean_dist",
        "batch_mean_dist",
        growth.alias("growth"),
        F.coalesce(growth > DRIFT_GROWTH_BOUND, F.lit(False)).alias("drifted"),
    )


def _append_bucket_sql(col: str = "vec_id") -> str:
    return (
        f"(('0x' || substr(md5('{ANN_BASE_SALT}' || CAST({col} AS VARCHAR)),"
        f" 1, 15))::BIGINT % {ANN_BATCH_MOD})"
    )


def _batch_encode_ctes() -> str:
    """CTE block encoding the BATCH split against the base-trained
    chain (expects c{ITERS} and p{PQ_ITERS} in scope): quantize,
    nearest cell, residual, nearest codeword — the SQL mirror of
    ivfpq_encode(batch, ...)."""
    cN = f"c{ITERS}"
    pN = f"p{PQ_ITERS}"
    return f"""
, bq AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings WHERE {_append_bucket_sql()} = 0
),
bqc AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(qv, 1) - 1 AS pos, unnest(qv) AS v
  FROM bq
),
bfin AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, d.cluster,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY d.dist, d.cluster) AS rn
    FROM (
      SELECT bqc.vec_id, c.cluster,
             CAST(SUM((bqc.v - c.c) * (bqc.v - c.c)) AS BIGINT) AS dist
      FROM bqc JOIN {cN} c ON bqc.pos = c.pos
      GROUP BY bqc.vec_id, c.cluster
    ) d
  ) WHERE rn = 1
),
brq AS MATERIALIZED (
  SELECT bqc.vec_id,
         CAST(bqc.pos // {SUB_DIM} AS INTEGER) AS m,
         CAST(bqc.pos % {SUB_DIM} AS INTEGER) AS spos,
         f.cluster AS cell,
         bqc.v - c.c AS v
  FROM bqc
  JOIN bfin f ON bqc.vec_id = f.vec_id
  JOIN {cN} c ON c.cluster = f.cluster AND c.pos = bqc.pos
),
benc AS MATERIALIZED (
  SELECT vec_id, cell, m, code, dist FROM (
    SELECT d.vec_id, d.cell, d.m, d.code, d.dist,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT brq.vec_id, brq.cell, brq.m, p.code,
             CAST(SUM((brq.v - p.c) * (brq.v - p.c)) AS BIGINT) AS dist
      FROM brq JOIN {pN} p ON brq.m = p.m AND brq.spos = p.spos
      GROUP BY brq.vec_id, brq.cell, brq.m, p.code
    ) d
  ) WHERE rn = 1
)"""


def _append_assign_sql() -> str:
    base_where = f"{_append_bucket_sql()} <> 0"
    return f"""{_ivfpq_chain(where=base_where)}{_batch_encode_ctes()}
SELECT vec_id, cell AS cluster, m, code FROM benc
"""


def _append_drift_sql() -> str:
    base_where = f"{_append_bucket_sql()} <> 0"
    pN = f"p{PQ_ITERS}"
    return f"""{_ivfpq_chain(where=base_where)}{_batch_encode_ctes()}
, baseenc AS MATERIALIZED (
  SELECT vec_id, cell, m, code, dist FROM (
    SELECT d.vec_id, d.cell, d.m, d.code, d.dist,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT rq.vec_id, rq.cell, rq.m, p.code,
             CAST(SUM((rq.v - p.c) * (rq.v - p.c)) AS BIGINT) AS dist
      FROM rq JOIN {pN} p ON rq.m = p.m AND rq.spos = p.spos
      GROUP BY rq.vec_id, rq.cell, rq.m, p.code
    ) d
  ) WHERE rn = 1
),
bstat AS (
  SELECT cell,
         CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_base,
         round(CAST(SUM(dist) AS DOUBLE) / COUNT(*), 6) AS base_mean_dist
  FROM baseenc GROUP BY cell
),
nstat AS (
  SELECT cell,
         CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_batch,
         round(CAST(SUM(dist) AS DOUBLE) / COUNT(*), 6) AS batch_mean_dist
  FROM benc GROUP BY cell
)
SELECT b.cell AS cluster, b.n_base,
       CAST(COALESCE(n.n_batch, 0) AS BIGINT) AS n_batch,
       b.base_mean_dist, n.batch_mean_dist,
       CASE WHEN b.base_mean_dist > 0
            THEN round(n.batch_mean_dist / b.base_mean_dist, 6) END AS growth,
       COALESCE((CASE WHEN b.base_mean_dist > 0
                 THEN round(n.batch_mean_dist / b.base_mean_dist, 6) END)
                > {DRIFT_GROWTH_BOUND}, FALSE) AS drifted
FROM bstat b LEFT JOIN nstat n ON b.cell = n.cell
"""


# --------------------------------------------------------------- oracle

def _ivfpq_chain(where: str = "", *, search_tail: bool = True) -> str:
    """Unrolled twin CTE chain: kmeans._kmeans_ctes supplies the
    coarse part (qc components, c{ITERS} centroids, fin assignment);
    this appends the residual frame, the residual-PQ Lloyd rounds,
    the probe pick, the per-cell distance tables, and the final ADC
    `topk` CTE. ``where`` restricts the trained-on source rows (the
    incremental-ANN twins train on the base split only).
    ``search_tail=False`` stops after the encoded `pcodes` CTE so a
    caller (the probe-sweep curve) can attach its own search tail."""
    from searchengine_spark.operators.kmeans import _kmeans_ctes

    cN = f"c{ITERS}"
    samp = train_sample_sql("SELECT s FROM smod", "rq.vec_id")
    parts = [
        _kmeans_ctes(where=where),
        f"""
, rq AS MATERIALIZED (
  SELECT qc.vec_id,
         CAST(qc.pos // {SUB_DIM} AS INTEGER) AS m,
         CAST(qc.pos % {SUB_DIM} AS INTEGER) AS spos,
         f.cluster AS cell,
         qc.v - c.c AS v
  FROM qc
  JOIN fin f ON qc.vec_id = f.vec_id
  JOIN {cN} c ON c.cluster = f.cluster AND c.pos = qc.pos
),
rqt AS MATERIALIZED (
  SELECT rq.* FROM rq WHERE {samp}
),
p0 AS MATERIALIZED (
  SELECT rq.m, CAST(i.code AS INTEGER) AS code, rq.spos, rq.v AS c
  FROM rq JOIN (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
    FROM q ORDER BY vec_id LIMIT {KPQ}
  ) i ON rq.vec_id = i.vec_id
)""",
    ]
    for i in range(1, PQ_ITERS + 1):
        prev = f"p{i - 1}"
        parts.append(
            f"""
, b{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT d.vec_id, d.m, d.code,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT rqt.vec_id, rqt.m, p.code,
             CAST(SUM((rqt.v - p.c) * (rqt.v - p.c)) AS BIGINT) AS dist
      FROM rqt JOIN {prev} p ON rqt.m = p.m AND rqt.spos = p.spos
      GROUP BY rqt.vec_id, rqt.m, p.code
    ) d
  ) WHERE rn = 1
),
p{i} AS MATERIALIZED (
  SELECT p.m, p.code, p.spos, COALESCE(u.c, p.c) AS c
  FROM {prev} p
  LEFT JOIN (
    SELECT b.m, b.code, rqt.spos,
           CAST(floor(CAST(SUM(rqt.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
    FROM rqt JOIN b{i} b ON rqt.vec_id = b.vec_id AND rqt.m = b.m
    GROUP BY b.m, b.code, rqt.spos
  ) u ON p.m = u.m AND p.code = u.code AND p.spos = u.spos
)"""
        )
    pN = f"p{PQ_ITERS}"
    if not search_tail:
        parts.append(
            f"""
, pcodes AS MATERIALIZED (
  SELECT vec_id, cell, m, code FROM (
    SELECT d.vec_id, d.cell, d.m, d.code,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT rq.vec_id, rq.cell, rq.m, p.code,
             CAST(SUM((rq.v - p.c) * (rq.v - p.c)) AS BIGINT) AS dist
      FROM rq JOIN {pN} p ON rq.m = p.m AND rq.spos = p.spos
      GROUP BY rq.vec_id, rq.cell, rq.m, p.code
    ) d
  ) WHERE rn = 1
)"""
        )
        return "".join(parts)
    parts.append(
        f"""
, pcodes AS MATERIALIZED (
  SELECT vec_id, cell, m, code FROM (
    SELECT d.vec_id, d.cell, d.m, d.code,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT rq.vec_id, rq.cell, rq.m, p.code,
             CAST(SUM((rq.v - p.c) * (rq.v - p.c)) AS BIGINT) AS dist
      FROM rq JOIN {pN} p ON rq.m = p.m AND rq.spos = p.spos
      GROUP BY rq.vec_id, rq.cell, rq.m, p.code
    ) d
  ) WHERE rn = 1
),
probed AS (
  SELECT c.cluster
  FROM {cN} c JOIN qc ON qc.pos = c.pos AND qc.vec_id = {PQ_QUERY_ID}
  GROUP BY c.cluster
  ORDER BY CAST(SUM((qc.v - c.c) * (qc.v - c.c)) AS BIGINT), c.cluster
  LIMIT {N_PROBE}
),
qres AS (
  SELECT c.cluster AS cell,
         CAST(qc.pos // {SUB_DIM} AS INTEGER) AS m,
         CAST(qc.pos % {SUB_DIM} AS INTEGER) AS spos,
         qc.v - c.c AS v
  FROM qc
  JOIN {cN} c ON c.pos = qc.pos
  WHERE qc.vec_id = {PQ_QUERY_ID}
    AND c.cluster IN (SELECT cluster FROM probed)
),
dt AS (
  SELECT q.cell, p.m, p.code,
         CAST(SUM((q.v - p.c) * (q.v - p.c)) AS BIGINT) AS d
  FROM qres q JOIN {pN} p ON p.m = q.m AND p.spos = q.spos
  GROUP BY q.cell, p.m, p.code
),
topk AS (
  SELECT pc.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_dist
  FROM pcodes pc
  JOIN dt ON dt.cell = pc.cell AND dt.m = pc.m AND dt.code = pc.code
  WHERE pc.vec_id <> {PQ_QUERY_ID}
  GROUP BY pc.vec_id
  ORDER BY adc_dist, vec_id
  LIMIT {PQ_K}
)"""
    )
    return "".join(parts)


def _ivfpq_sql() -> str:
    return f"{_ivfpq_chain()}\nSELECT vec_id, adc_dist FROM topk"


def _ivfpq_recall_sql() -> str:
    """Exact recall of IVF-PQ top-k vs the brute-force fixed-point
    L2 top-k — both sides of the audit are SQL-expressible, so the
    recall COUNTS hash-check exactly (no invariant weakening)."""
    return f"""{_ivfpq_chain()}
, brute AS (
  SELECT a.vec_id
  FROM (
    SELECT a.vec_id, CAST(SUM((a.v - qq.v) * (a.v - qq.v)) AS BIGINT) AS dist
    FROM qc a JOIN qc qq ON qq.vec_id = {PQ_QUERY_ID} AND qq.pos = a.pos
    WHERE a.vec_id <> {PQ_QUERY_ID}
    GROUP BY a.vec_id
  ) a
  ORDER BY dist, vec_id
  LIMIT {PQ_K}
)
SELECT CAST({PQ_K} AS BIGINT) AS k,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM brute) AS n_true,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM brute b JOIN topk t ON b.vec_id = t.vec_id) AS n_caught
"""


def q_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much recall does the compressed, probed search give up vs
    exact search? One row (k, n_true, n_caught) — EXACT counts, both
    sides deterministic integer arithmetic, so the measured recall
    itself is hash-checked against the twin (contrast ann_ivf_topk's
    recall-floor boolean, where training isn't SQL-expressible)."""
    from searchengine_spark.operators.ann_truth import (
        exact_truth,
        query_vectors,
    )

    wide, cents, codebooks = _cached_wide(spark, sf_dir)
    qv = query_vectors(spark, sf_dir)[PQ_QUERY_ID]
    # Session-shared exact truth (ann_truth.py): self already
    # excluded, rank by (dist, vec_id) — identical to the inline
    # brute-force this replaced.
    brute = (
        exact_truth(spark, sf_dir)
        .filter((F.col("query_id") == PQ_QUERY_ID) & (F.col("rn") <= PQ_K))
        .select("vec_id")
    )
    hits = ivfpq_search_wide(
        wide, cents, codebooks, qv, exclude_id=PQ_QUERY_ID
    ).select("vec_id")
    caught = brute.join(hits, "vec_id", "left_semi")
    n_true = brute.agg(F.count(F.lit(1)).alias("n_true"))
    n_caught = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    return (
        n_true.crossJoin(F.broadcast(n_caught)).select(
            F.lit(PQ_K).cast("bigint").alias("k"),
            F.col("n_true").cast("bigint"),
            F.col("n_caught").cast("bigint"),
        )
    )


def _ivfpq_batch_sql() -> str:
    """Batch twin: reuses the chain up through `pcodes` (the trained
    index is query-independent; the chain's single-query topk CTE
    goes unreferenced, which DuckDB never materializes), then keys
    probe pick, residuals, distance tables, and top-k by qid."""
    qids = ", ".join(str(q) for q in BATCH_QUERY_IDS)
    cN = f"c{ITERS}"
    pN = f"p{PQ_ITERS}"
    return f"""{_ivfpq_chain()}
, bpd AS (
  SELECT qc.vec_id AS qid, c.cluster,
         CAST(SUM((qc.v - c.c) * (qc.v - c.c)) AS BIGINT) AS dist
  FROM qc JOIN {cN} c ON c.pos = qc.pos
  WHERE qc.vec_id IN ({qids})
  GROUP BY qc.vec_id, c.cluster
),
bprobed AS (
  SELECT qid, cluster AS cell FROM (
    SELECT qid, cluster,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cluster) AS rn
    FROM bpd
  ) WHERE rn <= {N_PROBE}
),
bqres AS (
  SELECT qc.vec_id AS qid, b.cell,
         CAST(qc.pos // {SUB_DIM} AS INTEGER) AS m,
         CAST(qc.pos % {SUB_DIM} AS INTEGER) AS spos,
         qc.v - c.c AS v
  FROM qc
  JOIN bprobed b ON b.qid = qc.vec_id
  JOIN {cN} c ON c.pos = qc.pos AND c.cluster = b.cell
  WHERE qc.vec_id IN ({qids})
),
bdt AS (
  SELECT q.qid, q.cell, p.m, p.code,
         CAST(SUM((q.v - p.c) * (q.v - p.c)) AS BIGINT) AS d
  FROM bqres q JOIN {pN} p ON p.m = q.m AND p.spos = q.spos
  GROUP BY q.qid, q.cell, p.m, p.code
),
bscored AS (
  SELECT bdt.qid, pc.vec_id, CAST(SUM(bdt.d) AS BIGINT) AS adc_dist
  FROM pcodes pc
  JOIN bdt ON bdt.cell = pc.cell AND bdt.m = pc.m AND bdt.code = pc.code
  WHERE pc.vec_id <> bdt.qid
  GROUP BY bdt.qid, pc.vec_id
)
SELECT qid, vec_id, adc_dist FROM (
  SELECT qid, vec_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
  FROM bscored
) WHERE rn <= {PQ_K}
ORDER BY qid, adc_dist, vec_id
"""


def q_ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k vs n_probe for EVERY probe count 1..K — the tuning
    curve an ANN-serving owner reads to pick the latency/recall
    trade-off (FAISS's nprobe sweep). Each point re-runs the probed
    ADC search with the frozen index (serving cost only — training is
    session-cached) and counts exact hits against the brute-force
    fixed-point truth; the whole curve is integer-exact, so the
    driver hash-checks the measured recall at every operating point,
    not a summary bound.

    The curve is NOT forced monotone, deliberately: the candidate
    set grows with n_probe, but ADC quantization noise can let a
    new cell's candidate displace a true neighbor from the top-k
    (it does at sf0.001, n_probe 3 -> 4). Surfacing that dip is the
    audit's value — it is the signal to raise PQ bits, not probes.

    One-pass shape (round-12 verdict task 5): the old loop re-ran the
    probed ADC search per operating point — K full scan+agg+topk jobs
    over the codes table. But each point's candidate ranking is a
    PREFIX of the same ranked assignment: compute every vector's ADC
    distance and its cell's probe rank ONCE (the K per-cell distance
    tables ride along as one plan literal), fan out to the K probe
    settings with a broadcast range join (rnk <= n_probe, <= K·n_vec
    rows), and cut each setting's top-k with one window partitioned
    by n_probe. One scan + one agg shuffle + one window replaces K
    jobs; per-point results are identical (same (adc_dist, vec_id)
    order, same exclusion), so the oracle is untouched."""
    from pyspark.sql.window import Window

    from searchengine_spark.operators.ann_truth import (
        exact_truth,
        query_vectors,
    )

    wide, cents, codebooks = _cached_wide(spark, sf_dir)
    qv = query_vectors(spark, sf_dir)[PQ_QUERY_ID]
    # Session-shared exact truth (ann_truth.py; already cached there).
    brute = (
        exact_truth(spark, sf_dir)
        .filter((F.col("query_id") == PQ_QUERY_ID) & (F.col("rn") <= PQ_K))
        .select("vec_id")
    )
    dim = len(qv)
    ranked = [
        j
        for _, j in sorted(
            (sum((qv[i] - c[i]) ** 2 for i in range(dim)), j)
            for j, c in enumerate(cents)
        )
    ]
    tables = []
    for j in ranked:
        qres = [qv[i] - cents[j][i] for i in range(dim)]
        qsub = [qres[m * SUB_DIM : (m + 1) * SUB_DIM] for m in range(M)]
        tables.append(adc_distance_table(qsub, codebooks))
    from searchengine_spark.io import int_array_lit

    dt_lit = int_array_lit(
        [[[int(d) for d in row] for row in t] for t in tables],
        "array<array<array<bigint>>>",
    )
    rnk = F.lit(0)
    for i, j in enumerate(ranked):
        rnk = F.when(F.col("cluster") == j, F.lit(i + 1)).otherwise(rnk)
    # wide layout: the per-vector ADC distance is an array fold — one
    # row per vector already, so the old groupBy(vec_id, _p) shuffle
    # is gone (r13; guide §2.4)
    cand = (
        wide.filter(F.col("vec_id") != PQ_QUERY_ID)
        .withColumn("_p", rnk)
        .select(
            "vec_id",
            "_p",
            F.aggregate(
                F.transform(
                    F.col("codes"),
                    lambda c, i: F.element_at(
                        F.element_at(
                            F.element_at(dt_lit, F.col("_p")), i + F.lit(1)
                        ),
                        c + F.lit(1),
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("adc_dist"),
        )
    )
    probes = spark.range(1, K + 1).select(
        F.col("id").cast("int").alias("n_probe")
    )
    expanded = cand.join(F.broadcast(probes), F.col("_p") <= F.col("n_probe"))
    w = Window.partitionBy("n_probe").orderBy("adc_dist", "vec_id")
    topk = expanded.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= PQ_K
    )
    counts = (
        topk.join(F.broadcast(brute), "vec_id", "left_semi")
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("n_caught"))
    )
    return probes.join(counts, "n_probe", "left").select(
        "n_probe",
        F.lit(PQ_K).cast("bigint").alias("k"),
        F.coalesce("n_caught", F.lit(0)).cast("bigint").alias("n_caught"),
    )


def _probe_curve_sql() -> str:
    head = _ivfpq_chain(search_tail=False)
    cN = f"c{ITERS}"
    pN = f"p{PQ_ITERS}"
    shared = f"""
, cellrank AS (
  SELECT cluster, ROW_NUMBER() OVER (ORDER BY d, cluster) AS rnk FROM (
    SELECT c.cluster, CAST(SUM((qc.v - c.c) * (qc.v - c.c)) AS BIGINT) AS d
    FROM {cN} c JOIN qc ON qc.pos = c.pos AND qc.vec_id = {PQ_QUERY_ID}
    GROUP BY c.cluster
  )
),
qres_all AS (
  SELECT c.cluster AS cell,
         CAST(qc.pos // {SUB_DIM} AS INTEGER) AS m,
         CAST(qc.pos % {SUB_DIM} AS INTEGER) AS spos,
         qc.v - c.c AS v
  FROM qc JOIN {cN} c ON c.pos = qc.pos
  WHERE qc.vec_id = {PQ_QUERY_ID}
),
dt_all AS (
  SELECT q.cell, p.m, p.code,
         CAST(SUM((q.v - p.c) * (q.v - p.c)) AS BIGINT) AS d
  FROM qres_all q JOIN {pN} p ON p.m = q.m AND p.spos = q.spos
  GROUP BY q.cell, p.m, p.code
),
brute AS (
  SELECT a.vec_id FROM (
    SELECT a.vec_id, CAST(SUM((a.v - qq.v) * (a.v - qq.v)) AS BIGINT) AS dist
    FROM qc a JOIN qc qq ON qq.vec_id = {PQ_QUERY_ID} AND qq.pos = a.pos
    WHERE a.vec_id <> {PQ_QUERY_ID}
    GROUP BY a.vec_id
  ) a
  ORDER BY dist, vec_id
  LIMIT {PQ_K}
)"""
    point_ctes = []
    point_rows = []
    for n in range(1, K + 1):
        point_ctes.append(
            f"""
, topk_{n} AS (
  SELECT pc.vec_id
  FROM pcodes pc
  JOIN dt_all dt ON dt.cell = pc.cell AND dt.m = pc.m AND dt.code = pc.code
  WHERE pc.vec_id <> {PQ_QUERY_ID}
    AND pc.cell IN (SELECT cluster FROM cellrank WHERE rnk <= {n})
  GROUP BY pc.vec_id
  ORDER BY CAST(SUM(dt.d) AS BIGINT), pc.vec_id
  LIMIT {PQ_K}
)"""
        )
        point_rows.append(
            f"SELECT {n} AS n_probe, CAST({PQ_K} AS BIGINT) AS k,"
            f" (SELECT CAST(COUNT(*) AS BIGINT)"
            f"  FROM brute b JOIN topk_{n} t ON b.vec_id = t.vec_id) AS n_caught"
        )
    return head + shared + "".join(point_ctes) + "\n" + "\nUNION ALL\n".join(
        point_rows
    )


QUERIES = {
    "emb_ivf_probe_recall_curve": q_ivf_probe_recall_curve,
    "emb_ivfpq_topk": q_ivfpq_topk,
    "emb_ivfpq_recall_audit": q_ivfpq_recall_audit,
    "emb_ivfpq_batch_topk": q_ivfpq_batch_topk,
    "ann_ivf_append_assign": q_ivf_append_assign,
    "ann_ivf_append_drift_audit": q_ivf_append_drift_audit,
}
ORACLES = {
    "emb_ivf_probe_recall_curve": _probe_curve_sql(),
    "emb_ivfpq_topk": _ivfpq_sql(),
    "emb_ivfpq_recall_audit": _ivfpq_recall_sql(),
    "emb_ivfpq_batch_topk": _ivfpq_batch_sql(),
    "ann_ivf_append_assign": _append_assign_sql(),
    "ann_ivf_append_drift_audit": _append_drift_sql(),
}
