"""Product quantization (PQ) for embedding compression + ANN search.

PQ (Jégou, Douze, Schmid — "Product Quantization for Nearest
Neighbor Search", TPAMI 2011) splits each d-dim vector into M
subvectors and vector-quantizes each subspace independently with its
own K-codeword codebook, so a vector compresses to M small codes
(here 8 x 4 bits = 4 bytes for a 64-dim float vector, a 64x
reduction) and query-time distance becomes a table lookup per
subspace (asymmetric distance computation, ADC) — no float math per
candidate at all.

Spark-first decomposition (extends the reference's brute-force
similarity surface, reference app.py:44-52, with the
compressed-domain scale path — same role the IVF/int8 files play,
operators/ann.py):

- TRAIN: one exploded frame (vec_id, m, sub) carries every subspace;
  a single deterministic Lloyd loop trains all M codebooks AT ONCE —
  per-iteration work is one map-only nearest-codeword pass against
  the (M*K*sub_dim)-int literal codebook array plus one
  groupBy(m, code) floor-avg whose result (M*K*sub_dim bigints,
  ~1 KiB here) is the only driver round-trip. Same exact fixed-point
  integer arithmetic as operators/kmeans.py, so the unrolled-CTE
  DuckDB twin reproduces training bit for bit and the driver
  hash-checks codes AND search results end to end — no
  invariant-only weakening.
- ENCODE: map-only argmin per subspace (whole-stage codegen; the
  codebook is a plan literal, nothing is shuffled or joined).
- SEARCH (ADC): the M*K distance table is computed on the DRIVER
  from the collected codebooks (M*K exact ints), broadcast as a
  literal, and each row's approximate distance is M array lookups +
  a sum — a pure map stage feeding TakeOrderedAndProject(k).

100 TB shape: codebooks train on a deterministic HASH-SAMPLE by
default (kmeans.train_sample_filter, modulus auto-sized from the
corpus; codebook quality needs ~1e5 rows, not the corpus — raise
sample_target at production k) while the final encode covers every
row in one pass; encode and ADC are embarrassingly parallel scans
with zero shuffle; the ADC top-k is the same TakeOrderedAndProject
pattern as BM25 top-k. Combine with the IVF
partition pruning in operators/ann.py for the IVF-PQ layout FAISS
uses at billion scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.io import check_top_k, load_table, session_cached
from searchengine_spark.operators.kmeans import (
    FP_SCALE,
    TRAIN_SAMPLE_TARGET,
    fixed_point_vec,
    train_sample_filter,
    train_sample_mod,
    train_sample_sql,
)

EMB_DIM = 64
M = 8  # subspaces
SUB_DIM = EMB_DIM // M
KPQ = 16  # codewords per subspace (4-bit codes)
PQ_ITERS = 3
PQ_K = 10
PQ_QUERY_ID = 5  # fixed query vector for the oracle-checked search


def _sub_frame(emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, m, sub array<bigint>) — every subspace of every vector in
    ONE frame so the Lloyd loop trains all M codebooks per pass."""
    slices = F.array(
        *[
            F.slice(fixed_point_vec(vec_col), m * SUB_DIM + 1, SUB_DIM)
            for m in range(M)
        ]
    )
    return emb.select(
        F.col(id_col).alias("vec_id"), F.posexplode(slices).alias("m", "sub")
    )


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _codebooks_literal(codebooks: list[list[list[int]]]) -> Column:
    """array[m] of array[j] of struct(code, cvec) — the whole PQ
    codebook as an in-plan constant (M*KPQ*SUB_DIM bigints)."""
    return F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("code"),
                        F.array(*[F.lit(int(v)) for v in cvec]).alias("cvec"),
                    )
                    for j, cvec in enumerate(book)
                ]
            )
            for book in codebooks
        ]
    )


def _codebooks_arr(codebooks: list[list[list[int]]]) -> Column:
    """The PQ codebook as ONE nested-array literal — array[m][j] of
    cvec — built with a single F.lit call instead of M*KPQ*SUB_DIM
    py4j round-trips (the struct-tagged variant `_codebooks_literal`
    costs ~1.5k driver calls per use; plan-construction time, guide
    §1 'measure first' finding r13). Codeword id == its 0-based
    position, the same invariant `_codebooks_literal` encodes
    explicitly in its `code` field. Cast to bigint so every distance
    sum stays in exact int64 arithmetic. Rendered via io.int_array_lit
    (one parsed SQL expression) — the element-wise F.lit conversion
    cost ~1.3 s of py4j traffic per call for the 1k-entry codebook
    (r14 measurement; guide §1.2 step 2, driver-side per-task work)."""
    from searchengine_spark.io import int_array_lit

    return int_array_lit(
        [[list(map(int, cvec)) for cvec in book] for book in codebooks],
        "array<array<array<bigint>>>",
    )


def _wide_subs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_count: int = M,
    sub_dim: int = SUB_DIM,
) -> DataFrame:
    """(vec_id, subs array[m] of array<bigint>) — every subspace of a
    vector in ONE row. The no-explode layout every per-vector pass
    (encode, ADC scoring) consumes: downstream per-vector sums become
    array folds instead of a groupBy(vec_id) shuffle of M rows per
    vector (guide §2.4 — remove the shuffle outright)."""
    slices = F.array(
        *[
            F.slice(fixed_point_vec(vec_col), m * sub_dim + 1, sub_dim)
            for m in range(m_count)
        ]
    )
    return emb.select(F.col(id_col).alias("vec_id"), slices.alias("subs"))


def _assign_codes_wide(
    wide: DataFrame, codebooks: list[list[list[int]]]
) -> DataFrame:
    """Map-only nearest-codeword per subspace on the WIDE layout:
    adds aligned arrays (codes, dists). Same argmin + (dist, code)
    lexicographic tie-break as `_assign_codes` (array_min on the
    (dist, position) struct), so codes/dists are bit-identical to the
    exploded path and the unrolled SQL twins."""
    cbs = _codebooks_arr(codebooks)
    best = F.transform(
        F.col("subs"),
        lambda sub, i: F.array_min(
            F.transform(
                F.element_at(cbs, i + F.lit(1)),
                lambda cvec, j: F.struct(
                    _sq_dist(sub, cvec).alias("dist"),
                    j.cast("int").alias("code"),
                ),
            )
        ),
    )
    return (
        wide.withColumn("_best", best)
        .withColumn("codes", F.col("_best").getField("code"))
        .withColumn("dists", F.col("_best").getField("dist"))
        .drop("_best")
    )


def _explode_wide_codes(wide: DataFrame) -> DataFrame:
    """WIDE codes frame -> the long (vec_id, m, code, dist, sub)
    contract the oracles and the incremental consumers use. Pure
    map-side posexplode of the already-materialized wide frame."""
    return wide.select(
        "vec_id",
        F.posexplode(F.arrays_zip("codes", "dists", "subs")).alias("m", "_z"),
    ).select(
        "vec_id",
        "m",
        F.col("_z.codes").alias("code"),
        F.col("_z.dists").alias("dist"),
        F.col("_z.subs").alias("sub"),
    )


def _assign_codes(subs: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """Map-only nearest-codeword per (vec_id, m): adds (code, dist).
    argmin with (dist, code) lexicographic tie-break — identical to
    the kmeans assignment contract so the SQL twin's ROW_NUMBER
    (ORDER BY dist, cluster) reproduces it."""
    cbs = _codebooks_literal(codebooks)
    best = F.array_min(
        F.transform(
            F.element_at(cbs, F.col("m") + 1),
            lambda c: F.struct(
                _sq_dist(F.col("sub"), c["cvec"]).alias("dist"),
                c["code"].alias("code"),
            ),
        )
    )
    return (
        subs.withColumn("_best", best)
        .select(
            "*",
            F.col("_best")["code"].alias("code"),
            F.col("_best")["dist"].alias("dist"),
        )
        .drop("_best")
    )


def _update_codebooks(
    assigned: DataFrame, codebooks: list[list[list[int]]]
) -> list[list[list[int]]]:
    """One Lloyd update across ALL subspaces: floor-avg per
    (m, code, pos); empty codewords keep their previous centroid
    (all-or-nothing per codeword, same rule as kmeans)."""
    comp = assigned.select(
        "m", "code", F.posexplode("sub").alias("pos", "v")
    )
    rows = (
        comp.groupBy("m", "code", "pos")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("c")
        )
        .collect()
    )
    new = [[list(c) for c in book] for book in codebooks]
    got: dict[tuple[int, int], list[int | None]] = {}
    for r in rows:
        got.setdefault((r["m"], r["code"]), [None] * SUB_DIM)[r["pos"]] = r["c"]
    for (m, j), vec in got.items():
        new[m][j] = [int(v) for v in vec]
    return new


def _pq_lloyd_driver(
    sub_rows: list[tuple[int, list[int]]],
    codebooks: list[list[list[int]]],
    iters: int,
) -> list[list[list[int]]]:
    """Driver-side exact PQ Lloyd over the BOUNDED sample: subspaces
    are independent, so this is kmeans._lloyd_driver per m —
    bit-identical to iterating _assign_codes/_update_codebooks
    (KPQ <= HIER_THRESHOLD always: the flat-argmin regime). Same
    rationale: the sample is O(sample_target * M) rows by design, so
    the Spark loop is pure job-scheduling overhead."""
    from searchengine_spark.operators.kmeans import _lloyd_driver

    by_m: list[list[list[int]]] = [[] for _ in codebooks]
    for m, sub in sub_rows:
        by_m[m].append(sub)
    return [
        _lloyd_driver(by_m[m], book, iters) if by_m[m] else [list(c) for c in book]
        for m, book in enumerate(codebooks)
    ]


def train_wide_codebooks(
    wide: DataFrame,
    *,
    smod: int,
    iters: int = PQ_ITERS,
) -> list[list[list[int]]]:
    """Deterministic PQ codebook training over any WIDE subspace
    frame (vec_id, subs). Init = the first KPQ PRESENT ids (ordered)
    with dense positional code labels; Lloyd runs driver-side over
    the deterministic hash-sample — both identical to the long-format
    path, but ids + init subvectors arrive in ONE bounded collect
    instead of two, and the sample collect ships one array row per
    vector instead of M exploded rows."""
    init = wide.orderBy("vec_id").limit(KPQ).collect()
    m_count = len(init[0]["subs"]) if init else M
    sub_dim = len(init[0]["subs"][0]) if init else SUB_DIM
    codebooks: list[list[list[int]]] = [
        [[0] * sub_dim for _ in range(KPQ)] for _ in range(m_count)
    ]
    for j, r in enumerate(init):
        for m, sub in enumerate(r["subs"]):
            codebooks[m][j] = [int(v) for v in sub]
    train = (
        wide.filter(train_sample_filter(smod, "vec_id")) if smod > 1 else wide
    )
    sub_rows = [
        (m, [int(v) for v in sub])
        for r in train.select("subs").collect()
        for m, sub in enumerate(r["subs"])
    ]
    return _pq_lloyd_driver(sub_rows, codebooks, iters)


def pq_train_wide(
    emb: DataFrame,
    *,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_target: int = TRAIN_SAMPLE_TARGET,
) -> tuple[DataFrame, list[list[list[int]]]]:
    """Deterministic PQ training on the WIDE layout; returns
    (wide codes frame (vec_id, subs, codes, dists), codebooks).
    Same init / hash-sampled driver Lloyd / full-corpus encode as the
    historical long-format trainer (bit-identical codebooks and
    codes), with zero explode: one encode pass over one row per
    vector."""
    wide = _wide_subs(
        emb, id_col=id_col, vec_col=vec_col
    ).persist()
    try:
        smod = train_sample_mod(wide.count(), sample_target)
        codebooks = train_wide_codebooks(wide, smod=smod, iters=iters)
        final = _assign_codes_wide(wide, codebooks)
        from searchengine_spark.io import cut_lineage

        return cut_lineage(final), codebooks
    finally:
        wide.unpersist()


def pq_train(
    emb: DataFrame,
    *,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_target: int = TRAIN_SAMPLE_TARGET,
) -> tuple[DataFrame, list[list[list[int]]]]:
    """Deterministic PQ training; returns (codes frame, codebooks).

    codes frame: (vec_id, m, code, dist, sub) under the final
    codebooks — one row per subspace, the long-format PQ encoding
    (posexploded from the wide trainer; `sub` rides along so residual
    consumers need no re-derive join). Codebook m is initialized from
    the m-th subvectors of the first KPQ ids (ordered), mirroring
    kmeans_fit_assign's init. The iterated Lloyd updates run on the
    deterministic hash-sample of vectors (kmeans.train_sample_filter
    — O(sample) per pass); init and the final full-corpus encode are
    unchanged."""
    wide, codebooks = pq_train_wide(
        emb,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        sample_target=sample_target,
    )
    return _explode_wide_codes(wide), codebooks


def adc_distance_table(
    qsub: list[list[int]], codebooks: list[list[list[int]]]
) -> list[list[int]]:
    """dt[m][j] = exact integer squared distance from the query's
    m-th subvector to codeword j — M*KPQ ints, computed once on the
    driver and broadcast as a plan literal."""
    return [
        [
            sum((x - y) * (x - y) for x, y in zip(qsub[m], cvec))
            for cvec in codebooks[m]
        ]
        for m in range(M)
    ]


def pq_search(
    codes: DataFrame,
    dtable: list[list[int]],
    *,
    k: int = PQ_K,
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k over the long-format codes frame: per-row table
    lookup, one groupBy(vec_id) sum of M partials, then
    TakeOrderedAndProject(k). No join, no float math."""
    check_top_k(k)
    from searchengine_spark.io import int_array_lit

    dt = int_array_lit(
        [[int(d) for d in row] for row in dtable], "array<array<bigint>>"
    )
    looked = codes.select(
        "vec_id",
        F.element_at(
            F.element_at(dt, F.col("m") + 1), F.col("code") + 1
        ).alias("_d"),
    )
    if exclude_id is not None:
        looked = looked.filter(F.col("vec_id") != exclude_id)
    return (
        looked.groupBy("vec_id")
        .agg(F.sum("_d").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )


def pq_search_wide(
    wide_codes: DataFrame,
    dtable: list[list[int]],
    *,
    k: int = PQ_K,
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k over the WIDE codes frame: the per-vector distance is
    an array fold over the codes column — a pure map feeding
    TakeOrderedAndProject(k) with ZERO exchange (the long path's
    groupBy(vec_id) shuffled M rows per corpus vector; guide §2.4)."""
    check_top_k(k)
    from searchengine_spark.io import int_array_lit

    dt = int_array_lit(
        [[int(d) for d in row] for row in dtable], "array<array<bigint>>"
    )
    looked = wide_codes.select(
        "vec_id",
        F.aggregate(
            F.transform(
                F.col("codes"),
                lambda c, i: F.element_at(
                    F.element_at(dt, i + F.lit(1)), c + F.lit(1)
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("adc_dist"),
    )
    if exclude_id is not None:
        looked = looked.filter(F.col("vec_id") != exclude_id)
    return looked.orderBy("adc_dist", "vec_id").limit(k)


# --------------------------------------------------------------- queries

def _cached_pq_wide(spark: SparkSession, sf_dir: str):
    """Session-shared WIDE PQ encoding — the one training every PQ
    consumer (codes/ADC queries, the residual-refinement audit)
    derives from. pq_train_wide already cuts lineage
    (localCheckpoint), so the cached frame is materialized."""

    def build():
        return pq_train_wide(load_table(spark, sf_dir, "embeddings"))

    return session_cached(spark, "pq_train", sf_dir, build)


def _cached_pq(spark: SparkSession, sf_dir: str):
    wide, codebooks = _cached_pq_wide(spark, sf_dir)
    return _explode_wide_codes(wide), codebooks


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code, dist) — the full PQ encoding of the
    embeddings table after PQ_ITERS exact Lloyd rounds, hash-checked
    against the unrolled-CTE DuckDB twin."""
    codes, _ = _cached_pq(spark, sf_dir)
    return codes.select("vec_id", "m", "code", "dist")


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for the fixed query vector (vec_id=PQ_QUERY_ID) in
    the COMPRESSED domain: exact-integer distance-table lookups, so
    the result hash-matches the SQL twin row for row."""
    wide, codebooks = _cached_pq_wide(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = (
        emb.filter(F.col("vec_id") == PQ_QUERY_ID)
        .select(fixed_point_vec("embedding").alias("qv"))
        .collect()[0]
    )
    qv = [int(v) for v in qrow["qv"]]
    qsub = [qv[m * SUB_DIM : (m + 1) * SUB_DIM] for m in range(M)]
    return pq_search_wide(
        wide,
        adc_distance_table(qsub, codebooks),
        k=PQ_K,
        exclude_id=PQ_QUERY_ID,
    )


# --------------------------------------------------------------- oracles

def _pq_ctes(iters: int = PQ_ITERS) -> str:
    """Unrolled PQ Lloyd chain (all M subspaces at once), mirroring
    pq_train step for step — same shape as kmeans._kmeans_ctes but
    keyed by (m, code). Ends with `codes` = (vec_id, m, code, dist)
    under the final codebooks. Training rounds read the hash-sampled
    `qst`; init (c0) and the final encode read the full corpus."""
    samp = train_sample_sql("SELECT s FROM smod", "qs.vec_id")
    parts = [
        f"""
q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
qs AS MATERIALIZED (
  SELECT vec_id,
         CAST((generate_subscripts(qv, 1) - 1) // {SUB_DIM} AS INTEGER) AS m,
         CAST((generate_subscripts(qv, 1) - 1) % {SUB_DIM} AS INTEGER) AS spos,
         unnest(qv) AS v
  FROM q
),
smod AS MATERIALIZED (
  SELECT GREATEST(1, COUNT(*) // {TRAIN_SAMPLE_TARGET}) AS s FROM q
),
qst AS MATERIALIZED (
  SELECT qs.* FROM qs WHERE {samp}
),
c0 AS MATERIALIZED (
  SELECT qs.m, CAST(i.code AS INTEGER) AS code, qs.spos, qs.v AS c
  FROM qs JOIN (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
    FROM q ORDER BY vec_id LIMIT {KPQ}
  ) i ON qs.vec_id = i.vec_id
)"""
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""
a{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT d.vec_id, d.m, d.code,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT qst.vec_id, qst.m, c.code,
             CAST(SUM((qst.v - c.c) * (qst.v - c.c)) AS BIGINT) AS dist
      FROM qst JOIN {prev} c ON qst.m = c.m AND qst.spos = c.spos
      GROUP BY qst.vec_id, qst.m, c.code
    ) d
  ) WHERE rn = 1
),
c{i} AS MATERIALIZED (
  SELECT p.m, p.code, p.spos, COALESCE(u.c, p.c) AS c
  FROM {prev} p
  LEFT JOIN (
    SELECT a.m, a.code, qst.spos,
           CAST(floor(CAST(SUM(qst.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
    FROM qst JOIN a{i} a ON qst.vec_id = a.vec_id AND qst.m = a.m
    GROUP BY a.m, a.code, qst.spos
  ) u ON p.m = u.m AND p.code = u.code AND p.spos = u.spos
)"""
        )
    parts.append(
        f"""
codes AS MATERIALIZED (
  SELECT vec_id, m, code, dist FROM (
    SELECT d.vec_id, d.m, d.code, d.dist,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT qs.vec_id, qs.m, c.code,
             CAST(SUM((qs.v - c.c) * (qs.v - c.c)) AS BIGINT) AS dist
      FROM qs JOIN c{iters} c ON qs.m = c.m AND qs.spos = c.spos
      GROUP BY qs.vec_id, qs.m, c.code
    ) d
  ) WHERE rn = 1
)"""
    )
    return "WITH " + ",".join(parts)


QUERIES = {
    "emb_pq_codes": q_pq_codes,
    "emb_pq_adc_topk": q_pq_adc_topk,
}

ORACLES = {
    "emb_pq_codes": f"""
        {_pq_ctes()}
        SELECT vec_id, CAST(m AS INTEGER) AS m, code, dist FROM codes
    """,
    "emb_pq_adc_topk": f"""
        {_pq_ctes()}
        , dt AS (
          SELECT c.m, c.code,
                 CAST(SUM((qs.v - c.c) * (qs.v - c.c)) AS BIGINT) AS d
          FROM c{PQ_ITERS} c
          JOIN qs ON qs.vec_id = {PQ_QUERY_ID}
                 AND qs.m = c.m AND qs.spos = c.spos
          GROUP BY c.m, c.code
        )
        SELECT codes.vec_id,
               CAST(SUM(dt.d) AS BIGINT) AS adc_dist
        FROM codes JOIN dt ON codes.m = dt.m AND codes.code = dt.code
        WHERE codes.vec_id <> {PQ_QUERY_ID}
        GROUP BY codes.vec_id
        ORDER BY adc_dist, vec_id
        LIMIT {PQ_K}
    """,
}
