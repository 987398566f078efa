"""Deterministic fixed-point k-means over embeddings + SemDeDup prune.

Why another k-means when `operators/ann.py` already trains an IVF
coarse quantizer with MLlib? MLlib's KMeans is seeded but
engine-specific — its result can only be rows-only checked
(`ann_ivf_topk`). This module is the hash-provable twin: Lloyd's
algorithm over FIXED-POINT integer vectors, so every distance, every
argmin, and every centroid update is exact integer (or exactly-
specified IEEE) arithmetic that DuckDB reproduces bit-for-bit. The
driver's value-hash compare then proves the full iterative training
loop, not just "it ran".

Semantics (mirrored exactly in the generated SQL oracle):

- quantize: q_i = floor(double(x_i) * 10000 + 0.5) as BIGINT
  (values are O(1) floats, so |q| <= ~10^4; squared-distance sums
  over 64 dims stay far below 2^63). float32->double is exact and
  floor(x+0.5) avoids round-half engine differences — same trick as
  `operators/quantization.py`.
- init: centroid j = quantized vector of vec_id j (j = 0..k-1).
- assign: cluster = argmin_j sum_i (q_i - c_{j,i})^2, ties to the
  lowest j. Exact BIGINT comparison — no float argmin flakiness.
- update: c'_{j,i} = floor(sum(q_i) / count) — the sum and count are
  exact in double (sums <= ~10^8 << 2^53) and IEEE division of two
  exactly-represented integers is bit-identical everywhere, so the
  floor is too. Empty clusters keep their previous centroid.
- ITERS update rounds, then one final assignment against the final
  centroids.

Scale shape (the part that must survive 100 TB):

- Assignment is MAP-ONLY: the k centroids (k x dim bigints, a few KB)
  travel as a literal array-of-structs column, and each row folds its
  own distance — no join, no shuffle, no UDF. `array_min` over
  struct(dist, cluster) is the argmin with the tie-break built into
  lexicographic struct comparison.
- The update is one posexplode + groupBy(cluster, pos) — shuffle
  width n*dim rows of 3 small ints, with map-side partial sums. This
  is the same aggregate shape MLlib uses internally.
- Per iteration the driver collects only k*dim bigints (the new
  centroids) — O(KB), never data-sized. ITERS driver round-trips is
  the textbook Lloyd structure; at 100 TB you persist the quantized
  frame once and pay ITERS map+agg passes over it.

SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public): cluster
first, then search near-duplicates only WITHIN each cluster, turning
the quadratic all-pairs problem into sum-of-squares over cluster
sizes. Prune rule: a vector is pruned when a LOWER-id member of its
cluster has cosine >= THETA with it (keep-lowest-id, same convention
as the text near-dup family in operators/dedup.py).

The reference has no clustering op; this extends the engine for the
LLM-curation pipeline the build brief calls for (embedding-based
semantic dedup). Cites: reference BM25/search surface only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.io import load_table, session_cached
from searchengine_spark.operators.similarity import cosine_expr

FP_SCALE = 10_000  # fixed-point resolution 1e-4
K = 8
ITERS = 3
# SemDeDup's quadratic term is sum over clusters of |cluster|^2, so
# cluster COUNT must scale with the data (Abbas et al. use ~100k
# clusters at LAION scale): k = max(K, n // TARGET_CLUSTER_SIZE)
# bounds within-cluster pair work at ~n * TARGET and keeps the
# cluster key-space (join parallelism) growing with n. The round-4
# soak caught the fixed-K version going 47x at 5x data. At every
# driver/testdata scale (<= 2000 vectors) the formula yields exactly
# K=8, so the static DuckDB oracles (_kmeans_ctes(k=K)) stay exact.
TARGET_CLUSTER_SIZE = 250
SEMDEDUP_THETA = 0.35  # testdata embeddings are near-random (max
# pairwise cosine ~0.44), so a production-style 0.95 would prune
# nothing; 0.35 exercises the prune path with a stable margin from
# the bulk of the cosine mass (99.9th pct ~0.37).

# Codebook/centroid TRAINING runs on a deterministic hash-sample, not
# the full corpus (round-9 verdict's one scale-weak: ITERS full-corpus
# Lloyd passes to learn k*dim parameters a bounded sample learns as
# well — the classic fit/transform split; FAISS trains IVF-PQ on
# ~1e5-1e6 vectors regardless of index size). The modulus adapts to
# the data (keep ~1-in-(n/target)), the membership test is the md5
# convention the DuckDB twins mirror exactly, and init + the FINAL
# full-corpus assignment are unchanged — so training cost is
# O(sample) per iteration while encode stays one corpus pass.
# Production sizing: the sample must stay >= ~30x the cluster count
# or the centroids underfit and skew the clustering (round-10 soak:
# k=40 on a 250-row sample doubled SemDeDup's pair work) —
# scaled_sample_target() holds the per-cluster density automatically
# as the adaptive k grows, leaving every k<=K (driver SF) run and its
# DuckDB twin unchanged.
TRAIN_SAMPLE_TARGET = 250
TRAIN_SAMPLE_SALT = "cbtrain"


def train_sample_mod(n: int, target: int = TRAIN_SAMPLE_TARGET) -> int:
    """Sample modulus keeping ~target of n rows (1 = no sampling)."""
    return max(1, n // target)


def scaled_sample_target(k: int, target: int = TRAIN_SAMPLE_TARGET) -> int:
    """Training-sample size for an adaptive cluster count: hold the
    per-cluster sample density of the oracle-checked k=K regime
    (~TRAIN_SAMPLE_TARGET/K rows per cluster) as k grows. At k<=K
    this is exactly `target`, so every driver-SF configuration —
    and therefore every DuckDB twin — is byte-identical; only the
    soak/production scales (k>K) train on a larger sample. Without
    this, k=40 trained on ~250 rows (~6/cluster) produced centroids
    skewed enough to double SemDeDup's within-cluster pair work
    (round-10 soak: max cluster 930 vs target 250 at x5)."""
    return target * ((k + K - 1) // K)


def train_sample_filter(mod: int, id_col: str = "vec_id") -> Column:
    """Deterministic training-set membership: md5 bucket 0 of `mod`.
    Same record regardless of partitioning/appends; DuckDB twin is
    train_sample_sql."""
    from searchengine_spark.operators.sampling import hash_bucket

    return hash_bucket(F.col(id_col), n_buckets=mod, salt=TRAIN_SAMPLE_SALT) == 0


def train_sample_sql(mod_expr: str, id_col: str = "vec_id") -> str:
    """DuckDB twin of train_sample_filter; mod_expr may be a scalar
    subquery so the oracle sizes the modulus from the data like the
    Spark side does."""
    return (
        f"(('0x' || substr(md5('{TRAIN_SAMPLE_SALT}' || "
        f"CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT % ({mod_expr})) = 0"
    )


def fixed_point_vec(col: Column | str) -> Column:
    """array<bigint> fixed-point view of a float-array column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c,
        lambda x: F.floor(x.cast("double") * FP_SCALE + F.lit(0.5)).cast(
            "bigint"
        ),
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Exact integer squared euclidean distance between bigint arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _tagged_vec_sql(tag: str, j: int, vec: list[int]) -> str:
    """named_struct('<tag>', j, 'cvec', array(..L)) as SQL text — the
    building block for centroid/codebook literals parsed in ONE py4j
    call (element-wise F.lit costs ~0.65 ms/element of driver-side
    py4j traffic, measured r14: a k=400 x 64-dim centroid literal is
    ~16 s of pure plan construction the parsed form does in ms)."""
    vs = ",".join(f"{int(v)}L" for v in vec)
    return f"named_struct('{tag}', {int(j)}, 'cvec', array({vs}))"


def _centroids_literal(centroids: list[list[int]]) -> Column:
    """k centroids as a literal array<struct<cluster,cvec>> column —
    broadcast-by-literal, so assignment needs no join at all.
    Rendered as one parsed SQL expression (see _tagged_vec_sql)."""
    return F.expr(
        "array("
        + ",".join(
            _tagged_vec_sql("cluster", j, cvec)
            for j, cvec in enumerate(centroids)
        )
        + ")"
    )


def assign_clusters(quant: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Map-only nearest-centroid assignment.

    Adds (cluster int, dist bigint). argmin + lowest-cluster tie-break
    via array_min over struct(dist, cluster) (lexicographic).
    """
    cents = _centroids_literal(centroids)
    best = F.array_min(
        F.transform(
            cents,
            lambda c: F.struct(
                _sq_dist(F.col("qvec"), c["cvec"]).alias("dist"),
                c["cluster"].alias("cluster"),
            ),
        )
    )
    return quant.withColumn("_best", best).select(
        "*",
        F.col("_best")["cluster"].alias("cluster"),
        F.col("_best")["dist"].alias("dist"),
    ).drop("_best")


HIER_THRESHOLD = 16  # above this k, assignment goes two-level


def _coarse_partition(
    centroids: list[list[int]], n_coarse: int, iters: int = 3
) -> tuple[list[list[int]], list[list[int]]]:
    """Driver-side deterministic mini-Lloyd over the k CENTROID
    vectors (k is thousands at most — pure-python integers, exact):
    returns (coarse centroids, cells) where cells[j] lists the fine
    centroid indices owned by coarse j (empty cells dropped)."""
    k = len(centroids)
    coarse = [list(centroids[i]) for i in range(min(n_coarse, k))]

    def sqd(a: list[int], b: list[int]) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def nearest(c: list[int]) -> int:
        return min(range(len(coarse)), key=lambda j: (sqd(c, coarse[j]), j))

    assign = [0] * k
    for _ in range(iters):
        for i, c in enumerate(centroids):
            assign[i] = nearest(c)
        for j in range(len(coarse)):
            members = [centroids[i] for i in range(k) if assign[i] == j]
            if members:
                dim = len(coarse[j])
                coarse[j] = [
                    sum(m[d] for m in members) // len(members) for d in range(dim)
                ]
    for i, c in enumerate(centroids):
        assign[i] = nearest(c)
    kept, cells = [], []
    for j in range(len(coarse)):
        members = [i for i in range(k) if assign[i] == j]
        if members:
            kept.append(coarse[j])
            cells.append(members)
    return kept, cells


def assign_clusters_hier(
    quant: DataFrame, centroids: list[list[int]]
) -> DataFrame:
    """Two-level nearest-centroid assignment: argmin over ~sqrt(k)
    coarse centroids, then argmin among that coarse cell's fine
    centroids — ~2*sqrt(k) distance folds per row instead of k.

    With k ~ n/TARGET (the SemDeDup sizing), exact flat assignment is
    O(n*k) = O(n^2/TARGET) per iteration — the soak measured it 9x at
    5x data. Two-level cuts that to O(n*sqrt(k)) at the standard
    price: assignment is approximate near cell boundaries (a row's
    true nearest fine centroid can live in a non-nearest cell), which
    is exactly the trade the SemDeDup paper makes with ANN-assisted
    assignment. Still fully DETERMINISTIC (integer arithmetic,
    lexicographic ties), so results are layout- and rerun-stable.
    """
    coarse, cells = _coarse_partition(
        centroids, max(2, int(len(centroids) ** 0.5))
    )
    coarse_lit = F.expr(
        "array("
        + ",".join(
            _tagged_vec_sql("cell", j, cv) for j, cv in enumerate(coarse)
        )
        + ")"
    )
    cells_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                _tagged_vec_sql("cluster", i, centroids[i]) for i in cell
            )
            + ")"
            for cell in cells
        )
        + ")"
    )
    best_cell = F.array_min(
        F.transform(
            coarse_lit,
            lambda c: F.struct(
                _sq_dist(F.col("qvec"), c["cvec"]).alias("dist"),
                c["cell"].alias("cell"),
            ),
        )
    )["cell"]
    members = F.element_at(cells_lit, best_cell + 1)  # element_at is 1-based
    best = F.array_min(
        F.transform(
            members,
            lambda c: F.struct(
                _sq_dist(F.col("qvec"), c["cvec"]).alias("dist"),
                c["cluster"].alias("cluster"),
            ),
        )
    )
    return quant.withColumn("_best", best).select(
        "*",
        F.col("_best")["cluster"].alias("cluster"),
        F.col("_best")["dist"].alias("dist"),
    ).drop("_best")


def _assign(quant: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Flat exact argmin up to HIER_THRESHOLD (the oracle-checked
    regime), two-level above it."""
    if len(centroids) > HIER_THRESHOLD:
        return assign_clusters_hier(quant, centroids)
    return assign_clusters(quant, centroids)


def _update_centroids(
    assigned: DataFrame, centroids: list[list[int]]
) -> list[list[int]]:
    """One Lloyd update; collects only k*dim bigints to the driver.
    Empty clusters keep their previous centroid."""
    comp = assigned.select("cluster", F.posexplode("qvec").alias("pos", "v"))
    rows = (
        comp.groupBy("cluster", "pos")
        .agg(
            F.floor(
                F.sum("v").cast("double") / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("c")
        )
        .collect()
    )
    dim = len(centroids[0])
    new = [list(c) for c in centroids]
    got: dict[int, list[int | None]] = {}
    for r in rows:
        got.setdefault(r["cluster"], [None] * dim)[r["pos"]] = r["c"]
    for j, vec in got.items():
        new[j] = [int(v) for v in vec]  # a cluster is all-or-nothing
    return new


def _lloyd_driver(
    vecs: list[list[int]], centroids: list[list[int]], iters: int
) -> list[list[int]]:
    """Driver-side exact Lloyd over the BOUNDED training sample —
    bit-identical to iterating _assign/_update_centroids in the flat
    (k <= HIER_THRESHOLD) regime: same int64 squared distances, same
    first-occurrence argmin (= the (dist, cluster) lexicographic
    tie-break, clusters being in index order), same
    floor(double(sum)/count) update, same empty-cluster keep rule.

    Why: the sample is O(sample_target) rows BY DESIGN, so iterating
    over it as Spark jobs buys no parallelism and pays
    2*iters job-scheduling round-trips (measured ~1 s each at any
    SF — it is fixed overhead, not data cost). This is FAISS's
    train() exactly: fit on the driver over a bounded sample,
    transform distributed. Magnitudes: |qvec| <= ~3*FP_SCALE, so
    diff^2 * dim < 2^40 (int64-exact) and coordinate sums < 2^31
    (double-exact before the floor).
    """
    import math

    import numpy as np

    x = np.asarray(vecs, dtype=np.int64)
    cents = [list(c) for c in centroids]
    for _ in range(iters):
        ca = np.asarray(cents, dtype=np.int64)
        d2 = ((x[:, None, :] - ca[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # first occurrence = lowest cluster
        for j in range(len(cents)):
            mask = assign == j
            if mask.any():
                s = x[mask].sum(axis=0)
                cnt = int(mask.sum())
                cents[j] = [int(math.floor(float(si) / cnt)) for si in s]
    return cents


def kmeans_fit_assign(
    emb: DataFrame,
    *,
    k: int | None = None,
    iters: int = ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_target: int = TRAIN_SAMPLE_TARGET,
) -> DataFrame:
    """Run the full deterministic Lloyd loop; returns
    (id_col, cluster, dist) under the FINAL centroids.

    ``k=None`` (default) adapts the cluster count to the data:
    max(K, n // TARGET_CLUSTER_SIZE). Pass an explicit k to pin it.

    Training (the iterated assign+update passes) runs on the
    deterministic hash-sample (~sample_target rows); init and the
    FINAL assignment run on the full corpus, so the output covers
    every row while per-iteration cost is O(sample).
    """
    quant = emb.select(
        F.col(id_col), fixed_point_vec(vec_col).alias("qvec")
    ).persist()
    train = None
    try:
        n = quant.count()
        if k is None:
            k = max(K, n // TARGET_CLUSTER_SIZE)
        smod = train_sample_mod(n, scaled_sample_target(k, sample_target))
        # the sample is O(sample_target) rows at any scale: cache it
        # in a few partitions so each Lloyd pass schedules ~4 tasks,
        # not one per source partition (pure-overhead at small SF)
        train = (
            quant.filter(train_sample_filter(smod, id_col)).coalesce(4).persist()
            if smod > 1
            else quant
        )
        # init = the first k PRESENT ids (dense positional labels) —
        # identical to `id < k` on a contiguous corpus, but also
        # correct on filtered inputs (e.g. the incremental-ANN base
        # split), where `id < k` would silently yield fewer centroids
        init_rows = quant.orderBy(id_col).limit(k).collect()
        centroids = [[int(v) for v in r["qvec"]] for r in init_rows]
        if k <= HIER_THRESHOLD:
            # flat regime: one bounded collect + driver Lloyd (exact
            # twin of the distributed loop — see _lloyd_driver)
            vecs = [[int(v) for v in r["qvec"]] for r in train.select("qvec").collect()]
            centroids = _lloyd_driver(vecs, centroids, iters)
        else:
            for _ in range(iters):
                centroids = _update_centroids(
                    _assign(train, centroids), centroids
                )
        final = _assign(quant, centroids).select(
            id_col, "cluster", "dist"
        )
        # Materialize before unpersist: the caller's plan must not
        # recompute the persisted frame after we drop it. Same
        # local-vs-reliable cut policy as the iterative CC loop.
        from searchengine_spark.io import cut_lineage

        return cut_lineage(final)
    finally:
        if train is not None and train is not quant:
            train.unpersist()
        quant.unpersist()


def _cached_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        return kmeans_fit_assign(load_table(spark, sf_dir, "embeddings"))

    return session_cached(spark, "kmeans_assign", sf_dir, build)


# --------------------------------------------------------------- queries

def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, dist) after ITERS exact Lloyd rounds."""
    return _cached_assignment(spark, sf_dir)


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDeDup verdict: cluster, number of LOWER-id
    same-cluster neighbors with cosine >= THETA, pruned flag.

    Within-cluster all-pairs only — the clustering bounds the
    quadratic term by the largest cluster, which is the entire point
    of SemDeDup at scale. Cosine runs on the ORIGINAL float vectors
    (rounded to 6, same fold order both engines)."""
    from searchengine_spark.operators.similarity import norm_expr

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _cached_assignment(spark, sf_dir).select("vec_id", "cluster")
    # Per-vector norm computed ONCE on the linear side (r14; guide
    # §1.2 step 2): cosine_expr evaluated per candidate PAIR folds
    # dot(a,b), dot(a,a) and dot(b,b) — the two norm folds repeat
    # per pair what one map pass computes per vector. dot/(na*nb)
    # applies the identical double operations in the identical order,
    # so the rounded-6 cosine is bit-unchanged (oracle hash green).
    vecs = emb.select(
        "vec_id", "embedding", norm_expr(F.col("embedding")).alias("nrm")
    ).join(assigned, "vec_id")
    a = vecs.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
        "cluster",
    )
    b = vecs.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
        F.col("cluster").alias("b_cluster"),
    )
    from searchengine_spark.operators.similarity import dot_expr

    cos_ab = dot_expr(F.col("a_vec"), F.col("b_vec")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    dup_counts = (
        a.join(
            b,
            (F.col("cluster") == F.col("b_cluster"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .filter(F.round(cos_ab, 6) >= F.lit(SEMDEDUP_THETA))
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_dup_lower"))
    )
    return (
        assigned.join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("n_dup_lower", F.lit(0)).cast("bigint").alias(
                "n_dup_lower"
            ),
            (F.coalesce("n_dup_lower", F.lit(0)) > 0).alias("pruned"),
        )
    )


# --------------------------------------------------------------- oracles

def _kmeans_ctes(k: int = K, iters: int = ITERS, where: str = "") -> str:
    """Generate the unrolled Lloyd CTE chain (c0 .. c{iters}, final
    assignment `fin`) mirroring kmeans_fit_assign step for step:
    init (c0) and the final assignment (fin) read the full corpus;
    the iterated assign+update rounds read the hash-sampled `qct`
    (smod sizes the modulus from the data exactly like
    train_sample_mod does). ``where`` restricts the SOURCE rows (the
    incremental-ANN twins train on the base split only)."""
    samp = train_sample_sql("SELECT s FROM smod", "qc.vec_id")
    src_where = f"\n  WHERE {where}" if where else ""
    parts = [
        f"""
q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings{src_where}
),
qc AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(qv, 1) - 1 AS pos, unnest(qv) AS v
  FROM q
),
smod AS MATERIALIZED (
  SELECT GREATEST(1, COUNT(*) // {scaled_sample_target(k)}) AS s FROM q
),
qct AS MATERIALIZED (
  SELECT qc.* FROM qc WHERE {samp}
),
c0 AS MATERIALIZED (
  SELECT CAST(i.cluster AS INTEGER) AS cluster, qc.pos, qc.v AS c
  FROM qc JOIN (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster
    FROM q ORDER BY vec_id LIMIT {k}
  ) i ON qc.vec_id = i.vec_id
)"""
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""
a{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, d.cluster,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY d.dist, d.cluster) AS rn
    FROM (
      SELECT qct.vec_id, c.cluster,
             CAST(SUM((qct.v - c.c) * (qct.v - c.c)) AS BIGINT) AS dist
      FROM qct JOIN {prev} c ON qct.pos = c.pos
      GROUP BY qct.vec_id, c.cluster
    ) d
  ) WHERE rn = 1
),
c{i} AS MATERIALIZED (
  SELECT p.cluster, p.pos, COALESCE(u.c, p.c) AS c
  FROM {prev} p
  LEFT JOIN (
    SELECT a{i}.cluster, qct.pos,
           CAST(floor(CAST(SUM(qct.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
    FROM qct JOIN a{i} ON qct.vec_id = a{i}.vec_id
    GROUP BY a{i}.cluster, qct.pos
  ) u ON p.cluster = u.cluster AND p.pos = u.pos
)"""
        )
    parts.append(
        f"""
fin AS MATERIALIZED (
  SELECT vec_id, cluster, dist FROM (
    SELECT d.vec_id, d.cluster, d.dist,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY d.dist, d.cluster) AS rn
    FROM (
      SELECT qc.vec_id, c.cluster,
             CAST(SUM((qc.v - c.c) * (qc.v - c.c)) AS BIGINT) AS dist
      FROM qc JOIN c{iters} c ON qc.pos = c.pos
      GROUP BY qc.vec_id, c.cluster
    ) d
  ) WHERE rn = 1
)"""
    )
    return "WITH " + ",".join(parts)


QUERIES = {
    "emb_kmeans_clusters": q_kmeans_clusters,
    "emb_semdedup_prune": q_semdedup_prune,
}

ORACLES = {
    "emb_kmeans_clusters": f"""
        {_kmeans_ctes()}
        SELECT vec_id, cluster, dist FROM fin
    """,
    "emb_semdedup_prune": f"""
        {_kmeans_ctes()}
        , vecs AS (
          SELECT f.vec_id, f.cluster, e.embedding::DOUBLE[] AS v
          FROM fin f JOIN embeddings e ON f.vec_id = e.vec_id
        ),
        dups AS (
          SELECT b.vec_id, COUNT(*)::BIGINT AS n_dup_lower
          FROM vecs a JOIN vecs b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE round(
                  list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))), 6) >= {SEMDEDUP_THETA}
          GROUP BY b.vec_id
        )
        SELECT f.vec_id, f.cluster,
               COALESCE(d.n_dup_lower, 0)::BIGINT AS n_dup_lower,
               COALESCE(d.n_dup_lower, 0) > 0 AS pruned
        FROM fin f LEFT JOIN dups d ON f.vec_id = d.vec_id
    """,
}
