"""Approximate nearest neighbor: random-hyperplane LSH bucketing.

The 100 TB companion to similarity.cosine_topk (exact, linear scan):

1. index: assign every vector a B-bit signature — bit i is the sign
   of <v, plane_i> for B fixed hyperplanes. Vectors land in 2^B
   buckets; cosine-close vectors collide with high probability
   (collision prob per bit = 1 - theta/pi).
2. query: compute the query's signature; score ONLY vectors in
   buckets within `probe_hamming` bits (multi-probe), then exact
   cosine re-rank. The candidate join is an equi-join on bucket id —
   shuffle on a uniform small key, never a cross join.

Hyperplanes are deterministic: component j of plane i is the
integer in [-8..7] taken from a hex digit of md5("plane:i:j") —
reproducible in any engine/language, no RNG state. For unit-ish
embedding data any fixed full-rank set of planes works; what matters
is determinism and spread.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.io import check_top_k
from searchengine_spark.operators.similarity import cosine_expr

N_PLANES = 12


def plane_component(i: int, j: int) -> int:
    """Deterministic pseudo-random integer in [-8, 7]."""
    h = hashlib.md5(f"plane:{i}:{j}".encode()).hexdigest()
    return int(h[0], 16) - 8


def _planes(dim: int, n_planes: int) -> list[list[int]]:
    return [[plane_component(i, j) for j in range(dim)] for i in range(n_planes)]


def bucket_expr(vec: Column, dim: int, n_planes: int = N_PLANES) -> Column:
    """B-bit LSH bucket id for an array<float/double> column."""
    planes = _planes(dim, n_planes)
    bits = []
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(c)) for c in plane]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0]).cast("bigint")


def build_ann_index(
    embeddings: DataFrame,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(id, vec, bucket) — persist/bucket this by `bucket` at scale."""
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        bucket_expr(F.col(vec_col), dim, n_planes).alias("bucket"),
    )


def build_ivf_index(
    embeddings: DataFrame,
    *,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF (inverted-file) coarse quantizer: KMeans centroids, vectors
    bucketed by nearest centroid. The recall/probe tradeoff beats
    plane-LSH once centroids reflect the data distribution; at scale
    the assignment table is written partitioned by centroid_id so a
    probe reads only n_probe partitions.

    ``n_centroids=None`` defaults to max(16, ~sqrt(n)) — the standard
    IVF sizing: per-probe candidate work is n/nlist, so a FIXED nlist
    makes every probe scan linearly more data as the corpus grows
    (the fixed-K hazard the round-4 soak caught in SemDeDup); sqrt(n)
    balances probe cost against centroid-ranking cost. Pass an
    explicit value to pin it (tests do, for stable recall goldens).

    Returns (assignments DF, centroids as list[list[float]]).
    """
    if n_centroids is None:
        n_centroids = max(16, int(embeddings.count() ** 0.5))
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("_fv")
    )
    model = KMeans(k=n_centroids, seed=seed, featuresCol="_fv").fit(feat)
    assigned = model.transform(feat).select(
        F.col(id_col),
        F.col(vec_col),
        F.col(model.getPredictionCol()).alias("centroid_id"),
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_search(
    assignments: DataFrame,
    centroids: list[list[float]],
    query_vec: DataFrame,
    *,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe centroids nearest the query (by cosine) and
    exact-rerank within those buckets only."""
    check_top_k(k)
    check_top_k(n_probe, "n_probe")
    q = query_vec.select(F.col(vec_col).alias("qvec"))
    cent = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    # rank centroids by cosine to the query, keep top n_probe ids
    probes = (
        q.select(F.posexplode(cent).alias("cid", "cvec"), "qvec")
        .select("cid", cosine_expr(F.col("cvec"), F.col("qvec")).alias("cs"))
        .orderBy(F.desc("cs"), F.asc("cid"))  # tie-break: deterministic probe set
        .limit(n_probe)
        .select("cid")
    )
    return (
        assignments.join(
            F.broadcast(probes), assignments.centroid_id == F.col("cid")
        )
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), F.col("qvec")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def query_probe_ids(
    centroids: list[list[float]], qvec: list[float], n_probe: int
) -> list[int]:
    """Driver-side probe selection: centroid ids ranked by cosine to
    the query. Centroids are a tiny driver-side list (k entries), so
    this is plain Python — which is exactly what makes the probe set
    LITERAL in the query plan, and literals are what partition
    pruning needs. Ties break on centroid id for determinism."""
    import math

    qn = math.sqrt(sum(x * x for x in qvec)) or 1.0
    scored = []
    for cid, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        cs = sum(a * b for a, b in zip(c, qvec)) / (cn * qn)
        scored.append((-cs, cid))
    return [cid for _, cid in sorted(scored)[:n_probe]]


def write_ivf_index(assignments: DataFrame, path: str) -> None:
    """Persist IVF assignments partitioned by centroid_id: each
    centroid becomes a parquet partition directory, so a probe query
    with literal centroid ids reads only n_probe directories —
    partition pruning happens at file listing, before any I/O."""
    assignments.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def read_ivf_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ivf_search_pruned(
    index: DataFrame,
    centroids: list[list[float]],
    qvec: list[float],
    *,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe against a persisted, centroid-partitioned index.

    The probe set is computed driver-side (query_probe_ids) and
    applied as `centroid_id IN (literals)` — on the partitioned
    layout this plans as PartitionFilters and scans only the probed
    directories. The query vector is inlined as a literal array, so
    the rerank is a single narrow scan-project-topk with no join at
    all: the ideal serving plan for one query at any index size.
    """
    check_top_k(k)
    probes = query_probe_ids(centroids, qvec, n_probe)
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    return (
        index.filter(F.col("centroid_id").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), qlit), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def write_ivf_index_int8(assignments: DataFrame, path: str) -> None:
    """Persist the IVF index with int8-quantized vectors (composition
    with operators/quantization): 4x less storage/scan per probe, and
    since cosine is scale-invariant the scales aren't even stored —
    the serving probe never touches a float vector. The partition
    layout (and thus the pruning story) is identical to
    write_ivf_index."""
    from searchengine_spark.operators.quantization import quantize_int8

    quantize_int8(assignments).select("vec_id", "centroid_id", "qvec").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(path)


def quantize_query_vec(qvec: list[float]) -> list[int]:
    """Driver-side twin of quantize_int8 for the (tiny) query vector."""
    import math

    scale = max(abs(x) for x in qvec) / 127.0
    if scale == 0:
        return [0] * len(qvec)
    return [
        int(min(max(math.floor(x / scale + 0.5), -127), 127)) for x in qvec
    ]


def ivf_search_pruned_int8(
    index: DataFrame,
    centroids: list[list[float]],
    qvec: list[float],
    *,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """ivf_search_pruned over an int8 index: literal probe set ->
    PartitionFilters -> cosine over int arrays (scales cancel)."""
    check_top_k(k)
    probes = query_probe_ids(centroids, qvec, n_probe)
    qlit = F.array(*[F.lit(int(x)) for x in quantize_query_vec(qvec)])
    return (
        index.filter(F.col("centroid_id").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col("qvec"), qlit), 6).alias("cosine_q"),
        )
        .orderBy(F.desc("cosine_q"), F.asc(id_col))
        .limit(k)
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    *,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing.

    Candidates = pairs sharing an LSH bucket (equi-join on the bucket
    id — the same never-O(n^2) shape as MinHash banding); verified by
    exact cosine >= threshold. Near-identical vectors agree on every
    hyperplane sign, so true near-dups share a bucket with
    probability -> 1 as cos -> 1.
    """
    idx = build_ann_index(
        embeddings, dim=dim, id_col=id_col, vec_col=vec_col, n_planes=n_planes
    )
    left = idx.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "bucket"
    )
    right = idx.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "bucket"
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        # no distinct: each vector has exactly ONE bucket, so a pair
        # can only be produced once (unlike multi-band MinHash).
    )


def ann_search(
    index: DataFrame,
    query_vec: DataFrame,
    *,
    dim: int,
    k: int = 10,
    n_planes: int = N_PLANES,
    probe_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH search: candidates from buckets within
    `probe_hamming` bits of the query bucket, exact cosine re-rank.

    The probe bucket set is enumerated driver-side (queries are
    single vectors; C(B, <=h) literals) and applied as an isin()
    filter — LITERAL predicates are what partition/file pruning can
    act on when the index table is partitioned by `bucket`. A filter
    phrased against a joined query row cannot prune and would scan
    the whole index.
    """
    from itertools import combinations

    check_top_k(k)
    q = query_vec.select(
        F.col(vec_col).alias("qvec"),
        bucket_expr(F.col(vec_col), dim, n_planes).alias("qbucket"),
    )
    qbucket = int(q.select("qbucket").collect()[0][0])
    probe_buckets = [qbucket]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(n_planes), h):
            flipped = qbucket
            for b in bits:
                flipped ^= 1 << b
            probe_buckets.append(flipped)

    return (
        index.filter(F.col("bucket").isin(probe_buckets))
        .crossJoin(F.broadcast(q.select("qvec")))
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), F.col("qvec")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hard_negative_mine(
    embeddings: DataFrame,
    *,
    dim: int,
    k: int = 3,
    dup_threshold: float = 0.95,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive-training hard negatives: per anchor, the k MOST
    similar vectors that are NOT near-duplicates (cosine <
    ``dup_threshold``) and not the anchor itself.

    This is the standard mining loop for embedding-model training
    (e.g. SimCSE/DPR-style): random negatives are too easy, exact
    duplicates are false negatives — the valuable pairs sit just
    below the dup threshold. Candidates come from the shared LSH
    bucket (equi-join, never O(n^2)); rank is a per-anchor window
    over bucket-bounded candidate lists, so no global sort. At 100 TB
    the per-anchor top-k would go through the partial-heap grouped
    top-k (operators/topk.py) instead of the window; bucket fan-out
    is bounded by bucket size either way.
    """
    idx = build_ann_index(
        embeddings, dim=dim, id_col=id_col, vec_col=vec_col, n_planes=n_planes
    )
    left = idx.select(
        F.col(id_col).alias("anchor_id"), F.col(vec_col).alias("vec_a"), "bucket"
    )
    right = idx.select(
        F.col(id_col).alias("neg_id"), F.col(vec_col).alias("vec_b"), "bucket"
    )
    cand = (
        left.join(right, "bucket")
        .filter(F.col("anchor_id") != F.col("neg_id"))
        .select(
            "anchor_id",
            "neg_id",
            F.round(cosine_expr(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") < dup_threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), F.asc("neg_id"))
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
    )


# --------------------------------------------------------------- queries

# Recall floor for the IVF audit: measured recall@10 of the fixed
# probe-1/4 configuration is 0.5 / 0.5 / 0.8 at sf0.001/0.01/0.1
# (deterministic — integer k-means, fixed seed), so 0.4 can never
# flake yet still catches a broken index (wrong cells probed, empty
# results, mis-assigned vectors all drive recall to ~0).
IVF_RECALL_BOUND = 0.4
IVF_K = 10


def q_ann_ivf_topk(spark, sf_dir: str) -> DataFrame:
    """Bounded-recall AUDIT of IVF ANN search (round-7: formerly
    rows-only — KMeans training is not SQL-expressible, but the
    recall invariant IS hash-checkable). Runs the production search
    (fixed query vector vec_id=3, probing ~1/4 of the adaptive
    centroid set), compares against in-Spark brute-force top-10, and
    emits ONE row the DuckDB twin states exactly: k, result count
    (= LEAST(k, n-1) when the probed cells are healthy), and the
    recall floor boolean. Raw neighbor lists remain available via
    ivf_search_pruned; plan-level pruning is pinned in
    tests/test_ann.py."""
    from searchengine_spark.io import load_table
    from searchengine_spark.operators.similarity import cosine_expr

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = build_ivf_index(emb)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    ]
    # probe a constant FRACTION (~1/4) of the adaptive centroid set —
    # a fixed probe count would silently shrink recall as nlist grows
    n_probe = max(4, len(centroids) // 4)
    ivf = ivf_search_pruned(
        assigned, centroids, qvec, k=IVF_K, n_probe=n_probe
    ).select("vec_id")
    qlit = F.array(*[F.lit(v) for v in qvec])
    brute = (
        emb.filter(F.col("vec_id") != 3)
        .select(
            "vec_id",
            F.round(cosine_expr(F.col("embedding"), qlit), 6).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(IVF_K)
        .select("vec_id")
    )
    caught = brute.join(ivf, "vec_id", "left_semi")
    n_res = ivf.agg(F.count(F.lit(1)).alias("n_results"))
    n_true = brute.agg(F.count(F.lit(1)).alias("_nt"))
    n_caught = caught.agg(F.count(F.lit(1)).alias("_nc"))
    return (
        n_res.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_caught))
        .select(
            F.lit(IVF_K).cast("bigint").alias("k"),
            "n_results",
            (
                F.col("_nc").cast("double") / F.col("_nt").cast("double")
                >= F.lit(IVF_RECALL_BOUND)
            ).alias("recall_ok"),
        )
    )


EMB_DIM = 64  # embeddings test-table dimensionality
NEARDUP_COS = 0.95


def q_embedding_neardup(spark, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-duplicate pairs over the
    embeddings table (cosine >= 0.95, candidates only from shared
    hyperplane-sign buckets — never O(n^2))."""
    from searchengine_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, dim=EMB_DIM, threshold=NEARDUP_COS)


def _neardup_oracle_sql() -> str:
    """DuckDB twin: the hyperplanes are literal int lists, so the
    bucket ids (sign bits of 12 plane dots) reproduce exactly; cosine
    via list_dot_product matches the Spark sequential fold at 6
    decimals (same contract as sim_cosine_topk)."""
    planes = _planes(EMB_DIM, N_PLANES)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(e, {p}::DOUBLE[]) > 0 THEN {v} ELSE 0 END)".format(
            p=[float(c) for c in plane], v=1 << i
        )
        for i, plane in enumerate(planes)
    )
    return f"""
        WITH b AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 {bits} AS bucket
          FROM embeddings
        )
        SELECT l.vec_id AS id_a, r.vec_id AS id_b,
               round(list_dot_product(l.e, r.e)
                     / (sqrt(list_dot_product(l.e, l.e))
                        * sqrt(list_dot_product(r.e, r.e))), 6) AS cosine
        FROM b l JOIN b r
          ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        WHERE round(list_dot_product(l.e, r.e)
                    / (sqrt(list_dot_product(l.e, l.e))
                       * sqrt(list_dot_product(r.e, r.e))), 6) >= {NEARDUP_COS}
    """


HARD_NEG_K = 3


def _session_hard_negatives(spark, sf_dir: str) -> DataFrame:
    """Session-cached hard-negative table (k rows per anchor, tiny):
    consumed verbatim by emb_hard_negatives AND emb_training_triplets
    — each previously re-ran the bucket join + window (guide §1.2
    step 1)."""
    from searchengine_spark.io import load_table, session_cached

    return session_cached(
        spark,
        "ann-hard-negatives",
        sf_dir,
        lambda: hard_negative_mine(
            load_table(spark, sf_dir, "embeddings"),
            dim=EMB_DIM,
            k=HARD_NEG_K,
            dup_threshold=NEARDUP_COS,
        ),
    )


def q_hard_negatives(spark, sf_dir: str) -> DataFrame:
    """Per-anchor top-3 hard negatives (bucket-mates just below the
    near-dup threshold) over the embeddings table."""
    return _session_hard_negatives(spark, sf_dir)


def _hard_negatives_oracle_sql() -> str:
    """Same bucket CTE as the near-dup oracle; per-anchor ROW_NUMBER
    on the ROUNDED cosine with neg_id tiebreak (deterministic in both
    engines)."""
    planes = _planes(EMB_DIM, N_PLANES)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(e, {p}::DOUBLE[]) > 0 THEN {v} ELSE 0 END)".format(
            p=[float(c) for c in plane], v=1 << i
        )
        for i, plane in enumerate(planes)
    )
    return f"""
        WITH b AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 {bits} AS bucket
          FROM embeddings
        ), cand AS (
          SELECT l.vec_id AS anchor_id, r.vec_id AS neg_id,
                 round(list_dot_product(l.e, r.e)
                       / (sqrt(list_dot_product(l.e, l.e))
                          * sqrt(list_dot_product(r.e, r.e))), 6) AS cosine
          FROM b l JOIN b r
            ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
        ), ranked AS (
          SELECT anchor_id, neg_id, cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY anchor_id ORDER BY cosine DESC, neg_id ASC
                 ) AS neg_rank
          FROM cand WHERE cosine < {NEARDUP_COS}
        )
        SELECT anchor_id, neg_id, cosine, CAST(neg_rank AS INT) AS neg_rank
        FROM ranked WHERE neg_rank <= {HARD_NEG_K}
    """




def mutual_nn_pairs(
    embeddings: DataFrame,
    *,
    dim: int,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reciprocal-nearest-neighbor pairs: (a, b) where b is a's
    nearest LSH-bucket candidate AND a is b's — the SemDeDup-style
    refinement that keeps only the tightest duplicate links (a hub
    vector near many others produces ONE mutual link, not a star).

    Scale shape: the directed candidate set is the same bucket
    equi-join as embedding_neardup_pairs (never O(n^2)); the per-
    vector nearest is a groupBy-argmax via struct max (no window —
    rank-1 needs no sort); the mutual filter is one self-join of the
    |vectors|-sized NN table on the reversed key. The argmax compares
    the ROUNDED cosine (6dp, the repo's cross-engine float contract)
    with the smaller candidate id breaking ties deterministically.
    """
    idx = build_ann_index(
        embeddings, dim=dim, id_col=id_col, vec_col=vec_col, n_planes=n_planes
    )
    left = idx.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "bucket"
    )
    right = idx.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "bucket"
    )
    cand = (
        left.join(right, "bucket")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("vec_a"), F.col("vec_b")), 6).alias(
                "cosine"
            ),
        )
    )
    # Persisted: nn (one row per vector) feeds BOTH sides of the
    # mutual filter — left lazy, the bucket self-join + per-pair
    # cosine subtree executes twice (guide §5 caching note). Tiny
    # frame, stays persisted for the session like the bucket caches.
    nn = cand.groupBy("id_a").agg(
        F.max(F.struct(F.col("cosine"), (-F.col("id_b")).alias("_nid")))
        .alias("_best")
    ).select(
        "id_a",
        (-F.col("_best._nid")).alias("nn_id"),
        F.col("_best.cosine").alias("cosine"),
    ).persist()
    rev = nn.select(
        F.col("id_a").alias("nn_id"), F.col("nn_id").alias("id_a")
    )
    from searchengine_spark.io import cut_and_release

    return cut_and_release(
        nn.join(rev, ["id_a", "nn_id"], "left_semi")
        .filter(F.col("id_a") < F.col("nn_id"))
        .select("id_a", F.col("nn_id").alias("id_b"), "cosine"),
        nn,
    )


def _session_mutual_nn(spark, sf_dir: str) -> DataFrame:
    """Session-cached mutual-NN pairs (bounded by |vectors|/2 rows):
    consumed verbatim by emb_mutual_nn_pairs AND
    emb_training_triplets."""
    from searchengine_spark.io import load_table, session_cached

    return session_cached(
        spark,
        "ann-mutual-nn",
        sf_dir,
        lambda: mutual_nn_pairs(
            load_table(spark, sf_dir, "embeddings"), dim=EMB_DIM
        ),
    )


def q_mutual_nn_pairs(spark, sf_dir: str) -> DataFrame:
    return _session_mutual_nn(spark, sf_dir)


def _mutual_nn_oracle_sql() -> str:
    planes = _planes(EMB_DIM, N_PLANES)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(e, {p}::DOUBLE[]) > 0 THEN {v} ELSE 0 END)".format(
            p=[float(c) for c in plane], v=1 << i
        )
        for i, plane in enumerate(planes)
    )
    return f"""
        WITH b AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 {bits} AS bucket
          FROM embeddings
        ), cand AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                 round(list_dot_product(l.e, r.e)
                       / (sqrt(list_dot_product(l.e, l.e))
                          * sqrt(list_dot_product(r.e, r.e))), 6) AS cosine
          FROM b l JOIN b r
            ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
        ), nn AS (
          SELECT id_a, id_b AS nn_id, cosine FROM (
            SELECT id_a, id_b, cosine,
                   row_number() OVER (PARTITION BY id_a
                                      ORDER BY cosine DESC, id_b ASC) AS rn
            FROM cand
          ) WHERE rn = 1
        )
        SELECT x.id_a, x.nn_id AS id_b, x.cosine
        FROM nn x JOIN nn y ON y.id_a = x.nn_id AND y.nn_id = x.id_a
        WHERE x.id_a < x.nn_id
    """


def q_training_triplets(spark, sf_dir: str) -> DataFrame:
    """Contrastive training triplets (anchor, positive, negative) —
    the export an embedding-model trainer consumes (SimCSE/DPR-style
    mined data, public recipe): the positive is the anchor's
    reciprocal nearest neighbor (mutual_nn_pairs — each mutual pair
    anchors BOTH directions), the negative is the anchor's
    best-ranked hard negative (bucket-mate just below the near-dup
    threshold, hard_negative_mine) that is not the positive itself.

    Scale shape: pure composition of the two bucket-join families —
    no new corpus scan, no new join topology; anchors without any
    sub-threshold bucket-mate drop out (nothing to contrast against).
    """
    pos = _session_mutual_nn(spark, sf_dir)
    anchors = pos.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("positive_id"),
        F.col("cosine").alias("pos_cosine"),
    ).unionByName(
        pos.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("positive_id"),
            F.col("cosine").alias("pos_cosine"),
        )
    )
    negs = _session_hard_negatives(spark, sf_dir)
    picked = (
        anchors.join(negs, "anchor_id")
        .filter(F.col("neg_id") != F.col("positive_id"))
        .groupBy("anchor_id", "positive_id", "pos_cosine")
        .agg(
            F.min(
                F.struct(
                    F.col("neg_rank"),
                    F.col("neg_id"),
                    F.col("cosine").alias("neg_cosine"),
                )
            ).alias("_n")
        )
    )
    return picked.select(
        "anchor_id",
        "positive_id",
        "pos_cosine",
        F.col("_n.neg_id").alias("negative_id"),
        F.col("_n.neg_cosine").alias("neg_cosine"),
    )


def _training_triplets_oracle_sql() -> str:
    """Composition of the mutual-NN and hard-negative oracles over
    the shared bucket CTE; the negative pick is the min-rank survivor
    after excluding the positive."""
    planes = _planes(EMB_DIM, N_PLANES)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(e, {p}::DOUBLE[]) > 0 THEN {v} ELSE 0 END)".format(
            p=[float(c) for c in plane], v=1 << i
        )
        for i, plane in enumerate(planes)
    )
    return f"""
        WITH b AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 {bits} AS bucket
          FROM embeddings
        ), cand AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                 round(list_dot_product(l.e, r.e)
                       / (sqrt(list_dot_product(l.e, l.e))
                          * sqrt(list_dot_product(r.e, r.e))), 6) AS cosine
          FROM b l JOIN b r
            ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
        ), nn AS (
          SELECT id_a, id_b AS nn_id, cosine FROM (
            SELECT id_a, id_b, cosine,
                   row_number() OVER (PARTITION BY id_a
                                      ORDER BY cosine DESC, id_b ASC) AS rn
            FROM cand
          ) WHERE rn = 1
        ), mutual AS (
          SELECT x.id_a, x.nn_id AS id_b, x.cosine
          FROM nn x JOIN nn y ON y.id_a = x.nn_id AND y.nn_id = x.id_a
          WHERE x.id_a < x.nn_id
        ), anchors AS (
          SELECT id_a AS anchor_id, id_b AS positive_id,
                 cosine AS pos_cosine FROM mutual
          UNION ALL
          SELECT id_b, id_a, cosine FROM mutual
        ), hardneg AS (
          SELECT id_a AS anchor_id, id_b AS neg_id, cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY id_a ORDER BY cosine DESC, id_b ASC
                 ) AS neg_rank
          FROM cand WHERE cosine < {NEARDUP_COS}
        ), picked AS (
          SELECT a.anchor_id, a.positive_id, a.pos_cosine,
                 h.neg_id, h.cosine AS neg_cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.anchor_id
                   ORDER BY h.neg_rank ASC, h.neg_id ASC
                 ) AS pick
          FROM anchors a
          JOIN hardneg h ON h.anchor_id = a.anchor_id
          WHERE h.neg_rank <= {HARD_NEG_K} AND h.neg_id <> a.positive_id
        )
        SELECT anchor_id, positive_id, pos_cosine,
               neg_id AS negative_id, neg_cosine
        FROM picked WHERE pick = 1
    """


QUERIES = {
    "ann_ivf_topk": q_ann_ivf_topk,
    "emb_mutual_nn_pairs": q_mutual_nn_pairs,
    "ann_embedding_neardup": q_embedding_neardup,
    "emb_hard_negatives": q_hard_negatives,
    "emb_training_triplets": q_training_triplets,
}
ORACLES: dict[str, str] = {
    "emb_training_triplets": _training_triplets_oracle_sql(),
    "emb_mutual_nn_pairs": _mutual_nn_oracle_sql(),
    "ann_embedding_neardup": _neardup_oracle_sql(),
    "emb_hard_negatives": _hard_negatives_oracle_sql(),
    "ann_ivf_topk": f"""
        SELECT CAST({IVF_K} AS BIGINT) AS k,
               CAST(LEAST({IVF_K}, (SELECT count(*) FROM embeddings) - 1)
                    AS BIGINT) AS n_results,
               TRUE AS recall_ok
    """,
}
