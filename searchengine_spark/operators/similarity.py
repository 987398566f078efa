"""Embedding similarity search (ANN) over array<float> columns.

Baseline: brute-force cosine top-k — a broadcast of the query vector
against a map-side fold over each row's embedding (no shuffle at all
until the final TakeOrderedAndProject). This is the exact-answer
path and scales linearly with the corpus.

Scale path: LSH by random-hyperplane signs (deterministic planes
derived from md5 bits, so results are reproducible anywhere): docs
are bucketed by signature; a query probes only its bucket(s). The
bucketing is a plain groupBy/join on a small key — the same shape as
MinHash-LSH dedup.

All arithmetic folds run in array order (F.aggregate is a sequential
fold), matching DuckDB's list functions for oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.io import check_top_k, load_table

QUERY_VEC_ID = 0
TOP_K = 10


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: DataFrame,
    *,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k by cosine; query_vec is a 1-row DF
    (qvec array column). Rounded to 6 for cross-engine determinism."""
    check_top_k(k)
    return (
        embeddings.crossJoin(F.broadcast(query_vec))
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), F.col("qvec")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------- queries

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    return cosine_topk(emb.filter(F.col("vec_id") != QUERY_VEC_ID), qv)


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + dim — the sanity profile of an embedding
    table (map-only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(norm_expr(F.col("embedding")), 6).alias("l2_norm"),
        "label",
    )


def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise-to-centroid cosine per label: an embedding-space
    cluster-quality metric. Exercises explode + two-level agg.

    Centroid components are exact DECIMAL sums of float32 values
    (lossless: float32 has <= 17 significant digits in decimal(38,12)
    ... rounded to 9 places both sides), divided by count.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    centroid = comp.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1)),
            9,
        ).alias("c")
    )
    return centroid.groupBy("label").agg(
        F.count(F.lit(1)).alias("dim"),
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
    )


TRUNC_DIM = 16  # Matryoshka-style prefix truncation (vs the full 64)


def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation audit: top-k recall of PREFIX-truncated
    cosine (first TRUNC_DIM dims) against full-dimension cosine for
    the probe vector — the measurement behind Matryoshka-style
    dimension reduction (Kusupati et al. 2022): serve a cheap 16-dim
    first pass if (and only if) its recall against the 64-dim truth
    holds up. 4x fewer multiply-adds and 4x smaller scan per skipped
    dim tier at 100 TB, so this one number decides real money.

    Both top-k lists are the brute cosine_topk shape (round-6 scores,
    id tiebreak); recall is an exact integer overlap count, so the
    whole audit hash-checks."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    base = emb.filter(F.col("vec_id") != QUERY_VEC_ID)
    full = cosine_topk(base, qv)
    trunc = cosine_topk(
        base.select("vec_id", F.slice("embedding", 1, TRUNC_DIM).alias("embedding")),
        qv.select(F.slice("qvec", 1, TRUNC_DIM).alias("qvec")),
    )
    n_overlap = full.join(
        trunc.select("vec_id"), "vec_id", "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_overlap"))
    return n_overlap.select(
        F.lit(TOP_K).cast("bigint").alias("k"),
        F.lit(TRUNC_DIM).cast("bigint").alias("dim_trunc"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(TOP_K), 6).alias("recall"),
    )


SHORTLIST_K = 50  # first-pass candidates from the truncated space


def q_tiered_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier serving audit: shortlist SHORTLIST_K candidates with
    the cheap TRUNC_DIM-dim cosine, re-rank the shortlist with the
    full-dimension cosine, and measure top-k recall against the exact
    full-dimension top-k — the production Matryoshka pattern
    (cheap-first-pass + exact re-rank) that
    `sim_dim_truncation_recall` only measures the first half of.
    The re-rank stage touches SHORTLIST_K rows, so the full-dim math
    runs on a constant-size frame no matter the corpus; the trade is
    recall lost when the truncated space drops a true top-k doc from
    the shortlist entirely.

    Scale shape: the shortlist is the brute cosine_topk
    (map + TakeOrderedAndProject(50)); the re-rank is a broadcast
    semi-join of 50 ids back onto the scan, then TopK(10) on 50 rows.
    Round-6 scores with id tiebreaks at every ordered step."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    base = emb.filter(F.col("vec_id") != QUERY_VEC_ID)
    shortlist = cosine_topk(
        base.select(
            "vec_id", F.slice("embedding", 1, TRUNC_DIM).alias("embedding")
        ),
        qv.select(F.slice("qvec", 1, TRUNC_DIM).alias("qvec")),
        k=SHORTLIST_K,
    ).select("vec_id")
    reranked = cosine_topk(
        base.join(F.broadcast(shortlist), "vec_id", "left_semi"), qv
    )
    exact = cosine_topk(base, qv)
    n_overlap = exact.join(
        reranked.select("vec_id"), "vec_id", "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_overlap"))
    return n_overlap.select(
        F.lit(TOP_K).cast("bigint").alias("k"),
        F.lit(SHORTLIST_K).cast("bigint").alias("shortlist_k"),
        F.lit(TRUNC_DIM).cast("bigint").alias("dim_trunc"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(TOP_K), 6).alias("recall"),
    )


_K12_SCALE = 10.0**12


def _k12(x: Column) -> Column:
    """Exact scaled-bigint view of round(x, 12): the unscaled value of
    CAST(round(x,12) AS DECIMAL(28,12)) for |x| << 1e3. Proof sketch:
    round(x,12) is the double nearest k*1e-12, whose exact decimal
    expansion differs from k*1e-12 by <= ulp/2 ~ 7e-15 < 0.5e-12, so
    the decimal cast yields k; multiplying by the exactly-representable
    1e12 gives k +- ~1e-2 in double, and round() recovers k. Summing
    these bigints and dividing by 1e12 in double (both operands exact,
    IEEE division correctly rounded) is therefore bit-identical to
    summing the decimals and casting to double — the centroid-audit
    float discipline — while folding per ROW instead of aggregating
    a decimal column across an exploded shuffle (r14; guide §2.3)."""
    return F.round(F.round(x, 12) * F.lit(_K12_SCALE)).cast("bigint")


def _label_centroid_arrays(comp: DataFrame) -> DataFrame:
    """(label_c, carr, cnorm) — each label's 9-decimal centroid mean
    vector as ONE pos-ordered array row plus its norm, derived from
    the exploded component frame exactly as the per-(label, pos)
    centroid aggregate does. |labels| rows; meant for broadcast."""
    centroid = comp.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("vd").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("c")
    )
    return (
        centroid.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("carr")
        )
        .select(
            F.col("label").alias("label_c"),
            "carr",
            F.sqrt(
                F.aggregate(
                    F.col("carr"),
                    F.lit(0).cast("bigint"),
                    lambda a, c: a + _k12(c * c),
                ).cast("double")
                / F.lit(_K12_SCALE)
            ).alias("cnorm"),
        )
    )


def _vd_array(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vda"),
    )


def _dot12(vda: Column | str, carr: Column | str) -> Column:
    """Scaled-bigint fold of sum(round(vd*c, 12)) over aligned arrays,
    returned as the identical double the decimal aggregate yields."""
    return (
        F.aggregate(
            F.zip_with(vda, carr, lambda v, c: _k12(v * c)),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).cast("double")
        / F.lit(_K12_SCALE)
    )


def _vv12(vda: Column | str) -> Column:
    return (
        F.aggregate(
            F.col(vda) if isinstance(vda, str) else vda,
            F.lit(0).cast("bigint"),
            lambda a, v: a + _k12(v * v),
        ).cast("double")
        / F.lit(_K12_SCALE)
    )


OUTLIER_Q = 0.05  # bottom 5% cosine-to-centroid per label


def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector mislabel/noise audit: cosine of every embedding to
    its OWN label's centroid, flagging the bottom-``OUTLIER_Q``
    quantile per label — the standard first pass for finding
    mislabeled or corrupted vectors in a training set (a vector far
    from its class centroid is either noise or a label error).

    Float discipline: centroid components are the 9-decimal exact-
    decimal means (same derivation as sim_label_centroids); every
    per-vector product (v*c, v*v) is rounded to 12 decimals and
    summed as DECIMAL(28,12), so the per-vector dot/norm sums are
    order-independent; the per-label cutoff is an exact percentile
    rounded to 6 BEFORE the comparison (both engines).

    Scale shape (r14 restructure; guide §2.3/§2.4): one posexplode
    scan feeds only the |labels| x dim centroid aggregate; the
    per-vector dot/norm sums are scaled-bigint ARRAY FOLDS against
    the broadcast per-label centroid array (see _k12 for the
    bit-equality argument with the decimal aggregates) — the exploded
    corpus no longer shuffles into a (vec_id, label) aggregate at
    all. Then a |labels|-row cutoff table broadcast. Nothing
    corpus-sized is sorted, shuffled, or collected."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("vd", F.col("v").cast("double"))
    cents = _label_centroid_arrays(comp).withColumnRenamed(
        "label_c", "label"
    )
    cosd = (
        _vd_array(emb)
        .join(F.broadcast(cents), "label")
        .select(
            "vec_id",
            "label",
            _dot12("vda", "carr").alias("dot"),
            _vv12("vda").alias("vv"),
            "cnorm",
        )
        .filter(F.col("vv") > 0)
        .select(
            "vec_id",
            "label",
            F.round(
                F.col("dot") / (F.sqrt(F.col("vv")) * F.col("cnorm")), 6
            ).alias("cos_centroid"),
        )
    )
    cut = cosd.groupBy("label").agg(
        F.round(F.percentile(F.col("cos_centroid"), F.lit(OUTLIER_Q)), 6).alias(
            "cutoff"
        )
    )
    return (
        cosd.join(F.broadcast(cut), "label")
        .select(
            "vec_id",
            "label",
            "cos_centroid",
            (F.col("cos_centroid") < F.col("cutoff")).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )




def q_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: for each
    vector, a = cosine distance to its OWN label centroid, b = cosine
    distance to the NEAREST OTHER centroid, s = (b - a) / max(a, b);
    report the per-label mean and the count of negative-s vectors
    (closer to a foreign class than their own — mislabel candidates
    as a per-LABEL health number, where sim_centroid_outliers flags
    per-VECTOR noise).

    Kaufman & Rousseeuw's full silhouette needs all pairwise
    distances (O(n^2)); the centroid form (standard at scale) is
    O(n * |labels|): the exploded component frame joins ALL label
    centroids on pos — a |labels|-bounded fan-out, the same shape as
    the per-label centroid audit, never vector x vector.

    Float discipline: identical to sim_centroid_outliers (9-decimal
    centroid means, 12-decimal rounded products into exact scaled-
    bigint sums — _k12 proves the bit-equality with the historical
    DECIMAL(28,12) aggregates — cosine rounded to 6 BEFORE any
    comparison); s is computed from rounded-6 a/b, the per-label mean
    folds DECIMAL(28,6)-cast s values (order-independent).

    Scale shape (r14 restructure; guide §2.3): the old plan joined
    the EXPLODED corpus to all label centroids on pos — an
    n*dim*|labels|-row stream into a 3-key aggregate. Now the
    |labels| centroid ARRAYS broadcast onto one row per vector
    (n*|labels| rows, no dim factor), and dot/vv are per-row array
    folds; the per-dim fan-out never exists."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("vd", F.col("v").cast("double"))
    cents = _label_centroid_arrays(comp)
    cosd = (
        _vd_array(emb)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "label",
            "label_c",
            _dot12("vda", "carr").alias("dot"),
            _vv12("vda").alias("vv"),
            "cnorm",
        )
        .filter(F.col("vv") > 0)
        .select(
            "vec_id",
            "label",
            "label_c",
            F.round(
                F.col("dot") / (F.sqrt(F.col("vv")) * F.col("cnorm")), 6
            ).alias("cos_c"),
        )
    )
    ab = cosd.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("label") == F.col("label_c"), F.col("cos_c"))).alias(
            "cos_own"
        ),
        F.max(F.when(F.col("label") != F.col("label_c"), F.col("cos_c"))).alias(
            "cos_other"
        ),
    )
    a = F.lit(1.0) - F.col("cos_own")
    b = F.lit(1.0) - F.col("cos_other")
    sil = F.round(
        F.when(F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    return (
        ab.filter(F.col("cos_other").isNotNull())
        .withColumn("s", sil)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                F.sum(F.col("s").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
            F.sum((F.col("s") < 0).cast("long")).cast("bigint").alias(
                "n_negative"
            ),
        )
        .orderBy("label")
    )


QUERIES = {
    "sim_cosine_topk": q_cosine_topk,
    "emb_label_silhouette": q_label_silhouette,
    "sim_embedding_norms": q_embedding_norms,
    "sim_label_centroids": q_label_centroid_sim,
    "sim_dim_truncation_recall": q_dim_truncation_recall,
    "sim_centroid_outliers": q_centroid_outliers,
    "sim_tiered_rerank_recall": q_tiered_rerank_recall,
}

_DOT = "list_dot_product(l.e, q.e)"

ORACLES = {
    "emb_label_silhouette": """
        WITH comp AS (
          SELECT vec_id, label,
                 generate_subscripts(embedding, 1) - 1 AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS vd
          FROM embeddings
        ),
        centroid AS (
          SELECT label AS label_c, pos,
                 round(CAST(SUM(CAST(vd AS DECIMAL(38,12))) AS DOUBLE)
                       / COUNT(*), 9) AS c
          FROM comp GROUP BY label, pos
        ),
        cn AS (
          SELECT label_c,
                 sqrt(CAST(SUM(CAST(round(c * c, 12) AS DECIMAL(28,12)))
                      AS DOUBLE)) AS cnorm
          FROM centroid GROUP BY label_c
        ),
        dots AS (
          SELECT comp.vec_id, comp.label, centroid.label_c,
                 CAST(SUM(CAST(round(vd * c, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) AS dot
          FROM comp JOIN centroid USING (pos)
          GROUP BY comp.vec_id, comp.label, centroid.label_c
        ),
        vv AS (
          SELECT vec_id,
                 CAST(SUM(CAST(round(vd * vd, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) AS vv
          FROM comp GROUP BY vec_id
        ),
        cosd AS (
          SELECT dots.vec_id, dots.label, dots.label_c,
                 round(dot / (sqrt(vv.vv) * cn.cnorm), 6) AS cos_c
          FROM dots
          JOIN vv ON dots.vec_id = vv.vec_id
          JOIN cn ON dots.label_c = cn.label_c
          WHERE vv.vv > 0
        ),
        ab AS (
          SELECT vec_id, label,
                 MAX(CASE WHEN label = label_c THEN cos_c END) AS cos_own,
                 MAX(CASE WHEN label <> label_c THEN cos_c END) AS cos_other
          FROM cosd GROUP BY vec_id, label
        ),
        sil AS (
          SELECT label,
                 round(CASE WHEN GREATEST(1.0 - cos_own, 1.0 - cos_other) > 0
                            THEN ((1.0 - cos_other) - (1.0 - cos_own))
                                 / GREATEST(1.0 - cos_own, 1.0 - cos_other)
                            ELSE 0.0 END, 6) AS s
          FROM ab WHERE cos_other IS NOT NULL
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               round(CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*),
                     6) AS mean_silhouette,
               CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_negative
        FROM sil GROUP BY label ORDER BY label
    """,
    "sim_cosine_topk": f"""
        WITH q AS (
          SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        ),
        l AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
          WHERE vec_id <> {QUERY_VEC_ID}
        )
        SELECT vec_id,
               round({_DOT} / (sqrt(list_dot_product(l.e, l.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
        FROM l, q
        ORDER BY cosine DESC, vec_id ASC
        LIMIT {TOP_K}
    """,
    "sim_embedding_norms": """
        SELECT vec_id, len(embedding) AS dim,
               round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm,
               label
        FROM embeddings
    """,
    "sim_label_centroids": """
        WITH comp AS (
          SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                 unnest(embedding) AS v
          FROM embeddings
        ),
        centroid AS (
          SELECT label, pos,
                 round(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 9) AS c
          FROM comp GROUP BY label, pos
        )
        SELECT label, COUNT(*) AS dim,
               round(sqrt(SUM(c * c)), 6) AS centroid_norm
        FROM centroid GROUP BY label
    """,
    "sim_dim_truncation_recall": f"""
        WITH q AS (
          SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        ),
        l AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
          WHERE vec_id <> {QUERY_VEC_ID}
        ),
        fullk AS (
          SELECT vec_id,
                 round(list_dot_product(l.e, q.e)
                       / (sqrt(list_dot_product(l.e, l.e))
                          * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
          FROM l, q
          ORDER BY cosine DESC, vec_id ASC
          LIMIT {TOP_K}
        ),
        qt AS (SELECT list_slice(e, 1, {TRUNC_DIM}) AS e FROM q),
        lt AS (SELECT vec_id, list_slice(e, 1, {TRUNC_DIM}) AS e FROM l),
        trunck AS (
          SELECT vec_id,
                 round(list_dot_product(lt.e, qt.e)
                       / (sqrt(list_dot_product(lt.e, lt.e))
                          * sqrt(list_dot_product(qt.e, qt.e))), 6) AS cosine
          FROM lt, qt
          ORDER BY cosine DESC, vec_id ASC
          LIMIT {TOP_K}
        ),
        ov AS (
          SELECT COUNT(*)::BIGINT AS n_overlap FROM fullk
          WHERE EXISTS (SELECT 1 FROM trunck t WHERE t.vec_id = fullk.vec_id)
        )
        SELECT CAST({TOP_K} AS BIGINT) AS k,
               CAST({TRUNC_DIM} AS BIGINT) AS dim_trunc,
               n_overlap,
               ROUND(CAST(n_overlap AS DOUBLE) / {TOP_K}, 6) AS recall
        FROM ov
    """,
    "sim_centroid_outliers": f"""
        WITH comp AS (
          SELECT vec_id, label,
                 generate_subscripts(embedding, 1) - 1 AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS vd
          FROM embeddings
        ),
        centroid AS (
          SELECT label, pos,
                 round(CAST(SUM(CAST(vd AS DECIMAL(38,12))) AS DOUBLE)
                       / COUNT(*), 9) AS c
          FROM comp GROUP BY label, pos
        ),
        cn AS (
          SELECT label,
                 sqrt(CAST(SUM(CAST(round(c * c, 12) AS DECIMAL(28,12)))
                      AS DOUBLE)) AS cnorm
          FROM centroid GROUP BY label
        ),
        pv AS (
          SELECT comp.vec_id, comp.label,
                 CAST(SUM(CAST(round(vd * c, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) AS dot,
                 CAST(SUM(CAST(round(vd * vd, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) AS vv
          FROM comp JOIN centroid USING (label, pos)
          GROUP BY comp.vec_id, comp.label
        ),
        cosd AS (
          SELECT vec_id, pv.label,
                 round(dot / (sqrt(vv) * cnorm), 6) AS cos_centroid
          FROM pv JOIN cn ON pv.label = cn.label
          WHERE vv > 0
        ),
        cut AS (
          SELECT label,
                 round(quantile_cont(cos_centroid, {OUTLIER_Q}), 6) AS cutoff
          FROM cosd GROUP BY label
        )
        SELECT vec_id, cosd.label, cos_centroid,
               cos_centroid < cutoff AS is_outlier
        FROM cosd JOIN cut ON cosd.label = cut.label
        ORDER BY vec_id
    """,
    "sim_tiered_rerank_recall": f"""
        WITH q AS (
          SELECT embedding::DOUBLE[] AS e FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}
        ),
        l AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
          WHERE vec_id <> {QUERY_VEC_ID}
        ),
        qt AS (SELECT list_slice(e, 1, {TRUNC_DIM}) AS e FROM q),
        lt AS (SELECT vec_id, list_slice(e, 1, {TRUNC_DIM}) AS e FROM l),
        shortlist AS (
          SELECT vec_id,
                 round(list_dot_product(lt.e, qt.e)
                       / (sqrt(list_dot_product(lt.e, lt.e))
                          * sqrt(list_dot_product(qt.e, qt.e))), 6) AS cosine
          FROM lt, qt
          ORDER BY cosine DESC, vec_id ASC
          LIMIT {SHORTLIST_K}
        ),
        reranked AS (
          SELECT l.vec_id,
                 round(list_dot_product(l.e, q.e)
                       / (sqrt(list_dot_product(l.e, l.e))
                          * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
          FROM l JOIN shortlist s ON l.vec_id = s.vec_id, q
          ORDER BY cosine DESC, l.vec_id ASC
          LIMIT {TOP_K}
        ),
        exact AS (
          SELECT vec_id,
                 round(list_dot_product(l.e, q.e)
                       / (sqrt(list_dot_product(l.e, l.e))
                          * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
          FROM l, q
          ORDER BY cosine DESC, vec_id ASC
          LIMIT {TOP_K}
        ),
        ov AS (
          SELECT COUNT(*)::BIGINT AS n_overlap FROM exact
          WHERE EXISTS (SELECT 1 FROM reranked r
                        WHERE r.vec_id = exact.vec_id)
        )
        SELECT CAST({TOP_K} AS BIGINT) AS k,
               CAST({SHORTLIST_K} AS BIGINT) AS shortlist_k,
               CAST({TRUNC_DIM} AS BIGINT) AS dim_trunc,
               n_overlap,
               ROUND(CAST(n_overlap AS DOUBLE) / {TOP_K}, 6) AS recall
        FROM ov
    """,
}
