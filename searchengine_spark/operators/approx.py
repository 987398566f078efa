"""Approximate aggregates — the constant-memory scale path for
cardinality and quantile estimation.

The reference computes everything exactly (`countDistinct` at
searchenginespark.py:163, full sorts for ranking); at 100 TB exact
distinct counts and exact percentiles need unbounded per-key state,
so every production engine offers sketch-based variants. This module
exposes them Spark-first:

- `approx_count_distinct` (HyperLogLog++): fixed ~1.5 KB of state per
  group at rsd=0.05 regardless of input size; merges associatively so
  map-side partials work and the shuffle moves sketches, not values.
- `approx_percentile` (KLL-like quantile sketch): mergeable, bounded
  state, vs. the exact sort-based `percentile` used in
  relational/advanced.py.
- `hll_sketch_agg` / `hll_sketch_estimate` (Spark 3.5+ Datasketches):
  the *re-aggregatable* form — persist per-partition sketches once,
  merge any rollup of them later without rescanning raw data. This is
  the materialized-view pattern for cardinality at scale.

Cross-engine note: sketch estimates are implementation-defined, so
these queries register WITHOUT DuckDB oracles (the driver records the
weaker rows-only check); tests/test_approx.py instead asserts
relative-error bounds against the exact answers — the meaningful
correctness property for approximate operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.io import load_table

RSD = 0.05  # target relative standard deviation for HLL++


def approx_user_stats(events: DataFrame) -> DataFrame:
    """Per event-type cardinality + quantile estimates, one pass,
    bounded memory. Exact twins exist in events.q_events_type_stats /
    advanced.q_price_quartiles for error measurement."""
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", RSD).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.expr("approx_percentile(value, array(0.5, 0.99), 10000)").alias("_pcts"),
        )
        .select(
            "event_type",
            "approx_users",
            "n_events",
            F.round(F.col("_pcts")[0], 6).alias("p50_value"),
            F.round(F.col("_pcts")[1], 6).alias("p99_value"),
        )
    )


def equal_count_bins(df: DataFrame, col: str, n_bins: int) -> DataFrame:
    """Equal-POPULATION binning at scale: approx_percentile cutpoints
    (one sketch pass, bounded memory) + a CASE-expression bin
    assignment (map-only second pass). This is the 100 TB replacement
    for the exact global-NTILE window (relational/advanced.py's
    rel_ntile_customer_value), which moves every row to one task;
    tests/test_approx.py checks the bin populations against the exact
    tiers. Output: input columns + `bin` in [1, n_bins].
    """
    fracs = [i / n_bins for i in range(1, n_bins)]
    cuts = df.agg(
        F.expr(
            f"approx_percentile({col}, array({', '.join(str(f) for f in fracs)}), 10000)"
        ).alias("cuts")
    ).collect()[0]["cuts"]
    bin_expr = F.lit(n_bins)
    # descending CASE: first cut the value is <= wins
    for i in range(n_bins - 2, -1, -1):
        bin_expr = F.when(F.col(col) <= float(cuts[i]), F.lit(i + 1)).otherwise(bin_expr)
    return df.withColumn("bin", bin_expr.cast("bigint"))


def hll_partial_sketches(events: DataFrame, *, n_buckets: int = 16) -> DataFrame:
    """Stage 1 of re-aggregatable cardinality: per-(bucket, event_type)
    Datasketches HLL sketches. At scale these are the rows you persist
    (one small binary per partition-key), not the raw events."""
    return (
        events.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)))
        .groupBy("bucket", "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )


def hll_rollup(partials: DataFrame) -> DataFrame:
    """Stage 2: merge persisted sketches to any coarser grain without
    touching raw data — here bucket-level sketches roll up to global
    per-type cardinality."""
    return (
        partials.groupBy("event_type")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").alias("approx_users"),
        )
    )


# Invariant bounds the driver hash-checks (round-7: the former
# rows-only registrations now emit bounded-error audit frames, so
# every registry query is hash-checkable). Bounds are 2-3x the worst
# error MEASURED across sf0.001/0.01/0.1 — tight enough to catch a
# broken sketch, loose enough never to flake:
#   approx_count_distinct(rsd=0.05): max observed rel-err 0.067 (sf0.1)
#   Datasketches HLL union rollup:   max observed rel-err 0.008
#   approx_percentile(acc=10000):    rank error ~1e-4
ACD_REL_ERR_BOUND = 0.15  # 3x the requested rsd
HLL_REL_ERR_BOUND = 0.05
P50_RANK_BOUNDS = (0.45, 0.55)
P99_RANK_BOUNDS = (0.97, 1.0)


def q_approx_event_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error AUDIT of the HLL++/quantile-sketch estimates: the
    exact per-type counts (hash-checkable by DuckDB) plus booleans
    asserting each estimate sits within its error bound. A sketch
    implementation drifting out of bound flips a boolean and fails
    the driver's hash — the strongest cross-engine statement possible
    for engine-specific sketch outputs (the raw estimates stay
    available via approx_user_stats)."""
    ev = load_table(spark, sf_dir, "events")
    ap = approx_user_stats(ev)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # rank-error check: fraction of values <= the sketch's percentile
    # must bracket the target rank (the actual KLL guarantee)
    ranks = (
        ev.join(
            F.broadcast(ap.select("event_type", "p50_value", "p99_value")),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.avg((F.col("value") <= F.col("p50_value")).cast("double")).alias("f50"),
            F.avg((F.col("value") <= F.col("p99_value")).cast("double")).alias("f99"),
        )
    )
    return (
        exact.join(ap.select("event_type", "approx_users"), "event_type")
        .join(ranks, "event_type")
        .select(
            "event_type",
            "n_events",
            "n_users",
            (
                F.abs(F.col("approx_users") - F.col("n_users"))
                / F.col("n_users")
                <= F.lit(ACD_REL_ERR_BOUND)
            ).alias("users_err_ok"),
            F.col("f50").between(*P50_RANK_BOUNDS).alias("p50_rank_ok"),
            F.col("f99").between(*P99_RANK_BOUNDS).alias("p99_rank_ok"),
        )
    )


def q_approx_hll_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error AUDIT of the re-aggregatable Datasketches rollup:
    merging bucket-level sketches must estimate per-type cardinality
    within HLL_REL_ERR_BOUND of exact (raw estimates via
    hll_rollup)."""
    ev = load_table(spark, sf_dir, "events")
    merged = hll_rollup(hll_partial_sketches(ev))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "n_users",
        (
            F.abs(F.col("approx_users") - F.col("n_users")) / F.col("n_users")
            <= F.lit(HLL_REL_ERR_BOUND)
        ).alias("rel_err_ok"),
    )


N_BINS = 4
BIN_POP_TOL = 0.05  # each bin within ±5% of n/N_BINS (measured ~1e-3)


def q_approx_equal_count_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error AUDIT of sketch-based equal-population binning —
    the 100 TB replacement for a global NTILE window. Every bin must
    exist and hold n/N_BINS rows within BIN_POP_TOL; the exact total
    is hash-checked, the per-bin populations are engine-specific (the
    cutpoints come from the sketch) so they enter as booleans."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    binned = equal_count_bins(orders, "o_totalprice", N_BINS)
    total = binned.count()
    target = total / N_BINS
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "bin",
            F.lit(total).cast("bigint").alias("n_total"),
            (
                F.abs(F.col("_n") - F.lit(target)) / F.lit(target)
                <= F.lit(BIN_POP_TOL)
            ).alias("pop_ok"),
        )
        .orderBy("bin")
    )


# ------------------------------------------------- KMV distinct sketch

KMV_K = 64  # sketch size; rsd ~ 1/sqrt(K-2) ~ 0.13
KMV_SPACE = 1 << 60  # md5 15-hex-digit hash space
KMV_SALT = "kmv"


def _kmv_hash(col):
    """The repo's md5-bigint convention, salted for this sketch — the
    SAME deterministic hash in both engines is what makes a SKETCH
    hash-checkable: unlike HLL (implementation-defined), every KMV
    number below is exact arithmetic over md5 values."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(KMV_SALT), col.cast("string")).cast("binary")),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")


def kmv_user_sketches(events: DataFrame, *, k: int = KMV_K) -> DataFrame:
    """(event_type, user_id, h) — the K MINIMUM hash VALUES per group.

    KMV (Bar-Yossef et al. 2002) is the mergeable distinct sketch HLL
    does not replace when you need SET OPERATIONS: two KMV sketches
    union (take the K smallest of the union) and intersect (count
    common members below the union threshold) with known error, while
    HLL only unions. State per group is K hashes.

    The per-group K-smallest goes through `distrank.distributed_rank`
    (round 9; the round-8 version used a plain per-type window — with
    ~5 event types at real volumes each window partition was ~1/5 of
    all distinct users sorted in ONE task): the uniform 60-bit hash's
    top bits are the monotone bucket, and max_rank=K prunes every
    bucket past the K-th row BEFORE the window, so only ~K rows per
    type are ever sorted. Row-identical to the plain window the
    oracles state.
    """
    from searchengine_spark.operators.distrank import distributed_rank

    du = (
        events.select("event_type", "user_id")
        .distinct()
        .withColumn("h", _kmv_hash(F.col("user_id")))
    )
    ranked = distributed_rank(
        du,
        ["event_type"],
        [F.asc("h"), F.asc("user_id")],
        F.expr(f"h div {1 << 48}"),
        rank_name="_r",
        max_rank=k,
    )
    return ranked.filter(F.col("_r") <= F.lit(k)).drop("_r")


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: exact distinct users next to the KMV estimate
    (K-1)*M/kth_min — bit-identical in both engines because the
    sketch IS deterministic md5 arithmetic, so the driver hash-checks
    the estimator itself, not just an error bound."""
    events = load_table(spark, sf_dir, "events")
    sk = kmv_user_sketches(events)
    agg = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("sketch_size"), F.max("h").alias("kth_min")
    )
    exact = (
        events.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    est = F.when(
        F.col("sketch_size") < F.lit(KMV_K), F.col("sketch_size").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(KMV_K - 1)) * F.lit(float(KMV_SPACE)) / F.col("kth_min"), 6
        )
    )
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            F.col("exact_users").cast("bigint").alias("exact_users"),
            F.col("sketch_size").cast("bigint").alias("sketch_size"),
            F.col("kth_min").cast("bigint").alias("kth_min"),
            est.alias("est_users"),
            (
                F.abs(est - F.col("exact_users")) / F.col("exact_users")
                <= F.lit(0.5)
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


def q_kmv_view_purchase_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operation HLL cannot do: estimate |viewers ∩ purchasers|
    from two mergeable sketches. Union sketch = K smallest of the
    merged hash sets; θ = its max; jaccard ≈ (members of BOTH sets
    below θ) / |union sketch|; intersection ≈ jaccard * union
    estimate. Every quantity is md5 arithmetic → exact twin."""
    events = load_table(spark, sf_dir, "events")
    sk = kmv_user_sketches(events).filter(
        F.col("event_type").isin("view", "purchase")
    )
    a = sk.filter(F.col("event_type") == "view").select("user_id", "h")
    b = sk.filter(F.col("event_type") == "purchase").select("user_id", "h")
    from pyspark.sql import Window

    merged = a.unionByName(b).distinct()
    w = Window.orderBy(F.asc("h"), F.asc("user_id"))  # 2K rows — constant
    uni = merged.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= F.lit(KMV_K)
    )
    theta = uni.agg(
        F.max("h").alias("theta"), F.count(F.lit(1)).alias("m_union")
    )
    both = uni.join(a.select("user_id"), "user_id", "left_semi").join(
        b.select("user_id"), "user_id", "left_semi"
    )
    matched = both.agg(F.count(F.lit(1)).alias("m_both"))
    du = events.select("event_type", "user_id").distinct()
    va = du.filter(F.col("event_type") == "view").select("user_id")
    vb = du.filter(F.col("event_type") == "purchase").select("user_id")
    exact_i = (
        va.join(vb, "user_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    exact_u = (
        va.unionByName(vb).distinct().agg(F.count(F.lit(1)).alias("exact_union"))
    )
    est_union = F.when(
        F.col("m_union") < F.lit(KMV_K), F.col("m_union").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(KMV_K - 1)) * F.lit(float(KMV_SPACE)) / F.col("theta"), 6
        )
    )
    jac = F.round(F.col("m_both") / F.col("m_union"), 6)
    est_i = F.round(jac * est_union, 6)
    return (
        theta.crossJoin(F.broadcast(matched))
        .crossJoin(F.broadcast(exact_i))
        .crossJoin(F.broadcast(exact_u))
        .select(
            F.col("m_union").cast("bigint").alias("m_union"),
            F.col("m_both").cast("bigint").alias("m_both"),
            F.col("exact_union").cast("bigint").alias("exact_union"),
            F.col("exact_intersection").cast("bigint").alias("exact_intersection"),
            est_union.alias("est_union"),
            jac.alias("est_jaccard"),
            est_i.alias("est_intersection"),
            (
                F.abs(est_i - F.col("exact_intersection"))
                <= F.greatest(
                    F.lit(16.0), F.lit(0.5) * F.col("exact_intersection")
                )
            ).alias("within_bound"),
        )
    )


# ------------------------------------------- sample-quantile audit

QS_K = 1024  # hash-reservoir size
QS_SALT = "qsample"
QS_QUANTILES = (0.25, 0.5, 0.9, 0.99)
# DKW: sup_x |F_sample(x) - F(x)| <= sqrt(ln(2/delta)/(2K)) = 0.051
# at delta = 0.01, K = 1024 — plus 1/K discretization slack.
QS_BOUND = 0.06


def q_quantile_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation by deterministic hash reservoir
    (the scale-path replacement for exact per-group sorts): keep the
    QS_K rows with the SMALLEST md5(event_id) — a uniform row sample
    any engine reproduces bit-for-bit and any two partitions merge by
    keeping the joint K smallest — estimate quantiles on the sample,
    then audit each estimate's TRUE rank in the full data against the
    DKW(+1/K) bound. The bracket check (frac_lt <= q+eps AND frac_le
    >= q-eps) is robust to point masses, where a one-sided rank test
    would false-alarm.

    Scale shape: the sample is TakeOrderedAndProject(K) by hash —
    never a global sort of the data, and mergeable across splits by
    construction; the rank audit is one conditional aggregate keyed
    by the 4 quantile labels (map-side partial). Completes the sketch
    family: CMS (frequency), HLL/KMV (distinct), this (quantiles).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(QS_SALT), F.col("event_id").cast("string")).cast(
                    "binary"
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    sample = (
        ev.select("value", h.alias("h")).orderBy("h", "value").limit(QS_K)
    )
    ests = sample.agg(
        *[
            F.round(F.percentile("value", F.lit(q)), 6).alias(f"_e{i}")
            for i, q in enumerate(QS_QUANTILES)
        ]
    )
    stack_args = ", ".join(
        f"CAST({q} AS DOUBLE), _e{i}" for i, q in enumerate(QS_QUANTILES)
    )
    est_rows = ests.selectExpr(
        f"stack({len(QS_QUANTILES)}, {stack_args}) AS (q, est)"
    )
    audited = (
        ev.crossJoin(F.broadcast(est_rows))
        .groupBy("q", "est")
        .agg(
            F.sum((F.col("value") < F.col("est")).cast("long")).alias("n_lt"),
            F.sum((F.col("value") <= F.col("est")).cast("long")).alias("n_le"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    frac_lt = F.round(F.col("n_lt") / F.col("n"), 6)
    frac_le = F.round(F.col("n_le") / F.col("n"), 6)
    return audited.select(
        "q",
        "est",
        frac_lt.alias("frac_lt"),
        frac_le.alias("frac_le"),
        (
            (frac_lt <= F.col("q") + F.lit(QS_BOUND))
            & (frac_le >= F.col("q") - F.lit(QS_BOUND))
        ).alias("within_bound"),
    ).orderBy("q")


_QS_EST_SQL = " UNION ALL ".join(
    f"SELECT CAST({q} AS DOUBLE) AS q,"
    f" round(quantile_cont(value, {q}), 6) AS est FROM qsample"
    for q in QS_QUANTILES
)

_QS_SQL = f"""
WITH ev AS (
  SELECT event_id, value FROM events WHERE value IS NOT NULL
),
qsample AS (
  SELECT value FROM (
    SELECT value,
           ('0x' || substr(md5('{QS_SALT}' || CAST(event_id AS VARCHAR)),
            1, 15))::BIGINT AS h
    FROM ev ORDER BY h, value LIMIT {QS_K}
  )
),
ests AS ({_QS_EST_SQL}),
audited AS (
  SELECT e.q, e.est,
         CAST(SUM(CASE WHEN v.value < e.est THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lt,
         CAST(SUM(CASE WHEN v.value <= e.est THEN 1 ELSE 0 END) AS BIGINT)
           AS n_le,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev v, ests e
  GROUP BY e.q, e.est
)
SELECT q, est,
       round(CAST(n_lt AS DOUBLE) / n, 6) AS frac_lt,
       round(CAST(n_le AS DOUBLE) / n, 6) AS frac_le,
       (round(CAST(n_lt AS DOUBLE) / n, 6) <= q + {QS_BOUND}
        AND round(CAST(n_le AS DOUBLE) / n, 6) >= q - {QS_BOUND})
         AS within_bound
FROM audited
ORDER BY q
"""


KMV_SPLIT_SALT = "kmvsplit"


def q_kmv_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property the sketch family's whole scale story rests on,
    stated as a hash-checked invariant: KMV sketches are MERGEABLE.
    Split the events by a hash coin, sketch each half independently,
    merge (union, keep the K smallest per group), and compare against
    the sketch of the whole — per event type the merged and whole
    sketches must be IDENTICAL element sets (not merely same-size):
    any global top-K element is in the top-K of its own half, so
    distributed sketching loses nothing. At 100 TB this is why
    per-partition sketches + a tiny merge replace a global distinct.
    """
    from pyspark.sql import Window

    from searchengine_spark.operators.sampling import hash_bucket

    events = load_table(spark, sf_dir, "events")
    coin = hash_bucket(F.col("event_id"), n_buckets=2, salt=KMV_SPLIT_SALT)
    from searchengine_spark.io import cut_lineage

    half_a = kmv_user_sketches(events.filter(coin == 0))
    half_b = kmv_user_sketches(events.filter(coin == 1))
    pooled = half_a.unionByName(half_b).distinct()
    w = Window.partitionBy("event_type").orderBy(F.asc("h"), F.asc("user_id"))
    # Both sketch frames are referenced three times below (the count
    # agg and both anti-join sides); without a lineage cut each
    # reference re-executes its full events-scan sketch subtree —
    # ~9 corpus passes for 3 sketches' worth of work (r13
    # optimization, guide §5 caching note). The materialized frames
    # are K rows per event type — tiny.
    merged = cut_lineage(
        pooled.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= F.lit(KMV_K))
        .drop("_r")
    )
    whole = cut_lineage(kmv_user_sketches(events))
    magg = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.max("h").alias("kth_merged"),
    )
    wagg = whole.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_whole"),
        F.max("h").alias("kth_whole"),
    )
    only_m = merged.join(whole, ["event_type", "user_id", "h"], "left_anti")
    only_w = whole.join(merged, ["event_type", "user_id", "h"], "left_anti")
    asym = (
        only_m.unionByName(only_w)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    return (
        magg.join(wagg, "event_type")
        .join(asym, "event_type", "left")
        .na.fill({"n_diff": 0})
        .select(
            "event_type",
            "n_merged",
            "n_whole",
            F.col("kth_merged").cast("bigint").alias("kth_merged"),
            F.col("kth_whole").cast("bigint").alias("kth_whole"),
            (
                (F.col("n_diff") == 0)
                & (F.col("n_merged") == F.col("n_whole"))
                & (F.col("kth_merged") == F.col("kth_whole"))
            ).alias("merge_lossless"),
        )
        .orderBy("event_type")
    )


_KMV_HALF_SQL = """
  SELECT event_type, user_id, h FROM (
    SELECT event_type, user_id, h,
           ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY h ASC, user_id ASC
           ) AS r
    FROM (
      SELECT DISTINCT event_type, user_id,
             ('0x' || substr(md5('{salt}' || CAST(user_id AS VARCHAR)),
              1, 15))::BIGINT AS h
      FROM events
      WHERE (('0x' || substr(md5('{split}' || CAST(event_id AS VARCHAR)),
              1, 15))::BIGINT % 2) = {side}
    )
  ) WHERE r <= {k}
"""

_KMV_MERGE_SQL = f"""
WITH ha AS ({_KMV_HALF_SQL.format(salt=KMV_SALT, split=KMV_SPLIT_SALT, side=0, k=KMV_K)}),
hb AS ({_KMV_HALF_SQL.format(salt=KMV_SALT, split=KMV_SPLIT_SALT, side=1, k=KMV_K)}),
pooled AS (SELECT DISTINCT * FROM (SELECT * FROM ha UNION ALL SELECT * FROM hb)),
merged AS (
  SELECT event_type, user_id, h FROM (
    SELECT event_type, user_id, h,
           ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY h ASC, user_id ASC
           ) AS r
    FROM pooled
  ) WHERE r <= {KMV_K}
),
whole AS (
  SELECT event_type, user_id, h FROM (
    SELECT event_type, user_id, h,
           ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY h ASC, user_id ASC
           ) AS r
    FROM (
      SELECT DISTINCT event_type, user_id,
             ('0x' || substr(md5('{KMV_SALT}' || CAST(user_id AS VARCHAR)),
              1, 15))::BIGINT AS h
      FROM events
    )
  ) WHERE r <= {KMV_K}
),
magg AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_merged,
         MAX(h)::BIGINT AS kth_merged
  FROM merged GROUP BY event_type
),
wagg AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_whole,
         MAX(h)::BIGINT AS kth_whole
  FROM whole GROUP BY event_type
),
asym AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_diff FROM (
    SELECT m.event_type FROM merged m
    WHERE NOT EXISTS (SELECT 1 FROM whole w
                      WHERE w.event_type = m.event_type
                        AND w.user_id = m.user_id AND w.h = m.h)
    UNION ALL
    SELECT w.event_type FROM whole w
    WHERE NOT EXISTS (SELECT 1 FROM merged m
                      WHERE m.event_type = w.event_type
                        AND m.user_id = w.user_id AND m.h = w.h)
  ) GROUP BY event_type
)
SELECT m.event_type, m.n_merged, w.n_whole, m.kth_merged, w.kth_whole,
       (COALESCE(a.n_diff, 0) = 0
        AND m.n_merged = w.n_whole
        AND m.kth_merged = w.kth_whole) AS merge_lossless
FROM magg m
JOIN wagg w USING (event_type)
LEFT JOIN asym a ON a.event_type = m.event_type
ORDER BY m.event_type
"""


QUERIES = {
    "approx_kmv_merge_audit": q_kmv_merge_audit,
    "approx_quantile_sample": q_quantile_sample_audit,
    "approx_event_user_stats": q_approx_event_user_stats,
    "approx_hll_rollup_users": q_approx_hll_rollup_users,
    "approx_equal_count_bins": q_approx_equal_count_bins,
    "approx_kmv_distinct_users": q_kmv_distinct_users,
    "approx_kmv_view_purchase_overlap": q_kmv_view_purchase_overlap,
}

# The exact halves of the audit frames are fully SQL-expressible; the
# booleans are the invariants — DuckDB states them as TRUE and the
# driver's hash check enforces them.
ORACLES: dict[str, str] = {
    "approx_kmv_merge_audit": _KMV_MERGE_SQL,
    "approx_quantile_sample": _QS_SQL,
    "approx_event_user_stats": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               TRUE AS users_err_ok,
               TRUE AS p50_rank_ok,
               TRUE AS p99_rank_ok
        FROM events GROUP BY event_type
    """,
    "approx_hll_rollup_users": """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               TRUE AS rel_err_ok
        FROM events GROUP BY event_type
    """,
    "approx_equal_count_bins": f"""
        SELECT CAST(r.bin AS BIGINT) AS bin,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_total,
               TRUE AS pop_ok
        FROM range(1, {N_BINS + 1}) AS r(bin)
        ORDER BY bin
    """,
    # The KMV twins are EXACT (not invariant frames): the sketch is
    # deterministic md5 arithmetic, so DuckDB recomputes the estimator
    # itself — kth-min hash, estimate, jaccard, and the bound booleans
    # all hash-check bit-for-bit.
    "approx_kmv_distinct_users": f"""
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        hashed AS (
          SELECT event_type, user_id,
                 ('0x' || substr(md5('{KMV_SALT}' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM du
        ),
        sk AS (
          SELECT event_type, user_id, h FROM (
            SELECT event_type, user_id, h,
                   ROW_NUMBER() OVER (
                     PARTITION BY event_type ORDER BY h ASC, user_id ASC
                   ) AS r
            FROM hashed
          ) WHERE r <= {KMV_K}
        ),
        agg AS (
          SELECT event_type, COUNT(*)::BIGINT AS sketch_size,
                 MAX(h)::BIGINT AS kth_min
          FROM sk GROUP BY event_type
        ),
        exact AS (
          SELECT event_type, COUNT(*)::BIGINT AS exact_users
          FROM du GROUP BY event_type
        ),
        est AS (
          SELECT a.event_type, e.exact_users, a.sketch_size, a.kth_min,
                 CASE WHEN a.sketch_size < {KMV_K}
                      THEN CAST(a.sketch_size AS DOUBLE)
                      ELSE ROUND({float(KMV_K - 1)} * {float(KMV_SPACE)} / a.kth_min, 6)
                 END AS est_users
          FROM agg a JOIN exact e USING (event_type)
        )
        SELECT event_type, exact_users, sketch_size, kth_min, est_users,
               (ABS(est_users - exact_users) / exact_users <= 0.5) AS within_bound
        FROM est
        ORDER BY event_type
    """,
    "approx_kmv_view_purchase_overlap": f"""
        WITH du AS (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE event_type IN ('view', 'purchase')
        ),
        hashed AS (
          SELECT event_type, user_id,
                 ('0x' || substr(md5('{KMV_SALT}' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM du
        ),
        sk AS (
          SELECT event_type, user_id, h FROM (
            SELECT event_type, user_id, h,
                   ROW_NUMBER() OVER (
                     PARTITION BY event_type ORDER BY h ASC, user_id ASC
                   ) AS r
            FROM hashed
          ) WHERE r <= {KMV_K}
        ),
        a AS (SELECT user_id, h FROM sk WHERE event_type = 'view'),
        b AS (SELECT user_id, h FROM sk WHERE event_type = 'purchase'),
        merged AS (SELECT DISTINCT user_id, h FROM (SELECT * FROM a UNION ALL SELECT * FROM b)),
        uni AS (
          SELECT user_id, h FROM (
            SELECT user_id, h,
                   ROW_NUMBER() OVER (ORDER BY h ASC, user_id ASC) AS r
            FROM merged
          ) WHERE r <= {KMV_K}
        ),
        th AS (SELECT MAX(h) AS theta, COUNT(*)::BIGINT AS m_union FROM uni),
        bm AS (
          SELECT COUNT(*)::BIGINT AS m_both FROM uni u
          WHERE EXISTS (SELECT 1 FROM a WHERE a.user_id = u.user_id)
            AND EXISTS (SELECT 1 FROM b WHERE b.user_id = u.user_id)
        ),
        va AS (SELECT user_id FROM du WHERE event_type = 'view'),
        vb AS (SELECT user_id FROM du WHERE event_type = 'purchase'),
        ei AS (
          SELECT COUNT(*)::BIGINT AS exact_intersection FROM va
          WHERE EXISTS (SELECT 1 FROM vb WHERE vb.user_id = va.user_id)
        ),
        eu AS (SELECT COUNT(DISTINCT user_id)::BIGINT AS exact_union FROM du),
        calc AS (
          SELECT th.m_union, bm.m_both, eu.exact_union, ei.exact_intersection,
                 CASE WHEN th.m_union < {KMV_K}
                      THEN CAST(th.m_union AS DOUBLE)
                      ELSE ROUND({float(KMV_K - 1)} * {float(KMV_SPACE)} / th.theta, 6)
                 END AS est_union,
                 ROUND(CAST(bm.m_both AS DOUBLE) / th.m_union, 6) AS est_jaccard
          FROM th, bm, ei, eu
        )
        SELECT m_union, m_both, exact_union, exact_intersection,
               est_union, est_jaccard,
               ROUND(est_jaccard * est_union, 6) AS est_intersection,
               (ABS(ROUND(est_jaccard * est_union, 6) - exact_intersection)
                 <= GREATEST(16.0, 0.5 * exact_intersection)) AS within_bound
        FROM calc
    """,
}
