"""Two-stage residual PQ refinement — the ANN recall frontier
(round-10 verdict item 6).

Construction (Jégou, Tavenard, Douze, Amsaleg — "Searching in one
billion vectors: re-rank with source coding", ICASSP 2011, public):
keep the repo's plain PQ index (operators/pq.py: M=8 x 4-bit codes,
32 bits/vector) as stage 1, PQ-encode the RESIDUAL x - recon1(x)
with a second M=8 x 4-bit codebook (stage 2, +32 bits). Search runs
ADC over the stage-1 codes only (half the scan bandwidth of a 64-bit
layout), shortlists R=64 rows, and re-ranks them against the
two-stage reconstruction recon1 + recon2 — no raw-vector access, the
refinement reads only the R stored code rows.

The audit reports recall@10 against the exact ground truth for:
  hits_base32   — the plain 32-bit index, full-scan ADC
  hits_flat64   — a 64-bit flat re-layout (M=16 x 4-bit over 4-dim
                  subvectors): the equal-TOTAL-bits comparator
  hits_refined64— stage-1 shortlist + residual re-rank (same 64
                  stored bits as flat64, but only 32 scanned)

Measured (committed 8-query set, total hits of 80): refinement lifts
the base index 18->23 at sf0.01 and 20->25 at sf0.1 (+25-28 %
relative), landing within noise of the flat 64-bit re-layout (25 at
sf0.01, 26 at sf0.1) while scanning half the bits — and, operationally, the refinement codes are ADDITIVE
to an existing index (one residual-encode pass) where the re-layout
requires retraining and re-encoding the whole corpus. On this
near-isotropic corpus an equal-budget RE-LAYOUT is a wash by design
(no anisotropy to exploit): an OPQ-style variance-balancing rotation
was evaluated first and rejected — per-dim variance spread is 1.3x
and the permutation measured a 0.4 % INCREASE in quantization error;
two-stage-at-32-bits beat plain-32 at sf0.01 but flipped at sf0.1.
The residual-refinement frontier claim is the one that held at every
scale tested.

All three variants use the same KPQ=16 codewords, the same
deterministic first-KPQ-ids init, and the same hash-sampled
exact-integer Lloyd as operators/pq.py, so the DuckDB twin reproduces
training bit for bit and the driver hash-checks the full recall
table.

100 TB shape: three bounded driver trains (O(sample_target) rows
each), map-only encodes, and the audit's windows partition by the
8-query dimension over per-vector aggregates. Serving-path
refinement composes with the IVF partition pruning in
operators/ivfpq.py: the shortlist is the probed cells' ADC top-R and
the re-rank touches R stored code rows per query — never the corpus.

Reference parity note: the reference app has no ANN at all
(brute-force cosine at pyapp.py scale); this file is part of the
LLM-pipeline extension surface, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark.io import load_table
from searchengine_spark.operators.kmeans import (
    TRAIN_SAMPLE_TARGET,
    train_sample_mod,
    train_sample_sql,
)
from searchengine_spark.operators.pq import (
    KPQ,
    M,
    PQ_ITERS,
    SUB_DIM,
)

M2 = 16            # flat 64-bit re-layout subspaces
SUB_DIM2 = 4
# Shared with the whole recall-audit family — ann_truth.exact_truth's
# qi indexing is positional in this tuple.
from searchengine_spark.operators.ann_truth import AUDIT_QUERY_IDS as QUERY_IDS  # noqa: E402
R_SHORT = 64       # stage-1 ADC shortlist re-ranked by the refinement
RK = 10            # recall@RK


def _adc_table(
    qsub: list[list[int]], codebooks: list[list[list[int]]]
) -> list[list[int]]:
    """operators/pq.py:adc_distance_table generalized: ranges over
    len(codebooks), not the module constant M (the flat baseline has
    16 subspaces; the constant-M version silently truncated its table
    to 8 rows and overflowed element_at downstream)."""
    return [
        [
            sum((x - y) * (x - y) for x, y in zip(qsub[m], cvec))
            for cvec in codebooks[m]
        ]
        for m in range(len(codebooks))
    ]


def _sub_of_query_lit(qfp: dict[int, list[int]], m_count: int, sub_dim: int):
    """Literal array[qi][m][d] of query subvectors (bounded: 8
    queries), one parsed array literal in exact-bigint arithmetic."""
    from searchengine_spark.io import int_array_lit

    return int_array_lit(
        [
            [
                [int(v) for v in qfp[qid][m * sub_dim : (m + 1) * sub_dim]]
                for m in range(m_count)
            ]
            for qid in QUERY_IDS
        ],
        "array<array<array<bigint>>>",
    )


def _topk_per_query(dists: DataFrame, k: int, *, buckets: int = 64) -> DataFrame:
    """(qi, vec_id, dist) -> rows with rank rn <= k per query, the
    (dist, vec_id) lexicographic tie-break both engines share.

    Two-level: a first window over (qi, pmod(vec_id, buckets)) keeps
    each bucket's top-k, the final window ranks the <= k*buckets
    survivors. The per-qi top-k is EXACT (a global top-k row is its
    bucket's top-k), but no single reducer ever sorts a corpus-scale
    partition — the audit has only |QUERY_IDS| distinct qi values, so
    a flat partitionBy("qi") window funnels n rows through 8 tasks at
    any scale (guide §2.5: partitioning keys with too few distinct
    values)."""
    b = F.pmod(F.col("vec_id"), F.lit(buckets))
    w1 = Window.partitionBy("qi", b).orderBy("dist", "vec_id")
    pruned = (
        dists.withColumn("_rb", F.row_number().over(w1))
        .filter(F.col("_rb") <= k)
        .drop("_rb")
    )
    w = Window.partitionBy("qi").orderBy("dist", "vec_id")
    return pruned.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def _adc_dists_wide(
    wide_codes: DataFrame, dtables: list[list[list[int]]]
) -> DataFrame:
    """WIDE codes frame + per-query ADC tables -> (vec_id, qi, dist)
    with the query's own row excluded. The per-vector distance is an
    array fold over the codes column — a pure map stage with ZERO
    shuffle (the long-format path shuffled M rows per vector into a
    groupBy(vec_id) array-sum; guide §2.4)."""
    from searchengine_spark.io import int_array_lit

    dt = int_array_lit(
        [[[int(d) for d in row] for row in t] for t in dtables],
        "array<array<array<bigint>>>",
    )
    qid_lit = int_array_lit([int(q) for q in QUERY_IDS], "array<bigint>")
    ds = F.transform(
        dt,
        lambda per_q: F.aggregate(
            F.transform(
                F.col("codes"),
                lambda c, i: F.element_at(
                    F.element_at(per_q, i + F.lit(1)), c + F.lit(1)
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
    )
    return wide_codes.select(
        "vec_id", F.posexplode(ds).alias("qi", "dist")
    ).filter(F.col("vec_id") != F.element_at(qid_lit, F.col("qi") + 1))


def q_pq_refine_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of three ANN variants against the exact
    ground truth, all in hash-provable integer arithmetic — see the
    module docstring for the audited claims.

    Execution shape (r13 optimization round; guide §1.2 step 1 / §2.4
    / §3.3): everything per-vector runs on the WIDE codes layout —
    the stage-1 encoding is the session-shared pq_train_wide frame,
    the residual subvectors are an array expression over it (the old
    path re-exploded the corpus and equi-joined it back), both
    full-scan ADC baselines are map-only array folds feeding windowed
    top-k (no groupBy(vec_id) shuffle of M rows per vector), and the
    two-stage refinement encodes and re-ranks ONLY the <= R_SHORT *
    |queries| shortlisted rows — the "read only the R stored code
    rows" promise of the Jégou et al. construction, which the
    previous plan paid a full corpus pass for."""
    from searchengine_spark.operators.pq import (
        _assign_codes_wide,
        _cached_pq_wide,
        _codebooks_arr,
        _wide_subs,
        train_wide_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    wide1, cb1 = _cached_pq_wide(spark, sf_dir)
    # wide1 is lineage-cut + session-cached: the count is a cheap
    # materialized-partition scan, not a training re-run.
    smod = train_sample_mod(wide1.count(), TRAIN_SAMPLE_TARGET)

    wide16 = _wide_subs(emb, m_count=M2, sub_dim=SUB_DIM2).persist()
    cached = [wide16]
    try:
        # --- stage-2 residual training: rsubs = subs - cvec1[codes]
        # as one array expression over the cached wide stage-1 frame.
        cb1_arr = _codebooks_arr(cb1)
        res = wide1.select(
            "vec_id",
            F.col("codes").alias("codes1"),
            F.transform(
                "subs",
                lambda sub, i: F.zip_with(
                    sub,
                    F.element_at(
                        F.element_at(cb1_arr, i + F.lit(1)),
                        F.element_at(F.col("codes"), i + F.lit(1)) + F.lit(1),
                    ),
                    lambda x, y: x - y,
                ),
            ).alias("subs"),
        )
        cb2 = train_wide_codebooks(res, smod=smod)
        cb16 = train_wide_codebooks(wide16, smod=smod)

        from searchengine_spark.operators.ann_truth import (
            exact_truth,
            query_vectors,
        )

        qfp = query_vectors(spark, sf_dir)

        # --- exact ground truth: session-shared across the whole
        # recall-audit family (ann_truth.py) — one corpus scan serves
        # this audit, emb_ivfpq_recall_audit, and the probe curve.
        truth = (
            exact_truth(spark, sf_dir)
            .filter(F.col("rn") <= RK)
            .select("qi", "vec_id")
        )

        def qsubs(m_count: int, sub_dim: int) -> list[list[list[int]]]:
            return [
                [
                    qfp[qid][m * sub_dim : (m + 1) * sub_dim]
                    for m in range(m_count)
                ]
                for qid in QUERY_IDS
            ]

        # --- flat 64-bit re-layout, full-scan ADC (map-only fold)
        dt16 = [
            _adc_table(qs, cb16) for qs in qsubs(M2, SUB_DIM2)
        ]
        flat_top = _topk_per_query(
            _adc_dists_wide(_assign_codes_wide(wide16, cb16), dt16), RK
        ).select("qi", "vec_id")

        # --- base 32-bit ADC: top-RK variant + top-R shortlist
        dt8 = [_adc_table(qs, cb1) for qs in qsubs(M, SUB_DIM)]
        base_ranked = _topk_per_query(
            _adc_dists_wide(wide1, dt8), R_SHORT
        ).persist()
        cached.append(base_ranked)
        base_top = base_ranked.filter(F.col("rn") <= RK).select(
            "qi", "vec_id"
        )

        # --- refined: two-stage reconstruction distance, computed for
        # the SHORTLISTED vectors only (<= R_SHORT * |queries| rows) —
        # stage-2 encode included. The inner join with base_ranked
        # restricts each query to its own shortlist exactly as before;
        # pre-filtering by the shortlist id-set only avoids encoding
        # and scoring vectors no query shortlisted.
        short_ids = base_ranked.select("vec_id").distinct()
        enc2 = _assign_codes_wide(
            res.join(F.broadcast(short_ids), "vec_id"), cb2
        )
        # Two-stage reconstruction distance as ONE driver-computed
        # lookup table dt2[qi][m][c1][c2] = sum_d (q_d - (c1_d+c2_d))^2
        # over exact Python ints — the same per-subspace decomposition
        # the stage-1 ADC tables use, extended to the (code1, code2)
        # pair. The r13 form evaluated the identical formula per ROW
        # as a zip_with over two nested codebook literals inside a
        # fold: a huge interpreted expression tree whose analysis +
        # per-row evaluation dominated the refined stage (guide §1.2
        # step 2 / §7.3 plan-size; |dt2| = |queries|*M*KPQ^2 = 16384
        # bigints, one parsed literal).
        from searchengine_spark.io import int_array_lit

        dt2_lit = int_array_lit(
            [
                [
                    [
                        [
                            sum(
                                (q - (a + b)) ** 2
                                for q, a, b in zip(qs_m[m], cv1, cv2)
                            )
                            for cv2 in cb2[m]
                        ]
                        for cv1 in cb1[m]
                    ]
                    for m in range(M)
                ]
                for qs_m in qsubs(M, SUB_DIM)
            ],
            "array<array<array<array<bigint>>>>",
        )
        rec_ds = F.transform(
            dt2_lit,
            lambda per_q: F.aggregate(
                F.transform(
                    F.col("codes1"),
                    lambda c1, i: F.element_at(
                        F.element_at(
                            F.element_at(per_q, i + F.lit(1)),
                            c1 + F.lit(1),
                        ),
                        F.element_at(F.col("codes"), i + F.lit(1))
                        + F.lit(1),
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ),
        )
        rec_dists = enc2.select(
            "vec_id", F.posexplode(rec_ds).alias("qi", "dist")
        )
        refined = _topk_per_query(
            rec_dists.join(
                base_ranked.select("qi", "vec_id"), ["qi", "vec_id"]
            ),
            RK,
        ).select("qi", "vec_id")

        # --- hits per variant
        def hits(top: DataFrame, name: str) -> DataFrame:
            return (
                top.join(truth, ["qi", "vec_id"])
                .groupBy("qi")
                .agg(F.count(F.lit(1)).cast("bigint").alias(name))
            )

        qids = spark.createDataFrame(
            [(i, int(q)) for i, q in enumerate(QUERY_IDS)],
            "qi int, query_id bigint",
        )
        out = (
            qids.join(hits(base_top, "hits_base32"), "qi", "left")
            .join(hits(flat_top, "hits_flat64"), "qi", "left")
            .join(hits(refined, "hits_refined64"), "qi", "left")
            .select(
                "query_id",
                F.coalesce("hits_base32", F.lit(0)).cast("bigint").alias(
                    "hits_base32"
                ),
                F.coalesce("hits_flat64", F.lit(0)).cast("bigint").alias(
                    "hits_flat64"
                ),
                F.coalesce("hits_refined64", F.lit(0)).cast("bigint").alias(
                    "hits_refined64"
                ),
            )
            .orderBy("query_id")
        )
        from searchengine_spark.io import cut_lineage

        return cut_lineage(out)
    finally:
        for frame in cached:
            frame.unpersist()


# ------------------------------------------------------------- oracle


def _lloyd_sql(prefix: str, src: str, iters: int = PQ_ITERS) -> str:
    """Unrolled PQ Lloyd chain over an arbitrary source CTE `src`
    providing (vec_id, m, spos, v) — operators/pq.py:_pq_ctes
    generalized with prefixed CTE names so three independent trains
    compose in one statement. Requires the shared CTEs `smod` (sample
    modulus) and `ini` (vec_id -> init code). Emits {prefix}codes."""
    samp = train_sample_sql("SELECT s FROM smod", f"{src}.vec_id")
    parts = [
        f"""
{prefix}st AS MATERIALIZED (
  SELECT {src}.* FROM {src} WHERE {samp}
),
{prefix}c0 AS MATERIALIZED (
  SELECT s.m, CAST(i.code AS INTEGER) AS code, s.spos, s.v AS c
  FROM {src} s JOIN ini i ON s.vec_id = i.vec_id
)"""
    ]
    for i in range(1, iters + 1):
        prev = f"{prefix}c{i - 1}"
        parts.append(
            f"""
{prefix}a{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT d.vec_id, d.m, d.code,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT t.vec_id, t.m, c.code,
             CAST(SUM((t.v - c.c) * (t.v - c.c)) AS BIGINT) AS dist
      FROM {prefix}st t JOIN {prev} c ON t.m = c.m AND t.spos = c.spos
      GROUP BY t.vec_id, t.m, c.code
    ) d
  ) WHERE rn = 1
),
{prefix}c{i} AS MATERIALIZED (
  SELECT p.m, p.code, p.spos, COALESCE(u.c, p.c) AS c
  FROM {prev} p
  LEFT JOIN (
    SELECT a.m, a.code, t.spos,
           CAST(floor(CAST(SUM(t.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
    FROM {prefix}st t JOIN {prefix}a{i} a
      ON t.vec_id = a.vec_id AND t.m = a.m
    GROUP BY a.m, a.code, t.spos
  ) u ON p.m = u.m AND p.code = u.code AND p.spos = u.spos
)"""
        )
    parts.append(
        f"""
{prefix}codes AS MATERIALIZED (
  SELECT vec_id, m, code FROM (
    SELECT d.vec_id, d.m, d.code,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist, d.code) AS rn
    FROM (
      SELECT s.vec_id, s.m, c.code,
             CAST(SUM((s.v - c.c) * (s.v - c.c)) AS BIGINT) AS dist
      FROM {src} s JOIN {prefix}c{iters} c ON s.m = c.m AND s.spos = c.spos
      GROUP BY s.vec_id, s.m, c.code
    ) d
  ) WHERE rn = 1
)"""
    )
    return ",".join(parts)


def _refine_sql() -> str:
    from searchengine_spark.operators.kmeans import FP_SCALE

    qid_values = ", ".join(
        f"({i}, {int(q)})" for i, q in enumerate(QUERY_IDS)
    )
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
smod AS MATERIALIZED (
  SELECT GREATEST(1, COUNT(*) // {TRAIN_SAMPLE_TARGET}) AS s FROM q
),
ini AS MATERIALIZED (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
  FROM q ORDER BY vec_id LIMIT {KPQ}
),
qids(qi, query_id) AS (VALUES {qid_values}),
px AS MATERIALIZED (
  SELECT vec_id,
         CAST(generate_subscripts(qv, 1) - 1 AS INTEGER) AS idx,
         unnest(qv) AS v
  FROM q
),
s8 AS MATERIALIZED (
  SELECT vec_id, CAST(idx // {SUB_DIM} AS INTEGER) AS m,
         CAST(idx % {SUB_DIM} AS INTEGER) AS spos, v
  FROM px
),
s16 AS MATERIALIZED (
  SELECT vec_id, CAST(idx // {SUB_DIM2} AS INTEGER) AS m,
         CAST(idx % {SUB_DIM2} AS INTEGER) AS spos, v
  FROM px
),
{_lloyd_sql("p1", "s8")},
rs AS MATERIALIZED (
  SELECT s.vec_id, s.m, s.spos, s.v - c.c AS v
  FROM s8 s
  JOIN p1codes k ON s.vec_id = k.vec_id AND s.m = k.m
  JOIN p1c{PQ_ITERS} c ON c.m = s.m AND c.code = k.code AND c.spos = s.spos
),
{_lloyd_sql("p2", "rs")},
{_lloyd_sql("p3", "s16")},
truth AS (
  SELECT qi, vec_id FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY qi
                                   ORDER BY dist, vec_id) AS rn
    FROM (
      SELECT x.vec_id, qd.qi,
             CAST(SUM((x.v - y.v) * (x.v - y.v)) AS BIGINT) AS dist
      FROM px x
      JOIN qids qd ON TRUE
      JOIN px y ON y.vec_id = qd.query_id AND y.idx = x.idx
      WHERE x.vec_id <> qd.query_id
      GROUP BY x.vec_id, qd.qi
    ) d
  ) WHERE rn <= {RK}
),
dt16 AS MATERIALIZED (
  SELECT qd.qi, c.m, c.code,
         CAST(SUM((y.v - c.c) * (y.v - c.c)) AS BIGINT) AS d
  FROM qids qd
  JOIN s16 y ON y.vec_id = qd.query_id
  JOIN p3c{PQ_ITERS} c ON c.m = y.m AND c.spos = y.spos
  GROUP BY qd.qi, c.m, c.code
),
flat_top AS (
  SELECT qi, vec_id FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY qi
                                   ORDER BY dist, vec_id) AS rn
    FROM (
      SELECT k.vec_id, t.qi, CAST(SUM(t.d) AS BIGINT) AS dist
      FROM p3codes k
      JOIN dt16 t ON t.m = k.m AND t.code = k.code
      JOIN qids qd ON qd.qi = t.qi
      WHERE k.vec_id <> qd.query_id
      GROUP BY k.vec_id, t.qi
    ) d
  ) WHERE rn <= {RK}
),
dt8 AS MATERIALIZED (
  SELECT qd.qi, c.m, c.code,
         CAST(SUM((y.v - c.c) * (y.v - c.c)) AS BIGINT) AS d
  FROM qids qd
  JOIN s8 y ON y.vec_id = qd.query_id
  JOIN p1c{PQ_ITERS} c ON c.m = y.m AND c.spos = y.spos
  GROUP BY qd.qi, c.m, c.code
),
base_ranked AS MATERIALIZED (
  SELECT qi, vec_id, rn FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY qi
                                   ORDER BY dist, vec_id) AS rn
    FROM (
      SELECT k.vec_id, t.qi, CAST(SUM(t.d) AS BIGINT) AS dist
      FROM p1codes k
      JOIN dt8 t ON t.m = k.m AND t.code = k.code
      JOIN qids qd ON qd.qi = t.qi
      WHERE k.vec_id <> qd.query_id
      GROUP BY k.vec_id, t.qi
    ) d
  ) WHERE rn <= {R_SHORT}
),
base_top AS (SELECT qi, vec_id FROM base_ranked WHERE rn <= {RK}),
rec AS MATERIALIZED (
  SELECT k1.vec_id, k1.m, c1.spos, c1.c + c2.c AS c
  FROM p1codes k1
  JOIN p2codes k2 ON k2.vec_id = k1.vec_id AND k2.m = k1.m
  JOIN p1c{PQ_ITERS} c1 ON c1.m = k1.m AND c1.code = k1.code
  JOIN p2c{PQ_ITERS} c2 ON c2.m = k1.m AND c2.code = k2.code
                        AND c2.spos = c1.spos
),
refined AS (
  SELECT qi, vec_id FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY qi
                                   ORDER BY dist, vec_id) AS rn
    FROM (
      SELECT r.vec_id, qd.qi,
             CAST(SUM((y.v - r.c) * (y.v - r.c)) AS BIGINT) AS dist
      FROM rec r
      JOIN qids qd ON TRUE
      JOIN s8 y ON y.vec_id = qd.query_id
               AND y.m = r.m AND y.spos = r.spos
      JOIN base_ranked sr ON sr.qi = qd.qi AND sr.vec_id = r.vec_id
      GROUP BY r.vec_id, qd.qi
    ) d
  ) WHERE rn <= {RK}
)
SELECT qd.query_id,
       CAST(COALESCE(hb.n, 0) AS BIGINT) AS hits_base32,
       CAST(COALESCE(hf.n, 0) AS BIGINT) AS hits_flat64,
       CAST(COALESCE(hr.n, 0) AS BIGINT) AS hits_refined64
FROM qids qd
LEFT JOIN (SELECT f.qi, COUNT(*) AS n FROM base_top f
           JOIN truth t ON t.qi = f.qi AND t.vec_id = f.vec_id
           GROUP BY f.qi) hb ON hb.qi = qd.qi
LEFT JOIN (SELECT f.qi, COUNT(*) AS n FROM flat_top f
           JOIN truth t ON t.qi = f.qi AND t.vec_id = f.vec_id
           GROUP BY f.qi) hf ON hf.qi = qd.qi
LEFT JOIN (SELECT f.qi, COUNT(*) AS n FROM refined f
           JOIN truth t ON t.qi = f.qi AND t.vec_id = f.vec_id
           GROUP BY f.qi) hr ON hr.qi = qd.qi
ORDER BY qd.query_id
"""


QUERIES = {
    "emb_pq_refine_recall_audit": q_pq_refine_recall_audit,
}

ORACLES = {
    "emb_pq_refine_recall_audit": _refine_sql(),
}
