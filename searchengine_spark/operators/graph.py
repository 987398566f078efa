"""Fixed-point PageRank over document-similarity graphs.

Why here: after near-dup detection, an LLM-curation pipeline must
pick ONE canonical document per duplicate neighborhood. Keep-lowest-
id (the convention in operators/dedup.py) is arbitrary; centrality
on the near-dup graph is a principled alternative — the doc most
connected to its duplicates is the best exemplar of the group. This
module ranks nodes of the LSH candidate graph with PageRank
(Brin & Page 1998, public).

Hash-provable iteration: like the fixed-point k-means
(operators/kmeans.py), all arithmetic is scaled-INTEGER — ranks are
bigints at scale 1e12, contributions use integer division
(`div` / DuckDB `//`, identical truncation on positive values), and
the damping factor is the exact rational 85/100. Every engine
computes bit-identical ranks, so the driver hash-checks the full
iterative computation against an unrolled-CTE DuckDB oracle — no
float tolerance anywhere.

Scale shape per iteration: one equi-join ranks⋈edges on src (both
sides partitioned by the join key across iterations), one keyed sum
on dst. Degrees are precomputed once. 3 iterations keeps lineage
shallow enough to skip checkpointing; a longer loop would cut each
round with io.cut_lineage, like the CC loop in operators/dedup.py.
Dangling nodes cannot exist here (the similarity graph is
symmetrized), so no global dangling-mass redistribution term is
needed; a general web-graph variant would add one keyed aggregate
per iteration for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PR_SCALE = 10**12
PR_ITERS = 3
DAMP_NUM, DAMP_DEN = 85, 100


def symmetrize(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """(a<b) candidate pairs -> directed edge list both ways."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    rev = pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    return fwd.unionByName(rev).distinct()


def _session_graph(spark: SparkSession, sf_dir: str):
    """(edges, deg, ed, seeds) of the capped near-dup candidate graph,
    persisted ONCE per session and shared by the whole centrality /
    BFS / restart-walk family (r14; guide §1.2 step 1 + §5 — the five
    graph queries each re-derived the same symmetrize distinct, the
    same degree aggregate, and the same md5 seed filter from the
    session-cached pair list, paying one shuffle + its planning per
    frame per query).

    edges: symmetric distinct edge list; deg: (src, deg); ed:
    edges joined with deg on src (the per-iteration scan side
    pagerank and the restart walk share); seeds: the BFS_SEED_MOD
    md5-flag node subset bfs/ppr both read. All four are
    |graph|-bounded, far below the corpus, and live for the session
    like every other session-cached stage."""
    from searchengine_spark.io import session_cached
    from searchengine_spark.operators.dedup import _capped_pairs
    from searchengine_spark.operators.sampling import hash_bucket

    def build():
        from searchengine_spark.io import cut_lineage

        # The session cache cuts all four frames; edges is cut here
        # already because the build reads it three times.
        edges = cut_lineage(symmetrize(_capped_pairs(spark, sf_dir)))
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        seeds = (
            edges.select("src")
            .distinct()
            .filter(
                hash_bucket(
                    F.col("src"), n_buckets=BFS_SEED_MOD, salt=BFS_SEED_SALT
                )
                == 0
            )
            .select(F.col("src").alias("node"))
        )
        return edges, deg, edges.join(deg, "src"), seeds

    return session_cached(spark, "neardup-graph", sf_dir, build)


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    shared: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """(node, rank_fp) after ``iters`` damped power-method rounds in
    scale-``scale`` integer arithmetic. ``edges`` must be symmetric
    (see symmetrize) so every node keeps receiving mass. ``shared``
    optionally passes an already-persisted (deg, ed) pair (the
    _session_graph frames); those are NOT unpersisted here."""
    from searchengine_spark.io import cut_lineage

    # Persist the loop-invariant frames: without this, iteration i's
    # lineage embeds the edge-derivation subtree (here: the whole LSH
    # banding pipeline) once per join per round — ~8 re-executions at
    # 3 iterations (measured 21 s -> ~3 s at sf0.1).
    if shared is not None:
        deg, ed = shared
    else:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
        ed = edges.join(deg, "src").persist()
    try:
        n = deg.agg(F.count(F.lit(1)).alias("n"))

        # base teleport term: ((100-85)*scale) // (100*n) — exact ints
        ranks = deg.crossJoin(F.broadcast(n)).select(
            F.col("src").alias("node"),
            F.expr(f"cast({scale} as bigint) div n").alias("r"),
            F.expr(
                f"({DAMP_DEN - DAMP_NUM} * cast({scale} as bigint)) div ({DAMP_DEN} * n)"
            ).alias("base"),
        )
        for _ in range(iters):
            contribs = (
                ed.join(ranks, ed.src == ranks.node)
                .select("dst", F.expr("r div deg").alias("c"), "base")
                .groupBy("dst")
                .agg(F.sum("c").alias("s"), F.first("base").alias("base"))
            )
            ranks = contribs.select(
                F.col("dst").alias("node"),
                (F.col("base") + F.expr(f"({DAMP_NUM} * s) div {DAMP_DEN}")).alias("r"),
                "base",
            )
        return cut_lineage(ranks.select("node", F.col("r").alias("rank_fp")))
    finally:
        if shared is None:
            ed.unpersist()
            deg.unpersist()


# ------------------------------------------------------- registry glue


def q_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the LSH near-dup candidate graph: which document
    is the most central exemplar of its duplicate neighborhood.

    The candidate graph is built with the DEFAULT_MAX_BUCKET hot-bucket
    cap (dedup.neardup_candidate_pairs's default): a B-doc boilerplate
    bucket would otherwise inject a B-clique — B^2/2 edges feeding
    every iteration's join — into the graph. The oracle mirrors the cap
    (dedup._CAPPED_CAND_CTE)."""
    edges, deg, ed, _seeds = _session_graph(spark, sf_dir)
    return pagerank_fixed_point(edges, shared=(deg, ed)).select(
        F.col("node").alias("doc_id"), "rank_fp"
    )


EC_SCALE = 10**6
EC_ITERS = 3


def eigenvector_centrality(
    edges: DataFrame,
    *,
    iters: int = EC_ITERS,
    scale: int = EC_SCALE,
    materialized: bool = False,
) -> DataFrame:
    """(node, ec_fp): power-iteration eigenvector centrality in exact
    scaled integers. Complements PageRank on the same graph: no
    degree normalization and no teleport means mass concentrates in
    DENSE subgraphs — on a near-dup graph that ranks members of tight
    duplicate cliques above well-connected chain nodes, which is the
    right exemplar signal when clusters vary in cohesion (PageRank's
    r/deg split treats a clique edge and a chain edge identically).

    Per round: one src-keyed join + dst-keyed sum (same shuffle shape
    as pagerank_fixed_point), then an integer re-normalization by the
    round's max (1-row broadcast; `x * scale // mx` truncates the
    same in Spark `div` and DuckDB `//` on positives). Renormalizing
    each round bounds values at scale*deg_max, so the whole loop
    stays in bigint — no float norm anywhere, the driver hash-checks
    the full iteration against the unrolled twin. ``materialized=True``
    marks ``edges`` as an externally persisted shared frame (the
    _session_graph edge list): it is used as-is and not unpersisted."""
    from searchengine_spark.io import cut_lineage

    ed = edges if materialized else edges.persist()
    cached: list[DataFrame] = []
    try:
        v = (
            ed.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("r", F.lit(int(scale)).cast("bigint"))
        )
        for _ in range(iters):
            # Persist the round's sum frame: it feeds BOTH the next
            # round's scan side AND the 1-row max broadcast, and the
            # broadcast boundary blocks subexpression sharing — left
            # lazy, round i's subtree is embedded twice in round i+1
            # (2^iters re-executions of the edge join by the end;
            # pagerank has no per-round global agg, which is why it
            # never showed this; r13 optimization, guide §5).
            s = (
                ed.join(v, ed.src == v.node)
                .groupBy("dst")
                .agg(F.sum("r").alias("s"))
            ).persist()
            cached.append(s)
            m = s.agg(F.max("s").alias("mx"))
            v = s.crossJoin(F.broadcast(m)).select(
                F.col("dst").alias("node"),
                F.expr(f"CAST(s * {scale} DIV mx AS BIGINT)").alias("r"),
            )
        # cut_lineage is eager (localCheckpoint), so the persisted
        # rounds are safe to release in the finally below.
        return cut_lineage(v.select("node", F.col("r").alias("ec_fp")))
    finally:
        if not materialized:
            ed.unpersist()
        for s in cached:
            s.unpersist()


def q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality over the LSH near-dup candidate graph
    (hot-bucket-capped input — see q_pagerank_centrality)."""
    edges, _deg, _ed, _seeds = _session_graph(spark, sf_dir)
    return eigenvector_centrality(edges, materialized=True).select(
        F.col("node").alias("doc_id"), "ec_fp"
    )


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """(doc_id, n_triangles) for every node in >= 1 triangle of the
    (a < b) undirected edge list.

    Node-iterator with ordered triples: enumerate wedges a<b<c via
    edges(a,b)⋈edges(b,c), close them with a semi-check against
    edges(a,c) — each triangle materializes exactly once. Shapes:
    two equi-joins on node keys; wedge fan-out is sum(deg^2) over
    MIDDLE vertices, which the a<b<c orientation already caps (a hub
    only mediates wedges among its HIGHER-id neighbors; the standard
    degree-ordering refinement would redirect each edge from its
    lower- to higher-degree endpoint — same joins, one extra degree
    broadcast — noted for corpora with mega-hubs). Triangle density
    on a near-dup graph separates true duplicate cliques from chains
    of borderline matches: clusters with few triangles are the ones
    to re-verify before bulk deletion."""
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    wedge = (
        e.alias("ab")
        .join(
            e.alias("bc"),
            F.col("ab.b") == F.col("bc.a"),
        )
        .select(
            F.col("ab.a").alias("a"),
            F.col("ab.b").alias("b"),
            F.col("bc.b").alias("c"),
        )
    )
    tri = wedge.alias("w").join(
        e.alias("ac"),
        (F.col("w.a") == F.col("ac.a")) & (F.col("w.c") == F.col("ac.b")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the hot-bucket-capped candidate graph.

    The cap matters MOST here: an uncapped B-doc boilerplate bucket is
    a B-clique, and the wedge-close enumeration over a clique is
    O(B^3) — the one shape in the repo that turns a single hot key
    into cubic work. With DEFAULT_MAX_BUCKET the per-bucket work is
    bounded at cap^3 regardless of corpus size
    (tests/test_graph_cap.py plants the hot bucket and proves it)."""
    from searchengine_spark.operators.dedup import _capped_pairs

    pairs = _capped_pairs(spark, sf_dir)
    return triangle_counts(pairs)


BFS_HOPS = 3
BFS_SEED_MOD = 4  # ~25% of graph nodes seed the frontier: the
# capped candidate graph is SPARSE (isolated pairs/triples dominate at
# test SF), so a thinner flag set reaches almost nothing and the
# hash-check would cover a handful of rows
BFS_SEED_SALT = "bfs-seed-v1"


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iters: int = BFS_HOPS,
    materialized: bool = False,
) -> DataFrame:
    """(node, hops): minimum hop distance <= ``iters`` from any seed,
    by bounded-depth min-relaxation. ``edges`` must be symmetric.

    Scale shape per round (r14 restructure; guide §2.4): ONE equi-join
    level⋈edges on src and ONE keyed min — the relaxation form the
    unrolled-CTE oracle itself states. The previous frontier-only
    form computed identical rows (provably, on unit weights) but paid
    a distinct AND an anti-join per round on top of the edge join —
    ~2x the shuffle boundaries, each a scheduled AQE stage. The
    monotone union bound: a settled node's level never increases, so
    per-round state stays |reached nodes| and the keyed min is a
    partial-aggregating shuffle of (node, hops) pairs only.

    Each round's level frame is persisted (it feeds both the next
    join and the next union — left lazy the lineage doubles per
    round); the FINAL level is materialized with one count and every
    intermediate released before returning (r14 persist-hygiene
    sweep), so callers see a single bounded cached frame, not
    iters*2 pinned intermediates. ``materialized=True`` marks
    ``edges`` as an externally persisted shared frame (not
    re-persisted, not unpersisted)."""
    edges = edges if materialized else edges.persist()
    rounds: list[DataFrame] = []
    dist = seeds.select("node", F.lit(0).cast("int").alias("hops")).persist()
    rounds.append(dist)
    for _ in range(1, iters + 1):
        cand = edges.join(dist, edges.src == dist.node).select(
            F.col("dst").alias("node"),
            (F.col("hops") + F.lit(1)).cast("int").alias("hops"),
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("hops").cast("int").alias("hops"))
            .persist()
        )
        rounds.append(dist)
    dist.count()  # materialize the final level through the chain
    for frame in rounds[:-1]:
        frame.unpersist()
    if not materialized:
        edges.unpersist()
    return dist


def q_bfs_contamination_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination blast radius: hop distance (<= BFS_HOPS) from a
    flagged seed set through the near-dup graph. Direct near-dup
    pairs under-count contamination spread — a benchmark document's
    paraphrase's paraphrase shares no band with the original — so
    decontamination pipelines propagate flags transitively (the
    dedup-chain argument in Lee et al. 2022, public). Seeds here are
    a deterministic ~5% hash-flag of graph nodes, the stand-in for an
    external flag list (blocklist hits, eval-set matches); swapping
    in a real list changes one filter.

    Same capped candidate graph as the centrality family (the shared
    _session_graph edges + seeds); the oracle mirrors the cap and
    unrolls the BFS rounds as min-relaxation CTEs (equivalent to
    frontier BFS on unit weights)."""
    edges, _deg, _ed, seeds = _session_graph(spark, sf_dir)
    return bfs_hops(edges, seeds, iters=BFS_HOPS, materialized=True).select(
        F.col("node").alias("doc_id"), F.col("hops").cast("bigint").alias("hops")
    )




def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    shared: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """(node, rank_fp): random-walk-with-restart scores — PageRank
    whose teleport mass lands ONLY on ``seeds`` (topic-sensitive
    PageRank, Haveliwala 2002, public). Same hash-provable scaled-
    integer arithmetic as pagerank_fixed_point; the only structural
    change is that the restart base is per-node (seed or zero), so it
    rides a broadcast-joined frame instead of a constant column.
    ``edges`` must be symmetric; ``seeds`` must be non-empty (one
    column ``node``) — an empty seed set fails the job loudly via
    ``assert_true`` (round-10 ADVICE: Spark's integer ``div`` by 0
    yields NULL ranks while the DuckDB twin's ``//`` raises, so the
    engines would otherwise degrade differently; the guard costs no
    extra job, unlike a driver-side count). ``shared`` optionally
    passes the already-persisted (deg, ed) _session_graph pair (used
    as-is, not unpersisted here)."""
    from searchengine_spark.io import cut_lineage

    if shared is not None:
        deg, ed = shared
    else:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
        ed = edges.join(deg, "src").persist()
    bases = None
    try:
        ns = seeds.agg(F.count(F.lit(1)).alias("ns")).select(
            F.expr(
                "ns + coalesce(cast(assert_true(ns > 0, 'personalized_"
                "pagerank: seeds must be non-empty') as bigint), 0)"
            ).alias("ns")
        )
        bases = (
            deg.select(F.col("src").alias("node"))
            .join(seeds.select("node", F.lit(1).alias("_s")), "node", "left")
            .crossJoin(F.broadcast(ns))
            .select(
                "node",
                F.when(
                    F.col("_s") == 1,
                    F.expr(
                        f"({DAMP_DEN - DAMP_NUM} * cast({scale} as bigint))"
                        f" div ({DAMP_DEN} * ns)"
                    ),
                )
                .otherwise(F.lit(0).cast("bigint"))
                .alias("base"),
                F.when(
                    F.col("_s") == 1,
                    F.expr(f"cast({scale} as bigint) div ns"),
                )
                .otherwise(F.lit(0).cast("bigint"))
                .alias("r0"),
            )
            .persist()
        )
        ranks = bases.select("node", F.col("r0").alias("r"))
        for _ in range(iters):
            contribs = (
                ed.join(ranks, ed.src == ranks.node)
                .select("dst", F.expr("r div deg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            ranks = (
                bases.join(contribs, bases.node == contribs.dst, "left")
                .select(
                    bases.node,
                    (
                        F.col("base")
                        + F.expr(
                            f"({DAMP_NUM} * coalesce(s, cast(0 as bigint)))"
                            f" div {DAMP_DEN}"
                        )
                    ).alias("r"),
                )
            )
        out = cut_lineage(ranks.select("node", F.col("r").alias("rank_fp")))
        return out
    finally:
        if shared is None:
            ed.unpersist()
            deg.unpersist()
        if bases is not None:
            # cut_lineage is eager, so the restart-base frame can be
            # released here (r14 persist-hygiene sweep).
            bases.unpersist()


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination INFLUENCE over the near-dup graph: random-walk-
    with-restart from the same flagged seed set as the BFS blast
    radius. BFS answers "how far can the flag hop" (hard cutoff at
    the hop bound); RWR answers "how much of a flagged neighborhood's
    mass reaches this doc" — mass decays geometrically with distance
    and accumulates across multiple contamination paths, which is the
    graded score a quarantine policy thresholds on. Same capped
    candidate graph and md5 seed flag as dedup_bfs_contamination_hops
    (the shared _session_graph frames); the oracle unrolls the
    restart iterations as CTEs."""
    edges, deg, ed, seeds = _session_graph(spark, sf_dir)
    return personalized_pagerank(edges, seeds, shared=(deg, ed)).select(
        F.col("node").alias("doc_id"), "rank_fp"
    )


QUERIES = {
    "dedup_pagerank_centrality": q_pagerank_centrality,
    "dedup_eigenvector_centrality": q_eigenvector_centrality,
    "dedup_triangle_counts": q_triangle_counts,
    "dedup_bfs_contamination_hops": q_bfs_contamination_hops,
    "dedup_personalized_pagerank": q_personalized_pagerank,
}


def _oracle(iters: int = PR_ITERS, scale: int = PR_SCALE) -> str:
    from searchengine_spark.operators.dedup import _BANDS_CTE, _CAPPED_CAND_CTE

    head = f"""{_BANDS_CTE}{_CAPPED_CAND_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    deg AS (SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM deg),
    r0 AS (
      SELECT src AS node,
             {scale}::BIGINT // n AS r,
             ({DAMP_DEN - DAMP_NUM}::BIGINT * {scale}::BIGINT) // ({DAMP_DEN}::BIGINT * n) AS base
      FROM deg, nn
    )"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f""",
    r{i} AS (
      SELECT e.dst AS node,
             any_value(p.base)
               + ({DAMP_NUM}::BIGINT * CAST(SUM(p.r // d.deg) AS BIGINT))
                 // {DAMP_DEN}::BIGINT AS r,
             any_value(p.base) AS base
      FROM edges e
      JOIN r{i - 1} p ON e.src = p.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"\n    SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r{iters}"
    )


def _triangle_oracle() -> str:
    from searchengine_spark.operators.dedup import _BANDS_CTE, _CAPPED_CAND_CTE

    return f"""{_BANDS_CTE}{_CAPPED_CAND_CTE},
    tri AS (
      SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
      FROM cand ab
      JOIN cand bc ON bc.doc_a = ab.doc_b
      JOIN cand ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
    ),
    members AS (
      SELECT unnest([a, b, c]) AS doc_id FROM tri
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM members GROUP BY doc_id"""


def _ec_oracle(iters: int = EC_ITERS, scale: int = EC_SCALE) -> str:
    from searchengine_spark.operators.dedup import _BANDS_CTE, _CAPPED_CAND_CTE

    head = f"""{_BANDS_CTE}{_CAPPED_CAND_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    v0 AS (SELECT DISTINCT src AS node, {scale}::BIGINT AS r FROM edges)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f""",
    s{i} AS (
      SELECT e.dst AS node, CAST(SUM(p.r) AS BIGINT) AS s
      FROM edges e JOIN v{i - 1} p ON e.src = p.node
      GROUP BY e.dst
    ),
    m{i} AS (SELECT MAX(s) AS mx FROM s{i}),
    v{i} AS (
      SELECT node, CAST(s * {scale} // mx AS BIGINT) AS r FROM s{i}, m{i}
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"\n    SELECT node AS doc_id, r AS ec_fp FROM v{iters}"
    )


def _bfs_oracle(iters: int = BFS_HOPS) -> str:
    from searchengine_spark.operators.dedup import _BANDS_CTE, _CAPPED_CAND_CTE

    head = f"""{_BANDS_CTE}{_CAPPED_CAND_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    d0 AS (
      SELECT DISTINCT src AS node, 0 AS hops FROM edges
      WHERE (('0x' || substr(md5('{BFS_SEED_SALT}' || CAST(src AS VARCHAR)), 1, 15))::BIGINT
             % {BFS_SEED_MOD}) = 0
    )"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f""",
    d{i} AS (
      SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.hops + 1 AS hops
        FROM edges e JOIN d{i - 1} p ON e.src = p.node
      ) GROUP BY node
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"\n    SELECT node AS doc_id, CAST(hops AS BIGINT) AS hops FROM d{iters}"
    )




def _ppr_oracle(iters: int = PR_ITERS, scale: int = PR_SCALE) -> str:
    from searchengine_spark.operators.dedup import _BANDS_CTE, _CAPPED_CAND_CTE

    head = f"""{_BANDS_CTE}{_CAPPED_CAND_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    deg AS (SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY src),
    seeds AS (
      SELECT src AS node FROM deg
      WHERE (('0x' || substr(md5('{BFS_SEED_SALT}' || CAST(src AS VARCHAR)), 1, 15))::BIGINT
             % {BFS_SEED_MOD}) = 0
    ),
    ns AS (SELECT COUNT(*)::BIGINT AS ns FROM seeds),
    bases AS (
      SELECT d.src AS node,
             CASE WHEN s.node IS NOT NULL
                  THEN ({DAMP_DEN - DAMP_NUM}::BIGINT * {scale}::BIGINT)
                       // ({DAMP_DEN}::BIGINT * ns.ns)
                  ELSE 0::BIGINT END AS base,
             CASE WHEN s.node IS NOT NULL
                  THEN {scale}::BIGINT // ns.ns
                  ELSE 0::BIGINT END AS r0
      FROM deg d LEFT JOIN seeds s ON d.src = s.node CROSS JOIN ns
    ),
    r0 AS (SELECT node, r0 AS r FROM bases)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f""",
    s{i} AS (
      SELECT e.dst AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS s
      FROM edges e
      JOIN r{i - 1} p ON e.src = p.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT b.node,
             b.base + ({DAMP_NUM}::BIGINT * COALESCE(s.s, 0::BIGINT))
               // {DAMP_DEN}::BIGINT AS r
      FROM bases b LEFT JOIN s{i} s ON b.node = s.node
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"\n    SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r{iters}"
    )


ORACLES = {
    "dedup_pagerank_centrality": _oracle(),
    "dedup_eigenvector_centrality": _ec_oracle(),
    "dedup_triangle_counts": _triangle_oracle(),
    "dedup_bfs_contamination_hops": _bfs_oracle(),
    "dedup_personalized_pagerank": _ppr_oracle(),
}
