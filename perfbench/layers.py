"""The benchmark's metrics: names, units, and the per-layer values of a
traced run.

Every run prints every metric of its kind, on every workload, so a
layer a workload never calls reads 0 there: that workload bypasses the
layer. The per-layer table names, for each metric, the end-to-end metric
it should move.
"""

from __future__ import annotations

from spans import GroupCounters, union_length

# name: (unit, better, bound) — bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}
E2E_UNITS = {k: v[0] for k, v in END_TO_END.items()}

# name: (unit, better, end-to-end metric it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s"),
    "serve.service_init_s": ("s", "lower", "setup_s"),
    "host.calib_s": ("s", "lower", "none: a fixed CPU probe that flags a noisy host"),
    "trace.overhead_share": ("ratio", "lower", "none: traced over untraced op_p50_s, minus 1"),
    "serve.http_s": ("s", "lower", "op_p50_s"),
    "serve.query_s": ("s", "lower", "op_p50_s"),
    "tokenizer.tokenize_query_s": ("s", "lower", "op_p50_s"),
    "bm25.search_s": ("s", "lower", "op_p50_s"),
    "bm25.snippets_s": ("s", "lower", "op_p50_s"),
    "bm25.highlight_s": ("s", "lower", "op_p50_s"),
    "phrase.search_with_correction_s": ("s", "lower", "op_p50_s"),
    "io.retained_cache_mb": ("MB", "lower", "peak_rss_mb"),
    "pipeline.curate_s": ("s", "lower", "op_p50_s"),
    "pipeline.collect_s": ("s", "lower", "op_p50_s"),
    "tokenizer.tokens_column_s": ("s", "lower", "op_p50_s"),
    "builder.build_index_s": ("s", "lower", "op_p50_s"),
    "builder.materialize_s": ("s", "lower", "op_p50_s"),
    "incremental.append_to_index_s": ("s", "lower", "op_p50_s"),
    "incremental.materialize_s": ("s", "lower", "op_p50_s"),
    "relational.plan_s": ("s", "lower", "throughput_per_s"),
    "relational.slowest_query_s": ("s", "lower", "throughput_per_s"),
    "dedup.candidate_pairs": ("count", "lower", "op_p50_s"),
    "dedup.verified_share": ("ratio", "higher", "op_p50_s"),
    "spark.jobs": ("count", "lower", "op_p50_s"),
    "spark.stages": ("count", "lower", "op_p50_s"),
    "spark.tasks": ("count", "lower", "op_p50_s"),
    "spark.task_cpu_s": ("s", "lower", "throughput_per_s"),
    "spark.gc_s": ("s", "lower", "op_p50_s"),
    "spark.shuffle_bytes": ("bytes", "lower", "op_p50_s"),
    "spark.spill_bytes": ("bytes", "lower", "peak_rss_mb"),
    "spark.exec_s": ("s", "lower", "op_p50_s"),
    "spark.driver_s": ("s", "lower", "op_p50_s"),
}
# Spark counters of each batch operation, so that a change to one of
# them shows apart from the others. Curate, build and append make up the
# batch workload's op_p50_s; the TPC-H sweep its throughput_per_s.
for _op, _target in (("curate", "op_p50_s"), ("build", "op_p50_s"),
                     ("append", "op_p50_s"), ("tpch", "throughput_per_s")):
    for _c, _u in (("exec_s", "s"), ("task_cpu_s", "s"), ("tasks", "count"),
                   ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")):
        PER_LAYER[f"{_op}.{_c}"] = (_u, "lower", _target)
UNITS = {k: v[0] for k, v in PER_LAYER.items()}

# Spans whose total per unit operation is reported as "<name>_s".
_TIMED_SPANS = (
    "serve.query", "tokenizer.tokenize_query", "bm25.search", "bm25.snippets",
    "bm25.highlight", "phrase.search_with_correction",
    "pipeline.curate", "pipeline.collect", "tokenizer.tokens_column",
    "builder.build_index", "builder.materialize", "incremental.append_to_index",
    "incremental.materialize", "relational.plan",
)


# Top-level span of each batch operation: its name in the metrics.
_BATCH_OPS = {"curate": "curate", "build": "build", "append": "append",
              "relational.query": "tpch"}


def _unit_ops(ctx, workload, t_from: float) -> list:
    """The top-level spans of the traced timed region that make up the
    workload's unit of work (one request, one batch operation)."""
    roots = [s for s in ctx.tracer.spans if s.parent is None and s.start >= t_from]
    if workload.name == "search_http":
        return [s for s in roots if s.name == "serve.http" and s.rid[:1] in ("b", "s")]
    return [s for s in roots if s.name in _BATCH_OPS]


def _counters(ops, groups) -> GroupCounters:
    total = GroupCounters()
    for s in ops:
        if s.rid in groups:
            total.add(groups[s.rid])
    return total


def _exec_s(ops, groups) -> float:
    """Time within each span that its job group had a job running."""
    return sum(
        union_length(groups[s.rid].job_intervals, s.start, s.end)
        for s in ops if s.rid in groups
    )


def per_layer(ctx, workload, groups, t_from, setup, calib, untraced, e2e) -> dict:
    """Per-layer metrics of a traced run; times and counts are per unit
    operation (per request on search_http, per cycle of curate + build +
    append + TPC-H sweep on batch)."""
    out = {k: 0.0 for k in PER_LAYER}
    ops = _unit_ops(ctx, workload, t_from)
    rids = {s.rid for s in ops}
    n = max(1, len(ops) if workload.name == "search_http" else ctx.details["cycles"])
    for s in ctx.tracer.spans:
        if s.rid in rids and s.name in _TIMED_SPANS:
            out[f"{s.name}_s"] += s.dur / n
    c = _counters(ops, groups)
    ex = _exec_s(ops, groups)
    out.update({
        "spark.jobs": c.jobs / n, "spark.stages": c.stages / n, "spark.tasks": c.tasks / n,
        "spark.task_cpu_s": c.task_cpu_s / n, "spark.gc_s": c.gc_s / n,
        "spark.shuffle_bytes": c.shuffle_bytes / n, "spark.spill_bytes": c.spill_bytes / n,
        "spark.exec_s": ex / n,
        "spark.driver_s": (sum(s.dur for s in ops) - ex) / n,
    })
    if workload.name == "batch":
        for op in _BATCH_OPS.values():
            sub = [s for s in ops if _BATCH_OPS[s.name] == op]
            cs = _counters(sub, groups)
            out[f"{op}.exec_s"] = _exec_s(sub, groups) / n
            out[f"{op}.task_cpu_s"] = cs.task_cpu_s / n
            out[f"{op}.tasks"] = cs.tasks / n
            out[f"{op}.shuffle_bytes"] = cs.shuffle_bytes / n
            out[f"{op}.spill_bytes"] = cs.spill_bytes / n
        out["io.retained_cache_mb"] = max(workload.retained)
        queries = [s for s in ops if s.name == "relational.query"]
        slowest = max(queries, key=lambda s: s.dur, default=None)
        if slowest is not None:
            out["relational.slowest_query_s"] = slowest.dur
            ctx.details["slowest_query"] = workload.query_of[slowest.rid]
    if workload.name == "search_http":
        by_rid = {r["rid"]: r for r in workload.timed}
        query = {s.rid: s.dur for s in ctx.tracer.spans if s.name == "serve.query"}
        trips = [by_rid[r]["done"] - by_rid[r]["sent"] - query[r]
                 for r in rids if r in query and "done" in by_rid.get(r, {})]
        out["serve.http_s"] = sum(trips) / max(1, len(trips))
        out["serve.service_init_s"] = setup["ready_s"]
        out["io.retained_cache_mb"] = workload.retained
    out["session.start_s"] = setup["session_s"]
    out["host.calib_s"] = calib
    out["trace.overhead_share"] = e2e["op_p50_s"] / untraced["op_p50_s"] - 1.0
    return out
