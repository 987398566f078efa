"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload search_http --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` and cached under ``.perfbench_work/``; the program is
driven through its public API from this process. ``--trace 0`` prints
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` records spans
around the program's public functions, enables Spark's event log, and
prints the per-layer metrics instead. The last line of standard output
is the result; a detailed record goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import tempfile
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"


def _pin_environment(trace: bool, log_dir: str) -> dict:
    """Pin what the program reads from the environment to this host."""
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # A fixed heap, not one sized from the host's RAM, so that memory and
    # GC behave the same on every host.
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_PERSIST_DIR"):
        os.environ.pop(var, None)
    # Temporary files stay inside the checkout too.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    conf = ["spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    if trace:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir={log_dir}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    args = [a for c in conf for a in ("--conf", c)]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)
    return {"cpus": nproc}


def _install_patches(tracer) -> None:
    """Wrap the program's public functions so each call is a span. Names
    bound at import time by another module are patched there too."""
    import searchengine_spark.index.bm25 as bm25
    import searchengine_spark.index.builder as builder
    import searchengine_spark.index.incremental as incremental
    import searchengine_spark.index.phrase as phrase
    import searchengine_spark.pipeline as pipeline
    import searchengine_spark.serve as serve
    import searchengine_spark.text.tokenizer as tokenizer

    for owner, attr, name in (
        (serve.SearchService, "query", "serve.query"),
        (bm25, "search", "bm25.search"),
        (bm25, "snippets", "bm25.snippets"),
        (bm25, "highlight", "bm25.highlight"),
        (bm25, "tokenize_query", "tokenizer.tokenize_query"),
        (tokenizer, "tokenize_query", "tokenizer.tokenize_query"),
        (phrase, "search_with_correction", "phrase.search_with_correction"),
        (builder, "build_index", "builder.build_index"),
        (incremental, "build_index", "builder.build_index"),
        (builder, "tokens_column", "tokenizer.tokens_column"),
        (incremental, "append_to_index", "incremental.append_to_index"),
        (pipeline, "curate", "pipeline.curate"),
        (pipeline, "shingle_frame", "dedup.shingle_frame"),
        (pipeline, "minhash_bands", "dedup.minhash_bands"),
        (pipeline, "neardup_candidate_pairs", "dedup.neardup_candidate_pairs"),
        (pipeline, "jaccard_pairs", "dedup.jaccard_pairs"),
    ):
        tracer.wrap(owner, attr, name)


def _start_session(ctx) -> float:
    """get_spark plus one trivial job; seconds taken."""
    from searchengine_spark import session

    t = time.perf_counter()
    ctx.spark = session.get_spark("perfbench")
    ctx.spark.range(1).count()
    took = time.perf_counter() - t
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return took


def _stop_session(ctx) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for
    every one of those processes to end."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    from stats import descendants

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    ctx.spark.stop()
    ctx.spark = None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        live = set(descendants(os.getpid()))
        procs = [p for p in procs if p in live]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _setup(ctx, workload, import_s: float) -> dict:
    """Set up once, cold: the JVM launch inside ``get_spark``, a trivial
    job, and what the workload needs before its first operation. With the
    program's import, this is what a user waits for from process start."""
    session_s = _start_session(ctx)
    t = time.perf_counter()
    workload.ready(ctx)
    ready_s = time.perf_counter() - t
    return {"import_s": import_s, "session_s": session_s, "ready_s": ready_s,
            "total_s": import_s + session_s + ready_s}


def _untraced_record(args, results: str, digest: str) -> dict:
    """The untraced run of the same workload, seed, length and sources,
    which the traced run is compared with; made first when there is none
    yet."""
    path = os.path.join(results, f"{args.workload}-s{args.seed}-t0-{digest}.json")
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
        if rec["seconds"] == args.seconds:
            return rec
    import subprocess

    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        check=True, stdout=subprocess.DEVNULL, timeout=120,
    )
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    t = time.perf_counter()
    import searchengine_spark  # noqa: F401 — fail here when the program is absent
    import_s = time.perf_counter() - t

    import layers
    import oracles
    import stats
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    log_dir = os.path.join(WORK, "eventlog", run_id)
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    env = _pin_environment(bool(args.trace), log_dir)

    program = oracles.program_digest(os.path.dirname(searchengine_spark.__file__))
    sources = f"{program}-{oracles.program_digest(HERE)[:8]}"
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    untraced = None
    if args.trace:
        untraced = _untraced_record(args, results, sources)

    ctx = workloads.Ctx(work=WORK, seed=args.seed, seconds=args.seconds,
                        trace=bool(args.trace), digest=program)
    workload = workloads.WORKLOADS[args.workload]()
    workload.prepare(ctx)
    if ctx.tracer is not None:
        _install_patches(ctx.tracer)

    correct, error = True, None
    phases: dict[str, float] = {}
    with stats.RssSampler() as rss:
        try:
            phases["start"] = time.time() - T_START
            setup = _setup(ctx, workload, import_s)
            phases["setup"] = time.time() - T_START
            workload.gate(ctx)
            phases["gate"] = time.time() - T_START
            calib = [stats.calib_probe() for _ in range(3)]
            t_measure = time.time()
            ticks = stats.cpu_ticks()
            e2e = workload.measure(ctx)
            steal = stats.steal_share(ticks, stats.cpu_ticks())
            phases["measure"] = time.time() - T_START
            calib += [stats.calib_probe() for _ in range(3)]
            workload.verify(ctx)
            extra = (workload.dedup_chain(ctx)
                     if ctx.tracer is not None and hasattr(workload, "dedup_chain") else {})
            import pyspark

            env.update({
                "heap": ctx.spark.sparkContext.getConf().get("spark.driver.memory"),
                "master": ctx.spark.sparkContext.master,
                "pyspark": pyspark.__version__,
                "python": platform.python_version(),
            })
        except workloads.GateFailure as exc:
            correct, error = False, str(exc)
        finally:
            if hasattr(workload, "close"):
                workload.close()
            _stop_session(ctx)
    if not correct:
        print(f"correctness gate failed: {error}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(1, ctx.attempted),
                          "failed": max(1, ctx.failed), "metrics": {}}))
        return 1

    e2e["setup_s"] = setup["total_s"]
    e2e["peak_rss_mb"] = rss.peak
    ctx.details["peak_rss_parts_mb"] = rss.parts
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "sources": sources, "env": env, "setup": setup, "calib_s": calib,
              "steal_share": steal,
              "details": ctx.details, "end_to_end": e2e,
              "phases": phases, "wall_s": time.time() - T_START}
    if ctx.tracer is not None:
        from spans import read_event_logs

        groups = read_event_logs(log_dir)
        metrics = layers.per_layer(ctx, workload, groups, t_measure, setup,
                                   stats.median(calib), untraced["end_to_end"], e2e)
        metrics.update(extra)
        record["per_layer"] = metrics
        ctx.tracer.write(os.path.join(results, f"{run_id}-{sources}.spans.jsonl"))
        units = layers.UNITS
    else:
        metrics = {k: e2e[k] for k in layers.END_TO_END}
        units = layers.E2E_UNITS
    with open(os.path.join(results, f"{run_id}-{sources}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record["details"], default=str), file=sys.stderr)
    print(json.dumps({
        "correct": True,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
