"""Central query/oracle registry.

Aggregates every module's QUERIES (name -> callable(spark, sf_dir) ->
DataFrame) and ORACLES (name -> DuckDB SQL). __spark_entry__.py and
bench.py consume this. Keys missing from ORACLES are non-SQL ops the
driver checks rows-only (e.g. streaming, sketches, ML-backed ANN).
Names come in `_MODULES` order, then each module's own order; the
registry reads no file.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Every module that exports QUERIES/ORACLES. A module listed here but
# failing to import raises at registry time — a silently-vanishing
# query set must never look like "all green" to the driver gate.
_MODULES = (
    "index.queries",
    "index.unicode_search",
    "text.cjk",
    "text.normalize",
    "text.multilingual",
    "text.boilerplate",
    "index.phrase",
    "index.incremental",
    "index.fuzzy",
    "index.hybrid",
    "index.feedback",
    "index.evaluation",
    "index.compression",
    "index.maxscore",
    "index.staticprune",
    "index.ragrecall",
    "index.autocomplete",
    "index.keywords",
    "index.mmr",
    "index.ltr",
    "index.bm25f",
    "relational.tpch",
    "relational.tpch_extra",
    "relational.events",
    "relational.experiment",
    "relational.survival",
    "relational.stats_tests",
    "relational.conformal",
    "relational.timeseries",
    "relational.warehouse",
    "relational.advanced",
    "relational.incremental_agg",
    "relational.rollup_rewrite",
    "relational.trending",
    "operators.dedup",
    "operators.graph",
    "operators.setjoin",
    "operators.similarity",
    "operators.multimodal",
    "operators.phash",
    "operators.ann",
    "operators.approx",
    "operators.sampling",
    "operators.skew",
    "operators.upsert",
    "operators.udaf",
    "operators.quantization",
    "operators.kmeans",
    "operators.pca",
    "operators.topk",
    "operators.layout",
    "operators.bloom",
    "operators.export",
    "operators.rangejoin",
    "operators.projection",
    "operators.expectations",
    "operators.text_sim",
    "operators.mixture",
    "operators.decontamination",
    "operators.moments",
    "operators.heavy_hitters",
    "operators.cms",
    "operators.itemsets",
    "operators.simhash",
    "operators.privacy",
    "operators.containment",
    "operators.lsh_eval",
    "operators.linkage",
    "operators.pq",
    "operators.pqrefine",
    "operators.ivfpq",
    "text.analysis",
    "text.pmi",
    "text.lm",
    "text.nltk_parity",
    "text.quality",
    "text.redaction",
    "text.langid",
    "text.chunking",
    "text.cdc",
    "text.bpe",
    "text.drift",
    "text.blocklist",
    "text.intradoc",
    "text.vocab_stats",
    "sources.versioned",
    "streaming.replay",
    "pipeline",
)


def _collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for name in _MODULES:
        mod = importlib.import_module(f"searchengine_spark.{name}")
        queries.update(getattr(mod, "QUERIES", {}))
        oracles.update(getattr(mod, "ORACLES", {}))
    return queries, oracles


def all_queries() -> dict[str, QueryFn]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
