"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the searchengine_spark package; this module
only adapts it to the driver's interface.

Test tiers (the full ~1160-test suite does not fit a short window):

    python -m pytest -m smoke tests/ -q     # ~7 min on 4 CPUs
    python -m pytest tests/ -q              # full suite, 25-27 min on 4 CPUs

The ``smoke`` tier (pytest.ini) runs every registry query against its
DuckDB oracle at sf0.001 plus this module's entry() contract — one
end-to-end case per operator, so a meaningful signal fits any window.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: BM25 top-10 search with snippets over the
    sf0.001 documents corpus, through the public search API."""
    from pyspark.sql import functions as F

    from searchengine_spark.index import build_index, search
    from searchengine_spark.index.bm25 import snippets
    from searchengine_spark.io import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    idx = build_index(docs)
    hits = search(idx, "spark join window fast", k=10)
    return snippets(hits, docs, text_col="text", max_len=120).orderBy(
        F.desc("total_score"), F.asc("doc_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    100 TB-scale extension operators). Computed/aggregate columns are
    aliased identically to oracle_sql()."""
    from searchengine_spark.registry import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-executable ANSI-SQL twin for each query. Keys absent
    here (streaming, iterative) get the driver's rows-only check."""
    from searchengine_spark.registry import all_oracles

    return all_oracles()
