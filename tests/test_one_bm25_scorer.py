"""One BM25 scorer: ``bm25.term_scores`` is where the package writes the
BM25 join and calls ``bm25_term_score``; every other Spark BM25 query
builds on it. ``index/ltr.py`` keeps its own join because its features
read term_freq, idf and doc_length beside the score. The SQL oracles
restate the formula on purpose (they are what parity is checked
against) and do not call the Column function.

No Spark work: the package source is parsed, not imported."""

from __future__ import annotations

import ast
import os

import pytest

pytestmark = pytest.mark.smoke

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "searchengine_spark"
)
ALLOWED = {os.path.join("index", "bm25.py"), os.path.join("index", "ltr.py")}


def _calls_bm25_term_score(path: str) -> bool:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name == "bm25_term_score":
                return True
    return False


def test_bm25_term_score_called_only_by_the_scorer_and_ltr():
    callers = set()
    for root, dirs, files in os.walk(PACKAGE):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                if _calls_bm25_term_score(path):
                    callers.add(os.path.relpath(path, PACKAGE))
    assert callers == ALLOWED, (
        "build BM25 scores on bm25.term_scores / bm25.query_term_scores "
        f"instead of restating the join: {sorted(callers - ALLOWED)}"
    )
