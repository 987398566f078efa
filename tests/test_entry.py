"""The driver contract's smoke surface: entry() must run in any
session and produce a stable schema."""

import pytest

pytestmark = pytest.mark.smoke


def test_entry_returns_scored_snippets(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert df.columns == ["doc_id", "total_score", "snippet"]
    assert 0 < len(rows) <= 10
    scores = [r.total_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r.snippet for r in rows)


def test_every_query_key_has_callable_and_alias_parity(spark):
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(fn) for fn in qs.values())
    # round 7: every registry query is hash-checkable — the former
    # rows-only trio (ann_ivf_topk, approx_*) now emits bounded-error
    # invariant frames with exact-count halves their DuckDB twins state
    rows_only = set(qs) - set(os_)
    assert rows_only == set(), f"rows-only queries reappeared: {rows_only}"


def test_registry_opens_no_file_and_keeps_module_order(monkeypatch):
    """The registry's names depend only on the code: collecting them
    opens no file, and they come in _MODULES order, each module's own
    order kept."""
    import builtins
    import importlib

    from searchengine_spark import registry

    registry.all_queries()  # import every module before recording
    opened = []
    real_open = builtins.open

    def recording_open(file, *args, **kwargs):
        opened.append(file)
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", recording_open)
    queries, oracles = registry.all_queries(), registry.all_oracles()
    monkeypatch.undo()
    assert opened == []

    expected_q: dict[str, None] = {}
    expected_o: dict[str, None] = {}
    for name in registry._MODULES:
        mod = importlib.import_module(f"searchengine_spark.{name}")
        expected_q.update(dict.fromkeys(getattr(mod, "QUERIES", {})))
        expected_o.update(dict.fromkeys(getattr(mod, "ORACLES", {})))
    assert list(queries) == list(expected_q)
    assert list(oracles) == list(expected_o)
