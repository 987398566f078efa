"""Tests of the benchmark's own helpers; none of them starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import threading

import pytest

import gen
import layers
import oracles
import stats
from spans import Span, Tracer, parse_event_log, self_times, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


# ------------------------------------------------------------- generator


def test_corpus_same_seed_same_bytes(tmp_path):
    a = gen.corpus(str(tmp_path / "a"), 7, 600)
    b = gen.corpus(str(tmp_path / "b"), 7, 600)
    for name in ("documents.parquet", "vocab.json", "meta.json"):
        assert _bytes(os.path.join(a.path, name)) == _bytes(os.path.join(b.path, name))


def test_corpus_other_seed_other_bytes(tmp_path):
    a = gen.corpus(str(tmp_path), 7, 600)
    b = gen.corpus(str(tmp_path), 8, 600)
    assert _bytes(os.path.join(a.path, "documents.parquet")) != _bytes(
        os.path.join(b.path, "documents.parquet")
    )


def test_corpus_words_are_alphabetic_and_kinds_present():
    table, kinds, vocab = gen.make_corpus_tables(3, 2000)
    assert all(w.isalpha() and w.islower() for w in vocab)
    assert len(set(vocab)) == gen.VOCAB_SIZE
    assert all(kinds[k] > 0 for k in gen.KIND_SHARES)
    texts = table.column("text").to_pylist()
    assert all(t.replace(" ", "").isalpha() for t in texts)
    assert len(set(texts)) < len(texts)      # the exact duplicates


def test_request_stream_deterministic_and_mixed():
    vocab = gen.vocabulary(11)
    one = gen.request_stream(11, vocab, [600])
    two = gen.request_stream(11, vocab, [600])
    assert one == two
    reqs = one[0]
    mix = gen.traffic_mix(reqs, vocab)
    assert 0.04 < mix["fuzzy_share"] < 0.2
    assert mix["head_term_share"] == pytest.approx(1 / 3, abs=0.05)
    assert all(len(r.q.split()) == 3 for r in reqs)
    known = set(vocab)
    assert all(r.q.split()[2] not in known for r in reqs if r.fuzzy)


def test_tpch_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = gen.tpch(str(tmp_path / "a"), 5, 0.002)
    b = gen.tpch(str(tmp_path / "b"), 5, 0.002)
    c = gen.tpch(str(tmp_path / "c"), 6, 0.002)
    for name in ("lineitem", "orders", "customer", "part", "supplier", "nation", "region"):
        f = f"{name}.parquet"
        assert _bytes(os.path.join(a, f)) == _bytes(os.path.join(b, f))
    assert _bytes(os.path.join(a, "lineitem.parquet")) != _bytes(os.path.join(c, "lineitem.parquet"))


def test_tpch_tables_keys_and_domains():
    t = gen.make_tpch_tables(9, 0.002)
    assert t["lineitem"].num_rows == 12_000 and t["orders"].num_rows == 3_000
    li = t["lineitem"].to_pydict()
    assert max(li["l_orderkey"]) < t["orders"].num_rows
    assert set(li["l_discount"]) <= {i / 100 for i in range(11)}
    assert {n.split()[1] for n in t["part"].column("p_name").to_pylist()} <= set(gen.PART_NOUN)
    assert t["nation"].column("n_regionkey").to_pylist()[:6] == [0, 1, 2, 3, 4, 0]


# ---------------------------------------------------------------- oracles


def test_value_hash_renders_engines_alike():
    import datetime
    from decimal import Decimal

    spark_row = (Decimal("12.50"), datetime.datetime(1998, 1, 2), "x", 3)
    duckdb_row = (12.5, datetime.datetime(1998, 1, 2, 0, 0), "x", 3)
    cols = ["rev", "day", "name", "n"]
    assert oracles.value_hash(cols, [spark_row]) == oracles.value_hash(cols, [duckdb_row])
    # Row order and column order do not matter; values do.
    two = [("a", 1), ("b", 2)]
    assert oracles.value_hash(["k", "v"], two) == oracles.value_hash(["k", "v"], two[::-1])
    assert oracles.value_hash(["k", "v"], two) != oracles.value_hash(["k", "v"], [("a", 1), ("b", 3)])


def test_program_digest_follows_sources(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    (pkg / "sub" / "b.py").write_text("y = 2\n")
    first = oracles.program_digest(str(pkg))
    assert oracles.program_digest(str(pkg)) == first
    (pkg / "sub" / "b.py").write_text("y = 3\n")
    assert oracles.program_digest(str(pkg)) != first


# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize(
    "n, want",
    [(10, None), (11, 9.0), (20, 50.0), (100, 90.0), (199, 94.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    if p is not None:
        import math

        assert n - math.ceil(p / 100 * n) >= stats.MIN_BEYOND


def test_tail_value_and_fallback():
    values = list(range(1, 201))
    assert stats.tail(values) == (95.0, 190)
    assert stats.tail([3.0, 1.0, 2.0]) == (None, 3.0)


# -------------------------------------------------------------- span math


def test_steal_share_of_all_cpu_time():
    before = [100, 0, 20, 500, 0, 0, 0, 30]
    after = [130, 0, 30, 540, 0, 0, 0, 50]      # 100 ticks pass, 20 stolen
    assert stats.steal_share(before, after) == pytest.approx(0.2)
    assert stats.steal_share([], after) is None
    assert stats.steal_share(before, before) is None


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5) == 2.5
    assert union_length([]) == 0


def test_self_time_subtracts_covered_children():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),      # overlaps a: covered 1..6
        Span(3, "c", 9.0, 12.0, parent=0),     # runs past root: clipped to 9..10
        Span(4, "a.x", 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_per_thread_and_restores_patches():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    tr = Tracer()
    orig = Owner.work
    tr.wrap(Owner, "work", "owner.work")

    def request(rid):
        with tr.span("request", rid=rid):
            assert Owner.work(1) == 2

    threads = [threading.Thread(target=request, args=(f"r{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(5)
        assert not t.is_alive()
    by_sid = {s.sid: s for s in tr.spans}
    calls = [s for s in tr.spans if s.name == "owner.work"]
    assert len(calls) == 4
    for s in calls:
        parent = by_sid[s.parent]
        assert parent.name == "request" and parent.rid == s.rid
    tr.restore()
    assert Owner.work is orig


# -------------------------------------------------------- event-log parser


def test_event_log_parser_on_recorded_fixture():
    # Recorded from a local[4] run with two job groups (g1, g2) after two
    # ungrouped jobs, trimmed to the events and fields the parser reads.
    with open(os.path.join(HERE, "fixtures", "eventlog_tiny.jsonl")) as f:
        groups = parse_event_log(f)
    assert set(groups) == {"", "g1", "g2"}
    g1 = groups["g1"]
    assert (g1.jobs, g1.stages, g1.tasks) == (2, 2, 5)
    assert g1.shuffle_bytes == 1020
    assert g1.task_cpu_s == pytest.approx(0.291378914)
    assert g1.gc_s == pytest.approx(0.128)
    assert union_length(g1.job_intervals) == pytest.approx(0.277 + 0.073)
    # Job 1 listed two stages but ran one: the skipped stage is not counted.
    assert groups[""].stages == 2 and groups[""].jobs == 2


# ------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert e2e == layers.END_TO_END
    per = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert per == {k: v[:2] for k, v in layers.PER_LAYER.items()}
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
