"""io.session_cached decides how a shared stage is stored: every
DataFrame a build returns (alone or in a tuple) is lineage-cut once,
an already-cut frame is kept as it is, and any other value is stored
as built."""

import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

pytestmark = pytest.mark.smoke


def _root(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


@pytest.fixture
def checkpoints(monkeypatch):
    """Counts localCheckpoint calls. The classic DataFrame is the class
    that implements it; patching pyspark.sql.DataFrame counts nothing."""
    monkeypatch.delenv("SPARK_GRAFT_PERSIST_DIR", raising=False)
    calls = []
    orig = ClassicDataFrame.localCheckpoint

    def counting(self, *args, **kwargs):
        calls.append(1)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counting)
    return calls


def test_lazy_frame_is_stored_cut(spark, checkpoints):
    from searchengine_spark.io import session_cached

    lazy = spark.range(20).filter("id % 3 = 0")
    assert _root(lazy) != "LogicalRDD"
    out = session_cached(spark, "test-lazy", "test-io-cache", lambda: lazy)
    assert _root(out) == "LogicalRDD"
    assert len(checkpoints) == 1
    assert sorted(r.id for r in out.collect()) == list(range(0, 20, 3))
    # a hit returns the stored frame and builds nothing
    again = session_cached(spark, "test-lazy", "test-io-cache", lambda: 1 / 0)
    assert again is out
    assert len(checkpoints) == 1


def test_cut_frame_is_stored_as_is(spark, checkpoints):
    from searchengine_spark.io import cut_lineage, session_cached

    cut = cut_lineage(spark.range(5))
    assert len(checkpoints) == 1
    out = session_cached(spark, "test-cut", "test-io-cache", lambda: cut)
    assert out is cut
    assert len(checkpoints) == 1
    # a filter over a cut frame is not itself cut
    sub = session_cached(
        spark, "test-cut-filter", "test-io-cache", lambda: cut.filter("id > 1")
    )
    assert _root(sub) == "LogicalRDD"
    assert len(checkpoints) == 2


def test_tuple_and_other_values(spark, checkpoints):
    from searchengine_spark.index.builder import InvertedIndex
    from searchengine_spark.io import session_cached

    items = [[1, 2], [3]]
    frame, listed = session_cached(
        spark, "test-tuple", "test-io-cache",
        lambda: (spark.range(4).selectExpr("id * 2 AS v"), items),
    )
    assert _root(frame) == "LogicalRDD"
    assert listed is items
    assert len(checkpoints) == 1

    assert session_cached(spark, "test-int", "test-io-cache", lambda: 7) == 7
    idx = InvertedIndex(*[spark.range(3)] * 6)
    got = session_cached(spark, "test-index", "test-io-cache", lambda: idx)
    assert got is idx
    assert _root(got.term_frequencies) == "Range"
    assert len(checkpoints) == 1


def test_shared_stages_checkpoint_once(spark, sf_dir, checkpoints):
    """The operators behind these stages return an already-cut frame;
    the session cache must not cut it a second time."""
    from searchengine_spark import io
    from searchengine_spark.operators.ann import _session_mutual_nn
    from searchengine_spark.operators.dedup import _shingles, _spans
    from searchengine_spark.operators.setjoin import _true_pairs

    _shingles(spark, sf_dir)
    stages = (
        ("prefix-jaccard-pairs", _true_pairs),
        ("cross-doc-spans", _spans),
        ("ann-mutual-nn", _session_mutual_nn),
    )
    for tag, build in stages:
        for key in [k for k in io._SESSION_CACHE if k[2] == tag]:
            del io._SESSION_CACHE[key]
        before = len(checkpoints)
        out = build(spark, sf_dir)
        assert _root(out) == "LogicalRDD", tag
        assert len(checkpoints) - before == 1, tag
