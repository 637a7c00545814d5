"""The SQL-literal plan-construction fast path (r4: materialization and
pin_topk build their small relations as ONE parsed SQL string instead of
per-node column ops — engine/query.py _sql_scalar/_values_relation,
shared by _collect_topk, pin_topk, _empty_topk and the local route).

The fast path must be VALUE-EXACT vs the per-node ``F.lit().cast()``
form it replaced: float scores round-trip bit-identically (repr is the
shortest exact decimal), strings survive quoting/escaping, NULLs keep
their type, and unsupported types fall back rather than mis-encode.
"""

import math

import pytest
from pyspark.sql import types as T


# -------------------------- _sql_scalar unit ---------------------------

@pytest.mark.parametrize("v,dt,expected", [
    (5, T.LongType(), "5L"),
    (5, T.IntegerType(), "5"),
    (None, T.LongType(), "CAST(NULL AS bigint)"),
    (None, T.StringType(), "CAST(NULL AS string)"),
    ("plain", T.StringType(), "'plain'"),
])
def test_sql_scalar_forms(v, dt, expected):
    from engine.query import _sql_scalar
    assert _sql_scalar(v, dt) == expected


def test_sql_scalar_unsupported_returns_none():
    from engine.query import _sql_scalar
    assert _sql_scalar([1, 2], T.ArrayType(T.LongType())) is None
    assert _sql_scalar(None, T.ArrayType(T.LongType())) is None


@pytest.mark.parametrize("f", [0.0, -0.0, 1.0, 0.1, 1e-300, 1.7e308,
                               0.32890752724213956, -2.5e-12,
                               float("inf"), float("-inf"), float("nan")])
def test_double_literals_round_trip_exactly(spark, f):
    """Spark must parse the emitted literal back to the SAME double —
    bit-exactness is what keeps materialized scores identical to the
    search's scores (and to the oracle, at 1e-9)."""
    from engine.query import _sql_scalar
    lit = _sql_scalar(f, T.DoubleType())
    got = spark.sql(f"SELECT {lit} AS v").first()["v"]
    if math.isnan(f):
        assert math.isnan(got)
    else:
        assert got == f and math.copysign(1, got) == math.copysign(1, f)


@pytest.mark.parametrize("s", [
    "it's", 'say "hi"', "back\\slash", "per;cent%_", "newline\nend",
    "quote'then\\both", "unicode départ 日本語",
])
def test_string_literals_round_trip(spark, s):
    from engine.query import _sql_scalar
    lit = _sql_scalar(s, T.StringType())
    assert spark.sql(f"SELECT {lit} AS v").first()["v"] == s


# ----------------------------- pin_topk -------------------------------

@pytest.fixture(scope="module")
def packed_index(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("sqlit") / "packed")
    return build_index(spark, corpus_df, d)


def test_pin_topk_values_and_schema(packed_index):
    from engine import query as Q
    top = Q.search(packed_index, "hot0 rare3", k=10)
    pinned = Q.pin_topk(packed_index, top)
    # literals are non-nullable, so compare names+types (a pinned field
    # may tighten nullability, never loosen or retype)
    assert [(f.name, f.dataType) for f in pinned.schema.fields] \
        == [(f.name, f.dataType) for f in top.schema.fields]
    assert [r.asDict() for r in pinned.collect()] \
        == [r.asDict() for r in top.collect()]


def test_pin_topk_is_jobless_literal(packed_index):
    """The pinned relation must not plan a Python-side RDD scan — the
    whole point is removing the per-execution Python round trip."""
    from engine import query as Q
    top = Q.search(packed_index, "hot0 rare3", k=5)
    pinned = Q.pin_topk(packed_index, top)
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Scan parquet" not in plan


def test_pin_topk_collect_runs_no_job(spark, packed_index):
    """The pinned relation is a VALUES LocalRelation: collecting it
    schedules no Spark job (``range(1).select(explode(...))``, the
    earlier form, still scheduled one)."""
    from engine import query as Q
    pinned = Q.pin_topk(packed_index, Q.search(packed_index, "hot0 rare3",
                                               k=5))
    assert "LocalTableScan" in \
        pinned._jdf.queryExecution().executedPlan().toString()
    sc = spark.sparkContext
    sc.setJobGroup("pin-topk", "pin-topk")
    try:
        rows = pinned.collect()
        assert list(sc.statusTracker().getJobIdsForGroup("pin-topk")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 5


def test_pin_topk_empty(packed_index):
    from engine import query as Q
    top = Q.search(packed_index, "zzz_absent_term", k=5)
    pinned = Q.pin_topk(packed_index, top)
    assert pinned.collect() == [] and pinned.schema == top.schema


def test_materialize_identical_via_pinned(packed_index):
    """materialize over a pinned top-k == materialize over the live
    search DataFrame (same rows, same order)."""
    from engine import query as Q
    top = Q.search(packed_index, "hot0 hot1", k=10)
    a = [r.asDict() for r in Q.materialize_packed(packed_index, top).collect()]
    b = [r.asDict() for r in Q.materialize_packed(
        packed_index, Q.pin_topk(packed_index, top)).collect()]
    assert a == b and len(a) == 10


def test_collect_topk_fast_path_matches_fallback(packed_index, monkeypatch):
    """Force the per-node fallback (as if a column type were unsupported)
    and check the fast path produces the identical small relation."""
    from engine import query as Q
    top = Q.search(packed_index, "hot0 rare3", k=8)
    _, small_fast = Q._collect_topk(packed_index, top)
    monkeypatch.setattr(Q, "_sql_scalar", lambda v, dt: None)
    _, small_slow = Q._collect_topk(packed_index, top)
    monkeypatch.undo()
    fast = [r.asDict() for r in small_fast.collect()]
    slow = [r.asDict() for r in small_slow.collect()]
    assert fast == slow


# --------------------------- plan cache -------------------------------

def test_plan_cache_reuses_and_invalidates(packed_index):
    """Identical search args return the SAME DataFrame object (prepared
    plan reuse); different args miss; refresh() clears the cache."""
    from engine import query as Q
    a = Q.search(packed_index, "hot0 rare3", k=10)
    b = Q.search(packed_index, "hot0 rare3", k=10)
    assert a is b
    c = Q.search(packed_index, "hot0 rare3", k=5)
    assert c is not a
    packed_index.refresh()
    d = Q.search(packed_index, "hot0 rare3", k=10)
    assert d is not a
    # cached plan still computes the right answer
    assert [r.asDict() for r in d.collect()] \
        == [r.asDict() for r in b.collect()]


def test_plan_cache_batch_keys_on_query_set(packed_index):
    from engine import query as Q
    qs1 = [{"id": "a", "query": "hot0 hot1", "mode": "OR"}]
    qs2 = [{"id": "a", "query": "hot0 hot1", "mode": "AND"}]
    a = Q.search_batch(packed_index, qs1, k=10)
    assert Q.search_batch(packed_index, qs1, k=10) is a
    assert Q.search_batch(packed_index, qs2, k=10) is not a


def test_plan_cache_env_bypass(packed_index, monkeypatch):
    """SPARK_GRAFT_PLAN_CACHE=0 (bench.py's first-run-honesty switch)
    must construct a FRESH DataFrame per call — identical args included —
    or best-of-N bench rows silently measure Spark's same-RDD
    shuffle-stage reuse instead of query cost."""
    from engine import query as Q
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    a = Q.search(packed_index, "hot0 rare3", k=10)
    b = Q.search(packed_index, "hot0 rare3", k=10)
    assert a is not b
    monkeypatch.delenv("SPARK_GRAFT_PLAN_CACHE")
    c = Q.search(packed_index, "hot0 rare3", k=10)
    assert Q.search(packed_index, "hot0 rare3", k=10) is c
