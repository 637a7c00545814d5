"""Driver-local query route (engine/query.py ``_run_shards``): a query
whose posting mass is at most ``LOCAL_MAX_POSTINGS`` is scored on the
driver — pyarrow read of the pruned postings, the SAME per-shard kernel
closure, top-k in pandas, a LocalRelation result — and runs no Spark
job. Each route is forced by setting the constant to 0 (distributed) or
to a huge value (local).

Contracts under test:
* for every surface and modifier the local route serves, the local
  answer equals the distributed answer exactly and matches the
  pure-Python oracle (engine/oracle.py, plus recomputes for the
  docvalue multipliers and tombstones);
* a small query — plan construction, lexicon lookup and collect —
  schedules zero Spark jobs with Arrow on and off;
* a query above the constant, or one whose top-k may hold more than
  ``LOCAL_MAX_ROWS`` rows (a whole-ranking ``k``), keeps the
  distributed plan (FlatMapGroupsInPandas + TakeOrderedAndProject);
* after append + compact, local reads see the new segment and lexicon,
  through the returned handle and through an old handle after
  ``refresh()``.
"""

import datetime
import math

import pytest

from engine import query as Q
from engine.config import IndexConfig

BIG = 1 << 62
NOW = "2026-02-01T00:00:00"
HL_DAYS = 7.0
ORIGIN = "2026-01-01T12:00:00"
SCALE_DAYS = 0.25


def _epoch(ts):
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


@pytest.fixture(autouse=True)
def _fresh_plans(monkeypatch):
    # prepared plans would hand back the first route's DataFrame
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")


@pytest.fixture(scope="module")
def lidx(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("local_route") / "idx")
    return build_index(spark, corpus_df, d,
                       cfg=IndexConfig(doc_values=("role", "ts")))


@pytest.fixture(scope="module")
def attrs(lidx):
    return {r.doc_id: r for r in
            lidx.corpus().select("doc_id", "role", "ts").collect()}


def both_routes(monkeypatch, run):
    """(distributed rows, local rows) of ``run()``, each route forced
    and plan-checked."""
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    dist_df = run()
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", BIG)
    local_df = run()
    assert "FlatMapGroupsInPandas" in _plan(dist_df)
    lp = _plan(local_df)
    assert "LocalTableScan" in lp and "Scan parquet" not in lp, lp
    return _rows(dist_df), _rows(local_df)


def _full(oracle, query, mode="OR"):
    return oracle.search(query, k=10 ** 9, mode=mode)


def _docs_with(oracle, terms):
    return {d for t in terms for d, _ in oracle.postings.get(t, ())}


def _recency(row):
    now_s = _epoch(datetime.datetime.fromisoformat(NOW))
    return 0.5 ** (max(0.0, now_s - _epoch(row.ts)) / (HL_DAYS * 86400.0))


def _gauss(row):
    origin_s = _epoch(datetime.datetime.fromisoformat(ORIGIN))
    scale_s = SCALE_DAYS * 86400.0
    dist = abs(_epoch(row.ts) - origin_s)
    sigma2 = -(scale_s * scale_s) / (2.0 * math.log(0.5))
    return math.exp(-(dist * dist) / (2.0 * sigma2))


def _page1_cursor(idx, query, k):
    last = Q.search(idx, query, k=k).collect()[-1]
    return (last.score, last.doc_id)


def _rescored(full, mult, k=10):
    out = sorted(((d, s * mult(d)) for d, s in full),
                 key=lambda t: (-t[1], t[0]))
    return out[:k]


# (case id, engine call, oracle answer). Every query below has a
# posting mass well under the real constant at this corpus size.
CASES = [
    ("or", lambda i: Q.search(i, "hot0 rare3"),
     lambda o, a: o.search("hot0 rare3")),
    ("and", lambda i: Q.search(i, "hot0 hot1", mode="AND"),
     lambda o, a: o.search("hot0 hot1", mode="AND")),
    ("min_match", lambda i: Q.search(i, "hot0 hot1 rare3 mid1",
                                     min_match=2),
     lambda o, a: o.search("hot0 hot1 rare3 mid1", min_match=2)),
    ("exclude", lambda i: Q.search(i, "hot0 rare3", exclude="hot1"),
     lambda o, a: [x for x in _full(o, "hot0 rare3")
                   if x[0] not in _docs_with(o, ["hot1"])][:10]),
    ("bool", lambda i: Q.search_bool(i, "hot0", "rare3 mid1",
                                     min_should_match=1),
     lambda o, a: o.search_bool("hot0", "rare3 mid1",
                                min_should_match=1)),
    ("dis_max", lambda i: Q.search_dis_max(i, ["hot0 hot1", "rare3 mid1"],
                                           tie_breaker=0.3),
     lambda o, a: o.search_dis_max(["hot0 hot1", "rare3 mid1"],
                                   tie_breaker=0.3)),
    ("boosting", lambda i: Q.search_boosting(i, "hot0 rare3", "hot1",
                                             negative_boost=0.3),
     lambda o, a: o.search_boosting("hot0 rare3", "hot1",
                                    negative_boost=0.3)),
    ("after", lambda i: Q.search_after(
        i, "hot0 mid1", k=5, after=_page1_cursor(i, "hot0 mid1", 5)),
     lambda o, a: _full(o, "hot0 mid1")[5:10]),
    ("dv_filter", lambda i: Q.search(i, "hot0 mid1",
                                     dv_filter="role = 'user'"),
     lambda o, a: [x for x in _full(o, "hot0 mid1")
                   if a[x[0]].role == "user"][:10]),
    ("recency", lambda i: Q.search(i, "hot0 mid1", boost={
        "field": "ts", "half_life_days": HL_DAYS, "now": NOW}),
     lambda o, a: _rescored(_full(o, "hot0 mid1"),
                            lambda d: _recency(a[d]))),
    ("decay", lambda i: Q.search(i, "hot0 mid1", boost={
        "field": "ts", "decay": "gauss", "origin": ORIGIN,
        "scale_days": SCALE_DAYS}),
     lambda o, a: _rescored(_full(o, "hot0 mid1"),
                            lambda d: _gauss(a[d]))),
    # weight 2 on a qtf-1 term == the term written twice (qtf 2)
    ("term_boosts", lambda i: Q.search(i, "hot0 mid1",
                                       term_boosts={"hot0": 2.0}),
     lambda o, a: o.search("hot0 hot0 mid1")),
    ("wand", lambda i: Q.search(i, "hot0 hot1 mid1", use_wand=True),
     lambda o, a: o.search("hot0 hot1 mid1")),
]


def _assert_oracle(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_local_equals_distributed_and_oracle(lidx, attrs, oracle_idx,
                                             monkeypatch, case):
    _, run, oracle = case
    dist, local = both_routes(monkeypatch, lambda: run(lidx))
    assert local == dist  # bit-identical: same kernel, same inputs
    assert local  # non-degenerate
    _assert_oracle(local, oracle(oracle_idx, attrs))


def test_tombstones_local_equals_distributed(spark, lidx, oracle_idx,
                                             monkeypatch, tmp_path):
    import shutil

    from engine.build import load_index
    from engine.deletes import delete_ids
    d = str(tmp_path / "del")
    shutil.copytree(lidx.index_dir, d)
    idx = load_index(spark, d)
    full = _full(oracle_idx, "hot0 rare3")
    gone = [full[0][0], full[3][0]]
    delete_ids(idx, gone)
    dist, local = both_routes(monkeypatch,
                              lambda: Q.search(idx, "hot0 rare3"))
    assert local == dist
    _assert_oracle(local, [x for x in full if x[0] not in gone][:10])


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_small_query_runs_no_spark_job(spark, lidx, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    sc = spark.sparkContext
    gid = f"local-route-{arrow}"
    spark.conf.set(key, arrow)
    try:
        lidx.refresh()  # cold lexicon memo: the lookup must be job-free too
        sc.setJobGroup(gid, gid)
        out = [Q.search(lidx, "hot0 rare3").collect(),
               Q.search(lidx, "hot0 zzzunknown", mode="AND").collect(),
               Q.search_dis_max(lidx, ["hot0 hot1", "rare3"]).collect(),
               Q.search_bool(lidx, "hot0", "rare3").collect()]
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prev)
    assert out[0] and out[1] == [] and out[2] and out[3]


def test_route_boundary_is_posting_mass(lidx, monkeypatch):
    """Local at mass == constant, distributed one posting below it —
    and the distributed plan keeps its frozen shape."""
    lex = lidx.lookup_terms(["hot0", "rare3"])
    mass = sum(int(v["df"]) for v in lex.values())
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", mass)
    assert "LocalTableScan" in _plan(Q.search(lidx, "hot0 rare3"))
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", mass - 1)
    plan = _plan(Q.search(lidx, "hot0 rare3"))
    assert "FlatMapGroupsInPandas" in plan
    assert "TakeOrderedAndProject" in plan


def test_route_boundary_is_result_rows(lidx, monkeypatch):
    """A whole-ranking request stays local only while its top-k (at most
    min(k, mass) rows) fits LOCAL_MAX_ROWS: the result is a literal
    VALUES relation, whose parse cost grows with its rows."""
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", BIG)
    lex = lidx.lookup_terms(["hot0", "rare3"])
    mass = sum(int(v["df"]) for v in lex.values())
    monkeypatch.setattr(Q, "LOCAL_MAX_ROWS", mass)
    local = Q.search(lidx, "hot0 rare3", k=10 ** 9)
    assert "LocalTableScan" in _plan(local)
    monkeypatch.setattr(Q, "LOCAL_MAX_ROWS", mass - 1)
    dist = Q.search(lidx, "hot0 rare3", k=10 ** 9)
    plan = _plan(dist)
    assert "FlatMapGroupsInPandas" in plan
    assert "TakeOrderedAndProject" in plan
    assert _rows(local) == _rows(dist) and len(_rows(local)) > 10
    # a top-10 of the same query stays local under a 10-row bound
    monkeypatch.setattr(Q, "LOCAL_MAX_ROWS", 10)
    assert "LocalTableScan" in _plan(Q.search(lidx, "hot0 rare3", k=10))


def test_doc_filter_keeps_distributed_plan(lidx, monkeypatch):
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", BIG)
    plan = _plan(Q.search(lidx, "hot0 rare3", doc_filter="turn_idx >= 1"))
    assert "FlatMapCoGroupsInPandas" in plan


def test_local_read_after_append_and_compact(spark, monkeypatch,
                                             tmp_path):
    """Appended docs become visible to local reads after compact, via
    the returned handle and via an old handle after refresh(); scores
    match an oracle over the whole corpus (fresh idf and avgdl)."""
    from engine.build import build_index
    from engine.fixtures import make_transcripts, spark_transcripts
    from engine.oracle import OracleIndex
    from engine.streaming import append_batch, compact
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", BIG)
    pdf = make_transcripts(60)
    h = len(pdf) // 2
    planted = h + 3
    pdf.loc[planted, "text"] = pdf.loc[planted, "text"] + " plantedtok"
    schema = spark_transcripts(spark, 2).schema
    d = str(tmp_path / "idx")
    old = build_index(spark, spark.createDataFrame(pdf.iloc[:h], schema), d)
    # warm the old handle's pyarrow views and lexicon memo
    assert _rows(Q.search(old, "hot0 plantedtok"))
    append_batch(spark, spark.createDataFrame(pdf.iloc[h:], schema), d)
    new = compact(spark, d)
    old.refresh()
    oracle = OracleIndex(list(zip(range(len(pdf)), pdf.text)))
    want = oracle.search("hot0 plantedtok")
    assert planted in [x for x, _ in want]
    for idx in (new, old):
        df = Q.search(idx, "hot0 plantedtok")
        assert "LocalTableScan" in _plan(df)
        _assert_oracle(_rows(df), want)


def test_distributed_limit_clipped_to_doc_count(lidx, monkeypatch):
    """k = 10**9 ("the whole ranking") plans a TakeOrderedAndProject
    limit of at most the index's doc count: Spark sizes each task's
    selection buffer from the limit, and 10**9 asked for ~8 GB."""
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    df = Q.search(lidx, "hot0 rare3", k=10 ** 9)
    assert f"Arguments: {lidx.n_docs}, [score" in _plan(df)
    want = _rows(Q.search(lidx, "hot0 rare3", k=lidx.n_docs))
    assert _rows(df) == want and len(want) > 10
