"""Driver-local query route (engine/query.py ``_run_shards``): a query,
or a ``search_batch`` query set, whose posting mass is at most
``LOCAL_MAX_POSTINGS`` is scored on the driver — pyarrow read of the
pruned postings, the SAME per-shard kernel closure, top-k in pandas, a
LocalRelation result — and runs no Spark job. Each route is forced by
setting the constant to 0 (distributed) or to a huge value (local).

Contracts under test:
* for every surface, modifier and batch entry kind the local route
  serves, the local answer equals the distributed answer exactly and
  matches the pure-Python oracle (engine/oracle.py, plus recomputes for
  the docvalue multipliers and tombstones);
* a small query, query set or rescore — plan construction, lexicon
  lookup and collect — schedules zero Spark jobs with Arrow on and off;
* a query above the constant, or one whose top-k may hold more than
  ``LOCAL_MAX_ROWS`` rows (a whole-ranking ``k``), keeps the
  distributed plan (FlatMapGroupsInPandas + TakeOrderedAndProject, or
  + Window for a query set); ``doc_filter`` keeps the cogrouped plan;
* every remaining distributed top-k tail plans a limit of at most the
  doc count for ``k = 10**9``;
* ``search_multi_match`` (every match type) and ``search_fielded`` are
  one-entry query sets: local == distributed with each modifier, and
  a batch MULTI_MATCH entry equals the single bit-exactly;
* after append + compact, local reads see the new segment and lexicon,
  through the returned handle and through an old handle after
  ``refresh()``.
"""

import datetime
import math

import pytest

from engine import matchops as M
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
                       cfg=IndexConfig(doc_values=("role", "ts"),
                                       fuzzy_edits=1))


@pytest.fixture(scope="module")
def attrs(lidx):
    return {r.doc_id: r for r in
            lidx.corpus().select("doc_id", "role", "ts").collect()}


def both_routes(monkeypatch, run, rows=_rows):
    """(distributed rows, local rows) of ``run()``, each route forced
    and plan-checked."""
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    dist_df = run()
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", BIG)
    local_df = run()
    assert "FlatMapGroupsInPandas" in _plan(dist_df)
    lp = _plan(local_df)
    assert "LocalTableScan" in lp and "Scan parquet" not in lp, lp
    return rows(dist_df), rows(local_df)


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


def _prefix_cursor(idx, prefix, k):
    last = Q.search_prefix(idx, prefix, k=k).collect()[-1]
    return (last.score, last.doc_id)


def _vocab_or(oracle, keep):
    """The OR query, qtf 1 per term, over the oracle's vocabulary terms
    ``keep`` selects (an expansion typed out)."""
    return " ".join(t for t in sorted(oracle.postings) if keep(t))


def _fuzzy_or(oracle, term, cap=50):
    from engine.fuzzy import levenshtein_py
    cand = sorted((levenshtein_py(term, t), -len(p), t)
                  for t, p in oracle.postings.items()
                  if levenshtein_py(term, t) <= 1)
    return " ".join(t for _, _, t in cand[:cap])


def _mlt(oracle, doc_id, max_terms=16, k=10):
    tf = {t: n for t, ps in oracle.postings.items()
          for d, n in ps if d == doc_id}
    terms = [t for _, t in sorted((-(n * oracle.idf(t)), t)
                                  for t, n in tf.items())][:max_terms]
    return [x for x in oracle.search(" ".join(terms), k=k + 1)
            if x[0] != doc_id][:k]


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
    # each token adds its qtf to every member of its synonym group
    ("synonyms", lambda i: Q.search_synonyms(i, "hot0 rare3",
                                             {"hot0": ["hot1"]}),
     lambda o, a: o.search("hot0 hot1 rare3")),
    ("prefix_after", lambda i: Q.search_prefix(
        i, "rare", k=5, after=_prefix_cursor(i, "rare", 5)),
     lambda o, a: _full(o, _vocab_or(o, lambda t: t.startswith("rare")))
     [5:10]),
    ("fuzzy", lambda i: Q.search_fuzzy(i, "rare3"),
     lambda o, a: o.search(_fuzzy_or(o, "rare3"))),
    ("more_like_this", lambda i: M.more_like_this(i, 0),
     lambda o, a: _mlt(o, 0)),
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


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_small_rescore_runs_no_spark_job(spark, lidx, monkeypatch, arrow):
    """search_rescore's secondary query is search()'s one-entry plan
    under a driver-held window mask: small, it runs no job, and answers
    like its distributed route."""
    from engine.rescore import search_rescore
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    sc = spark.sparkContext
    gid = f"local-rescore-{arrow}"

    def run():
        return _rows(search_rescore(lidx, "hot0 rare3", "hot1 mid1", k=5,
                                    window=20, rescore_weight=2.0))

    spark.conf.set(key, arrow)
    try:
        lidx.refresh()  # cold lexicon memo: the lookup must be job-free
        sc.setJobGroup(gid, gid)
        local = run()
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prev)
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    assert local and local == run()


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


# ---- search_batch: the same executor gate, per-entry limits ----

def _by_qid(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["qid"], []).append((int(r["doc_id"]),
                                              float(r["score"])))
    return out


def _batch_rows(df):
    return [(r["qid"], int(r["doc_id"]), float(r["score"]))
            for r in df.collect()]


@pytest.fixture(scope="module")
def bidx(spark, corpus_df, tmp_path_factory):
    """One index serving every batch entry kind: positions (PHRASE), an
    extra field (MULTI_MATCH), fuzzy neighborhoods (FUZZY) and
    docvalues (dv_filter, boost)."""
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("local_batch") / "idx")
    return build_index(spark, corpus_df, d, cfg=IndexConfig(
        doc_values=("role", "ts"), index_positions=True,
        extra_fields=("role",), fuzzy_edits=1))


def _phrase_single(i, q, slop=0):
    return [(r["doc_id"], float(r["n_phrase"])) for r in
            Q.search_phrase(i, q, k=10, slop=slop).collect()]


# (case id, batch entry, use_wand, oracle answer or None). Each entry
# rides in a set with a plain OR entry, so the set has two qids.
BATCH_CASES = [
    ("or", {"query": "hot0 rare3", "mode": "OR"}, "auto",
     lambda o, a, i: o.search("hot0 rare3")),
    ("and", {"query": "hot0 hot1", "mode": "AND"}, "auto",
     lambda o, a, i: o.search("hot0 hot1", mode="AND")),
    ("phrase", {"query": "hot0 hot1", "mode": "PHRASE"}, "auto",
     lambda o, a, i: _phrase_single(i, "hot0 hot1")),
    ("phrase_slop", {"query": "hot0 hot1", "mode": "PHRASE", "slop": 2},
     "auto", lambda o, a, i: _phrase_single(i, "hot0 hot1", slop=2)),
    ("prefix", {"query": "hot*", "mode": "PREFIX"}, "auto", None),
    ("fuzzy", {"query": "hot0", "mode": "FUZZY"}, "auto", None),
    ("regexp", {"query": "hot[01]", "mode": "REGEXP"}, "auto", None),
    ("dis_max", {"mode": "DIS_MAX", "queries": ["hot0 hot1", "rare3 mid1"],
                 "tie_breaker": 0.3}, "auto",
     lambda o, a, i: o.search_dis_max(["hot0 hot1", "rare3 mid1"],
                                      tie_breaker=0.3)),
    ("multi_match", {"mode": "MULTI_MATCH", "query": "hot0 user",
                     "fields": {"text": 1.0, "role": 2.0},
                     "tie_breaker": 0.3}, "auto", None),
    ("bool", {"mode": "BOOL", "must": "hot0", "should": "rare3 mid1",
              "min_should_match": 1}, "auto",
     lambda o, a, i: o.search_bool("hot0", "rare3 mid1",
                                   min_should_match=1)),
    ("exclude", {"query": "hot0 rare3", "mode": "OR", "exclude": "hot1"},
     "auto", lambda o, a, i: [x for x in _full(o, "hot0 rare3")
                              if x[0] not in _docs_with(o, ["hot1"])][:10]),
    ("min_match", {"query": "hot0 hot1 rare3 mid1", "mode": "OR",
                   "min_match": 2}, "auto",
     lambda o, a, i: o.search("hot0 hot1 rare3 mid1", min_match=2)),
    ("demote", {"query": "hot0 rare3", "mode": "OR", "demote": "hot1",
                "demote_factor": 0.3}, "auto",
     lambda o, a, i: o.search_boosting("hot0 rare3", "hot1",
                                       negative_boost=0.3)),
    # weight 2 on a qtf-1 term == the term written twice (qtf 2)
    ("boosts", {"query": "hot0 mid1", "mode": "OR",
                "boosts": {"hot0": 2.0}}, "auto",
     lambda o, a, i: o.search("hot0 hot0 mid1")),
    ("boost", {"query": "hot0 mid1", "mode": "OR", "boost": {
        "field": "ts", "half_life_days": HL_DAYS, "now": NOW}}, "auto",
     lambda o, a, i: _rescored(_full(o, "hot0 mid1"),
                               lambda d: _recency(a[d]))),
    ("dv_filter", {"query": "hot0 mid1", "mode": "OR",
                   "dv_filter": "role = 'user'"}, "auto",
     lambda o, a, i: [x for x in _full(o, "hot0 mid1")
                      if a[x[0]].role == "user"][:10]),
    ("k", {"query": "hot0 mid1", "mode": "OR", "k": 3}, "auto",
     lambda o, a, i: o.search("hot0 mid1", k=3)),
    ("wand", {"query": "hot0 hot1 mid1", "mode": "OR"}, True,
     lambda o, a, i: o.search("hot0 hot1 mid1")),
    ("cross_fields", {"mode": "MULTI_MATCH", "query": "hot0 user",
                      "fields": {"text": 1.0, "role": 2.0},
                      "match_type": "cross_fields", "tie_breaker": 0.3},
     "auto", None),
]


@pytest.mark.parametrize("case", BATCH_CASES, ids=[c[0] for c in BATCH_CASES])
def test_batch_local_equals_distributed_and_oracle(bidx, attrs, oracle_idx,
                                                   monkeypatch, case):
    _, entry, use_wand, oracle = case
    qset = [dict(entry, id="e"), {"id": "o", "query": "w010 rare3",
                                  "mode": "OR"}]
    dist, local = both_routes(
        monkeypatch, lambda: Q.search_batch(bidx, qset, k=10,
                                            use_wand=use_wand),
        rows=_batch_rows)
    assert local == dist  # bit-identical, same (qid, score, doc) order
    got = {}
    for qid, d, sc in local:
        got.setdefault(qid, []).append((d, sc))
    assert got.get("e") and got.get("o")  # non-degenerate
    assert got["o"] == oracle_idx.search("w010 rare3")
    if oracle is not None:
        _assert_oracle(got["e"], oracle(oracle_idx, attrs, bidx))


def test_batch_tombstones_local_equals_distributed(spark, lidx, oracle_idx,
                                                   monkeypatch, tmp_path):
    import shutil

    from engine.build import load_index
    from engine.deletes import delete_ids
    d = str(tmp_path / "bdel")
    shutil.copytree(lidx.index_dir, d)
    idx = load_index(spark, d)
    full = _full(oracle_idx, "hot0 rare3")
    gone = [full[0][0], full[3][0]]
    delete_ids(idx, gone)
    qset = [{"id": "a", "query": "hot0 rare3", "mode": "OR"},
            {"id": "b", "query": "hot0 rare3", "mode": "OR",
             "exclude": "hot1"}]
    dist, local = both_routes(
        monkeypatch, lambda: Q.search_batch(idx, qset, k=10),
        rows=_batch_rows)
    assert local == dist
    got = {}
    for qid, doc, sc in local:
        got.setdefault(qid, []).append((doc, sc))
    _assert_oracle(got["a"], [x for x in full if x[0] not in gone][:10])
    ex = _docs_with(oracle_idx, ["hot1"])
    _assert_oracle(got["b"], [x for x in full
                              if x[0] not in gone and x[0] not in ex][:10])


def test_batch_qid_literal_round_trips(lidx, oracle_idx, monkeypatch):
    """A qid with a quote, a backslash and non-ASCII text survives the
    local route's VALUES literal and sorts like the distributed plan
    (code-point order == Spark's UTF-8 byte order)."""
    odd = "it's a \\ tëst ✓ 語"
    qset = [{"id": odd, "query": "hot0 rare3", "mode": "OR"},
            {"id": "Z", "query": "hot1", "mode": "OR"},
            {"id": "é", "query": "w010", "mode": "OR"}]
    dist, local = both_routes(
        monkeypatch, lambda: Q.search_batch(lidx, qset, k=5),
        rows=_batch_rows)
    assert local == dist
    assert [q for q, _, _ in local] == sorted(q for q, _, _ in local)
    got = {}
    for qid, d, sc in local:
        got.setdefault(qid, []).append((d, sc))
    assert set(got) == {odd, "Z", "é"}
    _assert_oracle(got[odd], oracle_idx.search("hot0 rare3", k=5))


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_small_batch_runs_no_spark_job(spark, lidx, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    sc = spark.sparkContext
    gid = f"local-batch-{arrow}"
    spark.conf.set(key, arrow)
    qset = [{"id": "a", "query": "hot0 rare3", "mode": "OR"},
            {"id": "b", "query": "hot0 hot1", "mode": "AND",
             "exclude": "rare3"},
            {"id": "c", "mode": "DIS_MAX", "queries": ["hot0", "mid1"]},
            {"id": "d", "mode": "BOOL", "must": "hot0", "should": "rare3"},
            {"id": "e", "query": "zzzunknown", "mode": "OR"}]
    try:
        lidx.refresh()  # cold lexicon memo: the lookup must be job-free too
        sc.setJobGroup(gid, gid)
        out = _by_qid(Q.search_batch(lidx, qset, k=10))
        empty = Q.search_batch(lidx, [qset[-1]], k=10).collect()
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prev)
    assert set(out) == {"a", "b", "c", "d"} and empty == []


def _batch_mass(idx, terms):
    return sum(int(v["df"]) for v in idx.lookup_terms(terms).values())


BOUNDARY_SET = [{"id": "a", "query": "hot0 rare3", "mode": "OR"},
                {"id": "b", "query": "w010", "mode": "OR", "k": 3}]


def _assert_batch_distributed(df):
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan and "Window" in plan, plan


def test_batch_route_boundary_is_posting_mass(lidx, monkeypatch):
    """Local at the set's summed mass == constant, distributed one
    posting below it — with the frozen groupBy + window plan."""
    mass = _batch_mass(lidx, ["hot0", "rare3", "w010"])
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", mass)
    local = Q.search_batch(lidx, BOUNDARY_SET, k=10)
    assert "LocalTableScan" in _plan(local)
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", mass - 1)
    dist = Q.search_batch(lidx, BOUNDARY_SET, k=10)
    _assert_batch_distributed(dist)
    assert _batch_rows(local) == _batch_rows(dist)


def test_batch_route_boundary_is_result_rows(lidx, monkeypatch):
    """A set stays local only while its result rows, the sum over
    entries of min(k_q, mass_q), fit LOCAL_MAX_ROWS: each entry's own
    "k" counts, and a whole-ranking k counts the entry's mass."""
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", BIG)
    mass_a = _batch_mass(lidx, ["hot0", "rare3"])
    qset = [dict(BOUNDARY_SET[0], k=10 ** 9), BOUNDARY_SET[1]]
    rows = mass_a + 3
    monkeypatch.setattr(Q, "LOCAL_MAX_ROWS", rows)
    local = Q.search_batch(lidx, qset, k=10)
    assert "LocalTableScan" in _plan(local)
    monkeypatch.setattr(Q, "LOCAL_MAX_ROWS", rows - 1)
    dist = Q.search_batch(lidx, qset, k=10)
    _assert_batch_distributed(dist)
    got = _by_qid(local)
    assert _batch_rows(local) == _batch_rows(dist)
    assert len(got["a"]) > 10 and len(got["b"]) == 3


def test_batch_doc_filter_keeps_cogrouped_plan(lidx, monkeypatch):
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", BIG)
    df = Q.search_batch(lidx, BOUNDARY_SET, k=10,
                        doc_filter="turn_idx >= 1")
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan and "Window" in plan, plan
    assert _by_qid(df)["a"]


# ---- multi-field singles: one-entry sets through the batch kernel ----

MULTI_FIELDS = {"text": 1.0, "role": 2.0}
MULTI_SINGLES = [
    ("best_fields", lambda i, **kw: Q.search_multi_match(
        i, "hot0 user w010", fields=MULTI_FIELDS, tie_breaker=0.3, **kw)),
    ("most_fields", lambda i, **kw: Q.search_multi_match(
        i, "hot0 user w010", fields={"text": 1.0, "role": 1.5},
        match_type="most_fields", **kw)),
    ("cross_fields", lambda i, **kw: Q.search_multi_match(
        i, "hot0 user w010", fields=MULTI_FIELDS,
        match_type="cross_fields", tie_breaker=0.3, **kw)),
    ("fielded", lambda i, **kw: Q.search_fielded(
        i, [("text", "hot0", 1.0), ("role", "user", 2.0),
            ("text", "w010", 0.5)], **kw)),
]
MULTI_IDS = [c[0] for c in MULTI_SINGLES]


def _is_user(attrs):
    return lambda d: attrs[d].role == "user"


@pytest.mark.parametrize("case", MULTI_SINGLES, ids=MULTI_IDS)
@pytest.mark.parametrize("mod", ["plain", "exclude", "dv_filter"])
def test_multi_field_local_equals_distributed(bidx, attrs, oracle_idx,
                                              monkeypatch, case, mod):
    """Each route answers alike, and a modifier keeps its contract: the
    unmodified whole ranking minus excluded (text-space hot1) or
    non-user docs."""
    _, run = case
    kw = {"exclude": {"exclude": "hot1"},
          "dv_filter": {"dv_filter": "role = 'user'"}}.get(mod, {})
    dist, local = both_routes(monkeypatch, lambda: run(bidx, **kw))
    assert local == dist and local
    full = _rows(run(bidx, k=10 ** 9))
    keep = {"plain": lambda d: True,
            "exclude": lambda d: d not in _docs_with(oracle_idx, ["hot1"]),
            "dv_filter": _is_user(attrs)}[mod]
    assert local == [x for x in full if keep(x[0])][:10]


@pytest.mark.parametrize("case", MULTI_SINGLES, ids=MULTI_IDS)
def test_multi_field_doc_filter_is_cogrouped(bidx, attrs, monkeypatch,
                                             case):
    """doc_filter keeps the cogrouped job ending in
    TakeOrderedAndProject, and restricts like the same dv_filter."""
    _, run = case
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", BIG)
    df = run(bidx, doc_filter="role = 'user'")
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    got = _rows(df)
    assert got and got == _rows(run(bidx, dv_filter="role = 'user'"))
    assert all(_is_user(attrs)(d) for d, _ in got)


def test_multi_field_tombstones_local_equals_distributed(
        spark, bidx, monkeypatch, tmp_path):
    import shutil

    from engine.build import load_index
    from engine.deletes import delete_ids
    d = str(tmp_path / "mdel")
    shutil.copytree(bidx.index_dir, d)
    idx = load_index(spark, d)
    for _, run in MULTI_SINGLES:
        full = _rows(run(idx, k=10 ** 9))
        gone = [full[0][0], full[3][0]]
        delete_ids(idx, gone)
        dist, local = both_routes(monkeypatch, lambda: run(idx))
        assert local == dist
        assert local == [x for x in full if x[0] not in gone][:10]


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_small_multi_field_query_runs_no_spark_job(spark, bidx, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    sc = spark.sparkContext
    gid = f"local-multi-{arrow}"
    spark.conf.set(key, arrow)
    try:
        bidx.refresh()  # cold lexicon memo: the lookup must be job-free
        sc.setJobGroup(gid, gid)
        out = [run(bidx).collect() for _, run in MULTI_SINGLES]
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prev)
    assert all(out)


@pytest.mark.parametrize("mt", ["best_fields", "most_fields",
                                "cross_fields"])
def test_batch_multi_match_equals_single_exactly(bidx, monkeypatch, mt):
    """A batch MULTI_MATCH entry and search_multi_match are one scorer:
    bit-identical rows on both routes, for every match type."""
    tie = 0.0 if mt == "most_fields" else 0.3
    entry = {"id": "e", "mode": "MULTI_MATCH", "query": "hot0 user w010",
             "fields": MULTI_FIELDS, "match_type": mt, "tie_breaker": tie,
             "exclude": "hot1"}
    for bound in (0, BIG):
        monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", bound)
        single = _rows(Q.search_multi_match(
            bidx, entry["query"], fields=MULTI_FIELDS, match_type=mt,
            tie_breaker=tie, exclude="hot1"))
        batch = [(d, s) for _, d, s in
                 _batch_rows(Q.search_batch(bidx, [entry], k=10))]
        assert single and batch == single


# ---- k = 10**9 on the remaining distributed top-k tails ----

def _planned_limits(df) -> list[int]:
    import re
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    return [int(n) for n in re.findall(r"Arguments: (\d+), \[", plan)]


TAIL_CASES = [
    ("sorted", lambda i: Q.search_sorted(i, "hot0", "ts", k=10 ** 9,
                                         mode="OR")),
    ("phrase", lambda i: Q.search_phrase(i, "hot0 hot1", k=10 ** 9)),
    ("phrase_prefix", lambda i: Q.search_phrase_prefix(i, "hot0 ho",
                                                       k=10 ** 9)),
    ("span_first", lambda i: Q.search_span_first(i, "hot0", 3, k=10 ** 9)),
    ("multi_match", lambda i: Q.search_multi_match(
        i, "hot0 user", fields={"text": 1.0, "role": 2.0}, k=10 ** 9)),
    ("multi_match_doc_filter", lambda i: Q.search_multi_match(
        i, "hot0 user", fields={"text": 1.0, "role": 2.0}, k=10 ** 9,
        doc_filter="turn_idx >= 1")),
    ("more_like_this", lambda i: M.more_like_this(i, 0, k=10 ** 9)),
]


@pytest.mark.parametrize("case", TAIL_CASES, ids=[c[0] for c in TAIL_CASES])
def test_tail_limit_clipped_to_doc_count(bidx, monkeypatch, case):
    _, run = case
    # a whole-ranking multi_match fits the driver route on this index;
    # the tail under test is the distributed one
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    df = run(bidx)
    limits = _planned_limits(df)
    assert limits and max(limits) <= bidx.n_docs, limits
    assert df.collect()  # non-degenerate


def test_multi_index_limit_clipped_to_doc_count(lidx, bidx):
    from engine.multi import search_multi
    df = search_multi([lidx, bidx], "hot0 rare3", k=10 ** 9)
    limits = _planned_limits(df)
    assert limits and max(limits) <= lidx.n_docs + bidx.n_docs, limits
    assert len(df.collect()) > 10


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_driver_answers_collect_without_a_jvm_relation(spark, lidx,
                                                       monkeypatch, arrow):
    """A driver-route answer holds its rows: search(...).collect(),
    search_batch(...).collect() and toPandas() parse no VALUES plan (no
    spark.sql call at all), while composing on the same frame — schema,
    explain, join — works on exactly the VALUES plan it stands for."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    qset = [{"id": "a", "query": "hot0 rare3", "mode": "OR"},
            {"id": "b", "query": "hot0 hot1", "mode": "AND"}]
    try:
        single = Q.search(lidx, "hot0 rare3")
        batch = Q.search_batch(lidx, qset, k=5)
        empty = Q.search(lidx, "zzzunknown")
        frames = (single, batch, empty)

        def refuse(*a, **kw):
            raise AssertionError("a VALUES relation was parsed")
        with monkeypatch.context() as m:
            m.setattr(type(spark), "sql", refuse)
            got = [f.collect() for f in frames]
            pdfs = [f.toPandas() for f in frames]
        assert got[0] and got[1] and got[2] == []
        for f, rows, pdf in zip(frames, got, pdfs):
            plan = spark.sql(f._held_sql)
            assert rows == plan.collect()
            assert f.schema == plan.schema
            import pandas as pd
            pd.testing.assert_frame_equal(pdf, plan.toPandas())
        assert "LocalTableScan" in _plan(single)
        # entry "a" is the single's top 5
        joined = single.join(batch.filter("qid = 'a'"), "doc_id")
        assert sorted(r.doc_id for r in joined.collect()) == \
            sorted(r.doc_id for r in got[0][:5])
    finally:
        spark.conf.set(key, prev)
