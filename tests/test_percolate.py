"""Percolator (engine/percolate.py): reverse search — registered saved
queries matched against incoming documents. Differential reference:
set-intersection arithmetic over the frozen analyzer tokens."""

import pytest

from engine.analyzer import tokenize_py
from engine.config import DEFAULT
from engine.percolate import percolate, register_queries

QUERIES = [
    {"id": "q-and", "query": "hot0 hot1", "mode": "AND"},
    {"id": "q-or", "query": "rare3 rare4", "mode": "OR"},
    {"id": "q-one", "query": "w010", "mode": "OR"},
    {"id": "q-msm", "query": "hot0 w010 w020", "min_match": 2},
    {"id": "q-mixed", "query": "MiXeD-Case7!", "mode": "AND"},
]


@pytest.fixture(scope="module")
def qidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("perc") / "qidx")
    return register_queries(spark, QUERIES, d)


def _ref_matches(doc_text):
    toks = set(tokenize_py(doc_text, DEFAULT.analyzer))
    out = []
    for q in QUERIES:
        terms = set(tokenize_py(q["query"], DEFAULT.analyzer))
        req = (q.get("min_match")
               or (len(terms) if q.get("mode", "OR").upper() == "AND"
                   else 1))
        if len(terms & toks) >= req:
            out.append(q["id"])
    return sorted(out)


@pytest.mark.parametrize("doc", [
    "hot0 hot1 filler words",          # q-and + q-msm? (hot0 only: no)
    "hot0 w010 something",             # q-one + q-msm (2 of 3)
    "rare4 alone",                     # q-or
    "totally unrelated tokens here",   # nothing
    "MiXeD-Case7! and hot0 hot1 w010 w020 rare3",  # everything
    "",                                # empty doc
])
def test_percolate_matches_reference(qidx, doc):
    got = [r.query_id for r in percolate(qidx, doc).collect()]
    assert got == _ref_matches(doc), doc


def test_percolate_unregister_via_deletes(spark, tmp_path):
    from engine.deletes import delete_docs
    d = str(tmp_path / "qidx2")
    qidx = register_queries(spark, QUERIES, d)
    doc = "hot0 hot1 w010"
    before = [r.query_id for r in percolate(qidx, doc).collect()]
    assert "q-and" in before
    delete_docs(qidx, "qid = 'q-and'")
    after = [r.query_id for r in percolate(qidx, doc).collect()]
    assert sorted(set(before) - {"q-and"}) == after


def test_register_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="duplicate query id"):
        register_queries(spark, [{"id": "a", "query": "x"},
                                 {"id": "a", "query": "y"}],
                         str(tmp_path / "dup"))
    with pytest.raises(ValueError, match="no analyzer tokens"):
        register_queries(spark, [{"id": "a", "query": "!!!"}],
                         str(tmp_path / "tok"))
    with pytest.raises(ValueError, match="OR-family floor"):
        register_queries(spark, [{"id": "a", "query": "x y",
                                  "mode": "AND", "min_match": 2}],
                         str(tmp_path / "mm"))


def test_percolate_requires_percolator_index(spark, corpus_df, tmp_path):
    from engine.build import build_index
    idx = build_index(spark, corpus_df, str(tmp_path / "plain"))
    with pytest.raises(ValueError, match="percolator index"):
        percolate(idx, "hot0")


def test_register_queries_append_matches_batch(spark, tmp_path):
    """Incremental registration (r5): N one-shot == (N-m) + append(m)
    for every percolated doc; id clashes and non-percolator indexes are
    rejected."""
    from engine.percolate import (percolate, register_queries,
                                  register_queries_append)
    qs = [{"id": f"a{i:03d}", "query": f"w{(3 * i) % 40:03d} hot0",
           "mode": "AND"} for i in range(30)]
    qs += [{"id": "or1", "query": "rare3 rare4"},
           {"id": "mm1", "query": "w001 w002 w003", "min_match": 2}]
    full = register_queries(spark, qs, str(tmp_path / "full"))
    part = register_queries(spark, qs[:20], str(tmp_path / "part"))
    part2 = register_queries_append(part, qs[20:])
    docs = ["hot0 w000 w003 filler", "rare3 rare4 something",
            "w001 w003 only", "nothing relevant"]
    for d in docs:
        want = [r.query_id for r in percolate(full, d).collect()]
        got = [r.query_id for r in percolate(part2, d).collect()]
        assert got == want, d
    import pytest as _pt
    with _pt.raises(ValueError, match="already registered"):
        register_queries_append(part2, [{"id": "a005", "query": "hot0"}])
    with _pt.raises(ValueError, match="duplicate query id"):
        register_queries_append(part2, [{"id": "x", "query": "hot0"},
                                        {"id": "x", "query": "hot1"}])


def test_register_append_uncompacted_reads_increments(spark, tmp_path):
    """compact_now=False (the O(batch) path): percolation must see the
    appended queries live — union scan over final + increment segments,
    xxh-based bucket pruning (new-to-vocab terms included); a later
    explicit compact changes nothing."""
    from engine.percolate import (percolate, register_queries,
                                  register_queries_append)
    from engine.streaming import compact
    base = [{"id": f"b{i:02d}", "query": f"w{i:03d} hot0", "mode": "AND"}
            for i in range(10)]
    # 'zzzuniq' is new to the vocabulary — lexicon-based pruning would
    # silently drop it until compact
    extra = [{"id": "new-or", "query": "rare3 zzzuniq"},
             {"id": "new-and", "query": "hot0 w003", "mode": "AND"}]
    qx = register_queries(spark, base, str(tmp_path / "perc"))
    qx2 = register_queries_append(qx, extra)  # no compact
    docs = ["hot0 w003 filler", "zzzuniq alone", "rare3 something",
            "w000 hot0"]
    full = register_queries(spark, base + extra, str(tmp_path / "full"))
    for d in docs:
        want = [r.query_id for r in percolate(full, d).collect()]
        got = [r.query_id for r in percolate(qx2, d).collect()]
        assert got == want, d
    qx3 = compact(spark, str(tmp_path / "perc"))
    for d in docs:
        want = [r.query_id for r in percolate(full, d).collect()]
        got = [r.query_id for r in percolate(qx3, d).collect()]
        assert got == want, ("post-compact", d)


def test_percolate_reads_lone_increment_segment(spark, tmp_path):
    """A streaming-created percolator whose only complete segment is an
    increment (no final segment yet) must be read from that segment's
    own path. The segments dir also holds the leftover of a killed
    append (files, no _SUCCESS), which must stay invisible."""
    import os
    import shutil

    from engine.build import load_index
    from engine.config import IndexConfig
    from engine.percolate import _query_rows_df
    from engine.streaming import append_batch, create_streaming_index
    d = str(tmp_path / "sq")
    cfg = IndexConfig(doc_values=("qid", "required"))
    create_streaming_index(spark, d, 1000, cfg)
    append_batch(spark, _query_rows_df(spark, QUERIES, cfg.analyzer), d,
                 cfg)
    seg = os.path.join(d, "segments")
    assert sorted(os.listdir(seg)) == ["inc_00000"]
    shutil.copytree(os.path.join(seg, "inc_00000"),
                    os.path.join(seg, "inc_00001"))
    os.remove(os.path.join(seg, "inc_00001", "_SUCCESS"))
    qx = load_index(spark, d)
    for doc in ("hot0 w010 something", "hot0 only", "rare4 alone",
                "MiXeD-Case7! and hot0 hot1 w010 w020 rare3"):
        got = [r.query_id for r in percolate(qx, doc).collect()]
        assert got == _ref_matches(doc), doc


def test_small_registration_builds_on_the_driver(spark, tmp_path,
                                                 monkeypatch):
    """The saved-query corpus is an Arrow-backed local relation, so a
    small registration takes build_index's driver route: no Python-UDF
    plan is built. Percolation answers are unchanged."""
    from pyspark.sql import GroupedData
    from pyspark.sql.pandas.map_ops import PandasMapOpsMixin
    queries = QUERIES[:2]

    def refuse(*a, **kw):
        raise AssertionError("a Python UDF plan was built")
    with monkeypatch.context() as m:
        for name in ("mapInArrow", "mapInPandas"):
            m.setattr(PandasMapOpsMixin, name, refuse)
        m.setattr(GroupedData, "applyInPandas", refuse)
        qidx = register_queries(spark, queries, str(tmp_path / "q"))
    assert qidx.n_docs == 2
    for doc in ("hot0 hot1 filler", "rare4 alone", "hot0 rare3 hot1"):
        got = [r.query_id for r in percolate(qidx, doc).collect()]
        assert got == [q for q in _ref_matches(doc)
                       if q in ("q-and", "q-or")], doc
