"""Docvalue store (engine/docvalues.py): per-shard columnar doc
attributes serving query-time dv_filter / recency boost / sort-by-field
INSIDE the scorer task — zero corpus scan, zero extra shuffle (r4;
SURVEY.md §2.E extensions; the Lucene "doc values" pattern).

Frozen contracts under test:
* dv_filter over a stored column is RESULT-IDENTICAL to doc_filter with
  the same predicate (both = candidate restriction under global stats);
* boost: score = (frozen BM25 sum) * 0.5 ** (max(0, now - ts) / hl),
  multiplication after the summation — verified against a pure-Python
  recompute over the unboosted full ranking;
* search_sorted: match set ranked by (field asc/desc, doc_id asc) with
  NULL sort keys excluded;
* appends extend the store (dv_filter stays complete after compact);
* resume refuses a doc_values plan drift.
"""

import datetime

import pytest

from engine import query as Q
from engine.config import IndexConfig

NOW = "2026-02-01T00:00:00"
HL_DAYS = 7.0


def _epoch(ts):
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp()


@pytest.fixture(scope="module")
def dv_index(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("dvidx") / "packed")
    return build_index(spark, corpus_df, d,
                       cfg=IndexConfig(doc_values=("role", "ts")))


@pytest.fixture(scope="module")
def corpus_rows(dv_index):
    return {r.doc_id: r for r in
            dv_index.corpus().select("doc_id", "role", "ts").collect()}


@pytest.mark.parametrize("mode", ["OR", "AND"])
@pytest.mark.parametrize("pred", ["role = 'user'",
                                  "role IN ('user','assistant') AND "
                                  "ts >= TIMESTAMP '2026-01-01 02:00:00'"])
def test_dv_filter_equals_doc_filter(dv_index, mode, pred):
    q = "hot0 mid1" if mode == "OR" else "hot0 hot1"
    a = [(r.doc_id, r.score) for r in
         Q.search(dv_index, q, k=10, mode=mode, dv_filter=pred).collect()]
    b = [(r.doc_id, r.score) for r in
         Q.search(dv_index, q, k=10, mode=mode, doc_filter=pred).collect()]
    assert a == b
    assert a  # non-degenerate


def test_dv_filter_composes_with_doc_filter(dv_index):
    # intersect semantics: dv_filter AND doc_filter == one doc_filter
    # over the conjunction
    a = [(r.doc_id, r.score) for r in
         Q.search(dv_index, "hot0 rare7", k=10, mode="OR",
                  dv_filter="role = 'user'",
                  doc_filter="turn_idx >= 1").collect()]
    b = [(r.doc_id, r.score) for r in
         Q.search(dv_index, "hot0 rare7", k=10, mode="OR",
                  doc_filter="role = 'user' AND turn_idx >= 1").collect()]
    assert a == b


def test_dv_filter_wand_rank_identity(dv_index):
    got = [(r.doc_id, r.score) for r in
           Q.search(dv_index, "hot0 mid1 mid2", k=10, mode="OR",
                    use_wand=True, dv_filter="role = 'user'").collect()]
    want = [(r.doc_id, r.score) for r in
            Q.search(dv_index, "hot0 mid1 mid2", k=10, mode="OR",
                     use_wand=False, dv_filter="role = 'user'").collect()]
    assert got == want


def _boosted_oracle(dv_index, corpus_rows, q, k, mode="OR",
                    role=None):
    """Unboosted FULL ranking x recomputed multiplier, re-sorted."""
    now_s = _epoch(datetime.datetime.fromisoformat(NOW))
    hl_s = HL_DAYS * 86400.0
    full = Q.search(dv_index, q, k=dv_index.n_docs, mode=mode).collect()
    out = []
    for r in full:
        row = corpus_rows[r.doc_id]
        if role is not None and row.role != role:
            continue
        m = 0.5 ** (max(0.0, now_s - _epoch(row.ts)) / hl_s)
        out.append((r.doc_id, r.score * m))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_boost_matches_recompute(dv_index, corpus_rows, mode):
    q = "hot0 mid1"
    boost = {"field": "ts", "half_life_days": HL_DAYS, "now": NOW}
    got = [(r.doc_id, r.score) for r in
           Q.search(dv_index, q, k=10, mode=mode, boost=boost).collect()]
    want = _boosted_oracle(dv_index, corpus_rows, q, 10, mode)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_boost_composes_with_dv_filter(dv_index, corpus_rows):
    q = "hot0 mid1"
    boost = {"field": "ts", "half_life_days": HL_DAYS, "now": NOW}
    got = [(r.doc_id, r.score) for r in
           Q.search(dv_index, q, k=10, mode="OR", boost=boost,
                    dv_filter="role = 'user'").collect()]
    want = _boosted_oracle(dv_index, corpus_rows, q, 10, "OR", role="user")
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_boost_pagination_walk(dv_index, corpus_rows):
    """search_after pages through the BOOSTED total order."""
    q = "hot0 mid1"
    boost = {"field": "ts", "half_life_days": HL_DAYS, "now": NOW}
    want = _boosted_oracle(dv_index, corpus_rows, q, 15, "OR")
    p1 = Q.search(dv_index, q, k=5, boost=boost).collect()
    p2 = Q.search_after(dv_index, q, k=5, boost=boost,
                        after=(p1[-1].score, p1[-1].doc_id)).collect()
    p3 = Q.search_after(dv_index, q, k=5, boost=boost,
                        after=(p2[-1].score, p2[-1].doc_id)).collect()
    got = [(r.doc_id, r.score) for r in (*p1, *p2, *p3)]
    assert [d for d, _ in got] == [d for d, _ in want]


def _sorted_oracle(dv_index, corpus_pdf, oracle_idx, q, k, mode="OR",
                   ascending=False, exclude=None, role=None):
    from engine.analyzer import tokenize_py
    acfg = dv_index.cfg.analyzer
    terms = set(tokenize_py(q, acfg))
    neg = set(tokenize_py(exclude, acfg)) - terms if exclude else set()
    out = []
    for doc_id, (text, r, ts) in enumerate(
            zip(corpus_pdf.text, corpus_pdf.role, corpus_pdf.ts)):
        toks = set(tokenize_py(text, acfg))
        hitset = toks & terms
        hit = (hitset == terms) if mode == "AND" else bool(hitset)
        if hit and not (toks & neg) and (role is None or r == role):
            out.append((doc_id, _epoch(ts.to_pydatetime())))
    out.sort(key=lambda t: (t[1] if ascending else -t[1], t[0]))
    return out[:k]


@pytest.mark.parametrize("mode,ascending", [("OR", False), ("OR", True),
                                            ("AND", False)])
def test_search_sorted(dv_index, corpus_pdf, oracle_idx, mode, ascending):
    q = "hot0 mid1"
    got = [(r.doc_id, r.sort_val) for r in
           Q.search_sorted(dv_index, q, "ts", k=12, mode=mode,
                           ascending=ascending).collect()]
    want = _sorted_oracle(dv_index, corpus_pdf, oracle_idx, q, 12, mode,
                          ascending)
    assert got == want


def test_search_sorted_filter_and_exclude(dv_index, corpus_pdf,
                                          oracle_idx):
    got = [(r.doc_id, r.sort_val) for r in
           Q.search_sorted(dv_index, "hot0", "ts", k=12, mode="AND",
                           exclude="mid1",
                           dv_filter="role = 'user'").collect()]
    want = _sorted_oracle(dv_index, corpus_pdf, oracle_idx, "hot0", 12,
                          "AND", exclude="mid1", role="user")
    assert got == want


def test_search_sorted_unknown_term(dv_index):
    assert Q.search_sorted(dv_index, "zzzznotaterm", "ts", k=5,
                           mode="AND").collect() == []


def test_validation_errors(spark, corpus_df, dv_index, tmp_path):
    from engine.build import build_index
    with pytest.raises(ValueError, match="not a docvalue column"):
        Q.search(dv_index, "hot0", boost={"field": "nope",
                                          "half_life_days": 1, "now": NOW})
    with pytest.raises(ValueError, match="half_life_days"):
        Q.search(dv_index, "hot0", boost={"field": "ts",
                                          "half_life_days": 0, "now": NOW})
    with pytest.raises(ValueError, match="not a docvalue column"):
        Q.search_sorted(dv_index, "hot0", "lang")
    plain = build_index(spark, corpus_df, str(tmp_path / "plain"))
    with pytest.raises(ValueError, match="docvalue store"):
        Q.search(plain, "hot0", dv_filter="role = 'user'")


def test_resume_refuses_dv_drift(spark, corpus_df, tmp_path):
    from engine.build import build_index
    from engine.manifest import Manifest
    d = str(tmp_path / "idx")
    build_index(spark, corpus_df, d, cfg=IndexConfig(doc_values=("role",)))
    # simulate an interrupted build: completed base, pending segments
    man = Manifest.load(d)
    man.completed = False
    man.save(d)
    with pytest.raises(ValueError, match="doc_values"):
        build_index(spark, corpus_df, d,
                    cfg=IndexConfig(doc_values=("role", "ts")))


@pytest.fixture(scope="module")
def dv_pos_index(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("dvpidx") / "packed")
    return build_index(spark, corpus_df, d,
                       cfg=IndexConfig(doc_values=("role", "ts"),
                                       index_positions=True))


def test_batch_dv_filter_matches_single(dv_pos_index):
    """search_batch(dv_filter=...) == per-query search/search_phrase with
    the same dv_filter — ONE in-task mask shared across the set."""
    idx = dv_pos_index
    qset = [{"id": "a", "query": "hot0 mid1", "mode": "OR"},
            {"id": "b", "query": "hot0 hot1", "mode": "AND"},
            {"id": "c", "query": "hot0", "mode": "OR", "exclude": "mid1"},
            {"id": "p", "query": "hot0 hot1", "mode": "PHRASE"}]
    pred = "role = 'user'"
    got = {}
    for r in Q.search_batch(idx, qset, k=10, dv_filter=pred).collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.score))
    for q in qset[:3]:
        want = [(r.doc_id, r.score) for r in
                Q.search(idx, q["query"], k=10, mode=q["mode"],
                         exclude=q.get("exclude"),
                         dv_filter=pred).collect()]
        assert got.get(q["id"], []) == want, q["id"]
    want_p = [(r.doc_id, float(r.n_phrase)) for r in
              Q.search_phrase(idx, "hot0 hot1", k=10,
                              doc_filter=pred).collect()]
    assert got.get("p", []) == want_p


def test_batch_dv_and_doc_filter_intersect(dv_pos_index):
    idx = dv_pos_index
    qset = [{"id": "a", "query": "hot0 mid1", "mode": "OR"}]
    a = [tuple(r) for r in
         Q.search_batch(idx, qset, k=10, dv_filter="role = 'user'",
                        doc_filter="turn_idx >= 1").collect()]
    b = [tuple(r) for r in
         Q.search_batch(idx, qset, k=10,
                        doc_filter="role = 'user' AND "
                                   "turn_idx >= 1").collect()]
    assert a == b and a


def test_cli_docvalue_flags(cli, tmp_path):
    """CLI: build --doc-values, then --dv-filter / --boost-* / --sort-by
    round-trips (engine/__main__.py)."""
    import json

    def run(*argv):
        return cli(argv)

    d = str(tmp_path / "cli_dv_idx")
    r = run("build", "--input", "synthetic", "--convs", "120",
            "--index-dir", d, "--doc-values", "role,ts")
    assert r.returncode == 0, r.stderr[-2000:]
    r = run("search", "--index-dir", d, "--query", "hot0 mid1",
            "--k", "5", "--dv-filter", "role = 'user'")
    assert r.returncode == 0, r.stderr[-2000:]
    rows = [json.loads(x) for x in r.stdout.splitlines()
            if x.startswith("{")]
    assert rows and all("score" in x for x in rows)
    r = run("search", "--index-dir", d, "--query", "hot0 mid1", "--k", "5",
            "--boost-field", "ts", "--boost-half-life-days", "7",
            "--boost-now", "2026-02-01T00:00:00", "--text")
    assert r.returncode == 0, r.stderr[-2000:]
    assert any(x.startswith("{") for x in r.stdout.splitlines())
    r = run("search", "--index-dir", d, "--query", "hot0", "--k", "5",
            "--sort-by", "ts", "--mode", "AND")
    assert r.returncode == 0, r.stderr[-2000:]
    rows = [json.loads(x) for x in r.stdout.splitlines()
            if x.startswith("{")]
    assert rows and all("sort_val" in x for x in rows)
    # field-sorted cursor pagination: page 2 via --after
    last = rows[-1]
    r = run("search", "--index-dir", d, "--query", "hot0", "--k", "5",
            "--sort-by", "ts", "--mode", "AND",
            "--after", f"{last['sort_val']},{last['doc_id']}")
    assert r.returncode == 0, r.stderr[-2000:]
    rows2 = [json.loads(x) for x in r.stdout.splitlines()
             if x.startswith("{")]
    assert rows2 and not ({(x["sort_val"], x["doc_id"]) for x in rows}
                          & {(x["sort_val"], x["doc_id"]) for x in rows2})
    # decay-family flags (gauss over the stored ts)
    r = run("search", "--index-dir", d, "--query", "hot0 mid1", "--k", "5",
            "--boost-field", "ts", "--decay", "gauss",
            "--boost-origin", "2026-01-01T12:00:00",
            "--boost-scale-days", "0.25", "--boost-offset-days", "0.05")
    assert r.returncode == 0, r.stderr[-2000:]
    assert any(x.startswith("{") for x in r.stdout.splitlines())
    # guards: boost without now; decay without origin/field; sort-by
    # under PHRASE
    assert run("search", "--index-dir", d, "--query", "hot0",
               "--boost-field", "ts").returncode == 2
    assert run("search", "--index-dir", d, "--query", "hot0",
               "--boost-field", "ts", "--decay", "exp").returncode == 2
    assert run("search", "--index-dir", d, "--query", "hot0",
               "--decay", "exp", "--boost-origin", "0").returncode == 2
    assert run("search", "--index-dir", d, "--query", "hot0 mid1",
               "--mode", "PHRASE", "--sort-by", "ts").returncode == 2


def test_streaming_appends_extend_store(spark, corpus_df, tmp_path):
    """dv_filter/search_sorted results over an incremental index equal
    the batch-built index's after compaction (the store is extended by
    every append, engine/streaming.py)."""
    from engine.build import build_index, load_index
    from engine.streaming import (append_batch, compact,
                                  create_streaming_index)
    cfg = IndexConfig(doc_values=("role", "ts"))
    bd = str(tmp_path / "batch")
    batch_idx = build_index(spark, corpus_df, bd, cfg=cfg)
    sd = str(tmp_path / "stream")
    n = corpus_df.count()
    create_streaming_index(spark, sd, expected_docs=n, cfg=cfg)
    half = corpus_df.orderBy("conv_id", "turn_idx").limit(n // 2)
    rest = (corpus_df.orderBy("conv_id", "turn_idx")
            .subtract(half))
    # arrival order == (conv_id, turn_idx) order: append sorted halves
    append_batch(spark, half.orderBy("conv_id", "turn_idx"), sd, cfg=cfg)
    append_batch(spark, rest.orderBy("conv_id", "turn_idx"), sd, cfg=cfg)
    compact(spark, sd)
    inc = load_index(spark, sd)
    assert inc.doc_values == ("role", "ts")
    for fn in (lambda ix: Q.search(ix, "hot0 mid1", k=10,
                                   dv_filter="role = 'user'"),
               lambda ix: Q.search_sorted(ix, "hot0", "ts", k=10)):
        a = [tuple(r) for r in fn(batch_idx).collect()]
        b = [tuple(r) for r in fn(inc).collect()]
        assert a == b and a


# --------------------------------------------------------------------
# ES decay-function family (function_score gauss/exp/linear — r4;
# docvalues.decay_multiplier documents the frozen formulas). Verified
# against a pure-Python recompute over the unboosted FULL ranking,
# exactly like the legacy recency boost above.
# --------------------------------------------------------------------

ORIGIN = "2026-01-01T12:00:00"   # mid-corpus: exercises the two-sided |x-o|


def _decay_mult(kind, ts_s, origin_s, scale_s, d, off_s):
    import math
    dist = max(0.0, abs(ts_s - origin_s) - off_s)
    if kind == "gauss":
        sigma2 = -(scale_s * scale_s) / (2.0 * math.log(d))
        return math.exp(-(dist * dist) / (2.0 * sigma2))
    if kind == "exp":
        return math.exp(math.log(d) / scale_s * dist)
    s = scale_s / (1.0 - d)
    return max(0.0, (s - dist) / s)


def _decay_oracle(dv_index, corpus_rows, q, k, kind, scale_days,
                  d=0.5, offset_days=0.0, mode="OR", role=None):
    origin_s = _epoch(datetime.datetime.fromisoformat(ORIGIN))
    full = Q.search(dv_index, q, k=dv_index.n_docs, mode=mode).collect()
    out = []
    for r in full:
        row = corpus_rows[r.doc_id]
        if role is not None and row.role != role:
            continue
        m = _decay_mult(kind, _epoch(row.ts), origin_s,
                        scale_days * 86400.0, d, offset_days * 86400.0)
        out.append((r.doc_id, r.score * m))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


@pytest.mark.parametrize("kind", ["gauss", "exp", "linear"])
@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_decay_matches_recompute(dv_index, corpus_rows, kind, mode):
    q = "hot0 mid1"
    boost = {"field": "ts", "decay": kind, "origin": ORIGIN,
             "scale_days": 0.25}
    got = [(r.doc_id, r.score) for r in
           Q.search(dv_index, q, k=10, mode=mode, boost=boost).collect()]
    want = _decay_oracle(dv_index, corpus_rows, q, 10, kind, 0.25,
                         mode=mode)
    assert [x for x, _ in got] == [x for x, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_decay_offset_and_decay_value(dv_index, corpus_rows):
    # non-default decay_value + an offset radius inside which the
    # multiplier is EXACTLY 1.0 (no float fuzz — dist clamps to 0)
    boost = {"field": "ts", "decay": "gauss", "origin": ORIGIN,
             "scale_days": 0.25, "decay_value": 0.9,
             "offset_days": 0.05}
    got = [(r.doc_id, r.score) for r in
           Q.search(dv_index, "hot0 mid1", k=10, boost=boost).collect()]
    want = _decay_oracle(dv_index, corpus_rows, "hot0 mid1", 10, "gauss",
                         0.25, d=0.9, offset_days=0.05)
    assert [x for x, _ in got] == [x for x, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    origin_s = _epoch(datetime.datetime.fromisoformat(ORIGIN))
    unboosted = {r.doc_id: r.score for r in
                 Q.search(dv_index, "hot0 mid1",
                          k=dv_index.n_docs).collect()}
    inside = [d_ for d_, _ in got
              if abs(_epoch(corpus_rows[d_].ts) - origin_s)
              <= 0.05 * 86400.0]
    assert inside  # fixture guarantees docs inside the radius
    for d_ in inside:
        gs = dict(got)[d_]
        assert gs == unboosted[d_]  # multiplier exactly 1.0


def test_decay_composes_with_dv_filter(dv_index, corpus_rows):
    boost = {"field": "ts", "decay": "linear", "origin": ORIGIN,
             "scale_days": 0.5}
    got = [(r.doc_id, r.score) for r in
           Q.search(dv_index, "hot0 mid1", k=10, boost=boost,
                    dv_filter="role = 'user'").collect()]
    want = _decay_oracle(dv_index, corpus_rows, "hot0 mid1", 10,
                         "linear", 0.5, role="user")
    assert [x for x, _ in got] == [x for x, _ in want]


def test_decay_validation_errors(dv_index):
    with pytest.raises(ValueError, match="gauss/exp/linear"):
        Q.search(dv_index, "hot0", boost={"field": "ts", "decay": "log",
                                          "origin": ORIGIN,
                                          "scale_days": 1})
    with pytest.raises(ValueError, match="scale_days"):
        Q.search(dv_index, "hot0", boost={"field": "ts", "decay": "exp",
                                          "origin": ORIGIN,
                                          "scale_days": 0})
    with pytest.raises(ValueError, match="decay_value"):
        Q.search(dv_index, "hot0", boost={"field": "ts",
                                          "decay": "gauss",
                                          "origin": ORIGIN,
                                          "scale_days": 1,
                                          "decay_value": 1.0})
    with pytest.raises(ValueError, match="offset_days"):
        Q.search(dv_index, "hot0", boost={"field": "ts",
                                          "decay": "gauss",
                                          "origin": ORIGIN,
                                          "scale_days": 1,
                                          "offset_days": -1})
    with pytest.raises(ValueError, match="unknown decay-boost keys"):
        Q.search(dv_index, "hot0", boost={"field": "ts",
                                          "decay": "gauss",
                                          "origin": ORIGIN,
                                          "scale_days": 1,
                                          "half_life_days": 3})


def test_search_sorted_pagination_walk(dv_index, corpus_rows):
    """Field-sorted cursor pagination: pages of 5 stitched together ==
    the one-shot top-15, for both sort directions."""
    for asc in (False, True):
        want = [(r.doc_id, r.sort_val) for r in
                Q.search_sorted(dv_index, "hot0", "ts", k=15,
                                mode="AND", ascending=asc).collect()]
        got = []
        after = None
        for _ in range(3):
            page = Q.search_sorted(dv_index, "hot0", "ts", k=5,
                                   mode="AND", ascending=asc,
                                   after=after).collect()
            got.extend((r.doc_id, r.sort_val) for r in page)
            if len(page) < 5:
                break
            after = (page[-1].sort_val, page[-1].doc_id)
        assert got == want and len(got) == 15


def test_search_sorted_after_filters_compose(dv_index):
    full = Q.search_sorted(dv_index, "hot0 mid1", "ts", k=12, mode="OR",
                           dv_filter="role = 'user'").collect()
    assert len(full) == 12
    last5 = (full[4].sort_val, full[4].doc_id)
    page2 = Q.search_sorted(dv_index, "hot0 mid1", "ts", k=7, mode="OR",
                            dv_filter="role = 'user'",
                            after=last5).collect()
    assert [tuple(r) for r in page2] == [tuple(r) for r in full[5:]]


def test_decay_boost_mode_sum_and_weight(dv_index, corpus_rows):
    """ES function_score boost_mode=sum + function weight: score + w*m,
    combined after the frozen summation — pure-Python recompute."""
    origin_s = _epoch(datetime.datetime.fromisoformat(ORIGIN))
    w = 0.35
    full = Q.search(dv_index, "hot0 mid1", k=dv_index.n_docs).collect()
    want = []
    for r in full:
        m = _decay_mult("gauss", _epoch(corpus_rows[r.doc_id].ts),
                        origin_s, 0.25 * 86400.0, 0.5, 0.0)
        want.append((r.doc_id, r.score + w * m))
    want.sort(key=lambda t: (-t[1], t[0]))
    boost = {"field": "ts", "decay": "gauss", "origin": ORIGIN,
             "scale_days": 0.25, "boost_mode": "sum", "weight": w}
    got = [(r.doc_id, r.score) for r in
           Q.search(dv_index, "hot0 mid1", k=10, boost=boost).collect()]
    assert [x for x, _ in got] == [x for x, _ in want[:10]]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    # weight in multiply mode: score * (w * m)
    boost_m = {"field": "ts", "decay": "linear", "origin": ORIGIN,
               "scale_days": 0.5, "weight": 2.0}
    got_m = [(r.doc_id, r.score) for r in
             Q.search(dv_index, "hot0 mid1", k=10,
                      boost=boost_m).collect()]
    want_m = []
    for r in full:
        m = _decay_mult("linear", _epoch(corpus_rows[r.doc_id].ts),
                        origin_s, 0.5 * 86400.0, 0.5, 0.0)
        want_m.append((r.doc_id, r.score * (2.0 * m)))
    want_m.sort(key=lambda t: (-t[1], t[0]))
    assert [x for x, _ in got_m] == [x for x, _ in want_m[:10]]
    # validation
    with pytest.raises(ValueError, match="boost_mode"):
        Q.search(dv_index, "hot0", boost={"field": "ts", "decay": "exp",
                                          "origin": ORIGIN,
                                          "scale_days": 1,
                                          "boost_mode": "avg"})
    with pytest.raises(ValueError, match="weight"):
        Q.search(dv_index, "hot0", boost={"field": "ts", "decay": "exp",
                                          "origin": ORIGIN,
                                          "scale_days": 1, "weight": 0})


def test_batch_per_entry_boost_matches_single(dv_pos_index):
    """Per-entry decay/recency boost in search_batch == the single-query
    path with the same spec; two entries sharing a spec share one
    per-shard vector (the multi-tenant pattern)."""
    idx = dv_pos_index
    gauss = {"field": "ts", "decay": "gauss",
             "origin": "2026-01-01T12:00:00", "scale_days": 0.25}
    rec = {"field": "ts", "half_life_days": 7.0, "now": NOW}
    sum_b = {"field": "ts", "decay": "linear",
             "origin": "2026-01-01T12:00:00", "scale_days": 0.5,
             "boost_mode": "sum", "weight": 0.3}
    qset = [{"id": "g", "query": "hot0 mid1", "mode": "OR",
             "boost": gauss},
            {"id": "g2", "query": "hot0 hot1", "mode": "AND",
             "boost": gauss},
            {"id": "r", "query": "hot0", "mode": "OR", "boost": rec,
             "exclude": "mid1"},
            {"id": "s", "query": "hot0 mid1", "mode": "OR",
             "boost": sum_b},
            {"id": "plain", "query": "hot0 mid1", "mode": "OR"}]
    got = {}
    for r in Q.search_batch(idx, qset, k=10).collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.score))
    for q in qset:
        want = [(r.doc_id, r.score) for r in
                Q.search(idx, q["query"], k=10, mode=q["mode"],
                         exclude=q.get("exclude"),
                         boost=q.get("boost")).collect()]
        assert got.get(q["id"], []) == want, q["id"]
    with pytest.raises(ValueError, match="PHRASE entries"):
        Q.search_batch(idx, [{"id": "p", "query": "hot0 hot1",
                              "mode": "PHRASE", "boost": gauss}])
    # DIS_MAX entries carry boost too (ADVICE r4: the dis_max branch
    # used to drop it silently). A single-subquery dis_max is bit-equal
    # to the plain OR score of that subquery, so both combine branches
    # (multiply / sum) anchor exactly to the boosted single-query path.
    dm_set = [{"id": "d1", "mode": "DIS_MAX", "queries": ["hot0 mid1"],
               "tie_breaker": 0.0, "boost": gauss},
              {"id": "d2", "mode": "DIS_MAX", "queries": ["hot0 mid1"],
               "tie_breaker": 0.7, "boost": sum_b}]
    got_dm = {}
    for r in Q.search_batch(idx, dm_set, k=10).collect():
        got_dm.setdefault(r.qid, []).append((r.doc_id, r.score))
    for qid, b in (("d1", gauss), ("d2", sum_b)):
        want = [(r.doc_id, r.score) for r in
                Q.search(idx, "hot0 mid1", k=10, boost=b).collect()]
        assert got_dm.get(qid, []) == want, qid


def test_batch_entry_dv_filter_composes_with_doc_filter(dv_pos_index):
    """Regression (late r4): per-entry dv_filter must survive on the
    batch-global doc_filter cogroup path (it was silently dropped)."""
    idx = dv_pos_index
    qset = [{"id": "a", "query": "hot0 mid1", "mode": "OR",
             "dv_filter": "role = 'user'"},
            {"id": "b", "query": "hot0 mid1", "mode": "OR"}]
    got = {}
    for r in Q.search_batch(idx, qset, k=10,
                            doc_filter="turn_idx >= 1").collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.score))
    want_a = [(r.doc_id, r.score) for r in
              Q.search(idx, "hot0 mid1", k=10,
                       doc_filter="turn_idx >= 1",
                       dv_filter="role = 'user'").collect()]
    want_b = [(r.doc_id, r.score) for r in
              Q.search(idx, "hot0 mid1", k=10,
                       doc_filter="turn_idx >= 1").collect()]
    assert got.get("a", []) == want_a
    assert got.get("b", []) == want_b
    assert want_a != want_b  # the entry filter actually bites
