"""Multi-field search (IndexConfig.extra_fields + search_multi_match):
identity vs the single-field kernel, pandas recomputation from the raw
fixture corpus, filter composition, lifecycle (streaming append/compact,
purge) stats maintenance, and text-space purity of expansions."""

import math

import numpy as np
import pytest

from engine import query as Q
from engine.analyzer import tokenize_py
from engine.build import build_index, load_index
from engine.config import IndexConfig


@pytest.fixture(scope="module")
def mf_index(spark, corpus_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mf") / "idx")
    return build_index(spark, corpus_df, d,
                       IndexConfig(extra_fields=("role",),
                                   doc_values=("role", "ts")))


def _ref_multi(corpus_pdf, qtoks, fields, tie, mt):
    """Frozen-rule recomputation: per-field BM25 (field df/idf, field
    dl/avgdl with the corpus-global denominator), combine per engine."""
    from collections import Counter
    qtf = Counter(qtoks)
    n = len(corpus_pdf)
    cols = {"text": [tokenize_py(t) for t in corpus_pdf.text],
            "role": [tokenize_py(r) for r in corpus_pdf.role]}
    scores = {}
    per_field = {}
    for f in fields:
        toks = cols[f]
        avgdl = sum(len(d) for d in toks) / n
        s = np.zeros(n)
        for t in sorted(set(qtf)):
            df = sum(1 for d in toks if t in d)
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for i, d in enumerate(toks):
                tf = d.count(t)
                if tf:
                    s[i] += (qtf[t] * idf) * (tf * 2.2) / (
                        tf + 1.2 * (1.0 - 0.75 + 0.75 * len(d) / avgdl))
        per_field[f] = s
    flist = list(fields)
    for i in range(n):
        vals = [fields[f] * per_field[f][i] for f in flist]
        tot = vals[0]
        for v in vals[1:]:
            tot = tot + v
        if tot == 0.0 and all(per_field[f][i] == 0 for f in flist):
            continue
        best = max(vals)
        scores[i] = tot if mt == "most_fields" else best + tie * (tot - best)
    out = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return [(i, round(s, 9)) for i, s in out]


def test_multi_match_single_field_is_plain_or(mf_index):
    """fields={'text': 1.0} must be bit-identical to search(mode=OR):
    one field, boost 1.0 -> total == the plain frozen BM25 sum."""
    for q in ("hot0 hot1", "w010 w020 rare3", "hot0 hot0 mid1"):
        want = [(r.doc_id, r.score) for r in
                Q.search(mf_index, q, k=10, mode="OR").collect()]
        got = [(r.doc_id, r.score) for r in
               Q.search_multi_match(mf_index, q, fields={"text": 1.0},
                                    k=10, tie_breaker=0.4).collect()]
        assert got == want, q


def test_multi_match_reference(mf_index, corpus_pdf):
    """best_fields and most_fields vs the raw-fixture recomputation."""
    q = "hot0 user mid1"
    qtoks = tokenize_py(q)
    for mt, tie in (("best_fields", 0.3), ("best_fields", 0.0),
                    ("most_fields", 0.0)):
        want = _ref_multi(corpus_pdf, qtoks,
                          {"text": 1.0, "role": 2.0}, tie, mt)[:10]
        got = [(r.doc_id, round(r.score, 9)) for r in
               Q.search_multi_match(mf_index, q,
                                    fields={"text": 1.0, "role": 2.0},
                                    k=10, match_type=mt,
                                    tie_breaker=tie).collect()]
        assert got == want, (mt, tie)


def test_multi_match_filters_compose(mf_index, corpus_pdf):
    """exclude (text space) + dv_filter; doc_filter == dv_filter for a
    stored column (both are candidate restriction with global stats)."""
    q = "hot0 user"
    base = Q.search_multi_match(mf_index, q,
                                fields={"text": 1.0, "role": 2.0},
                                k=1000, tie_breaker=0.3).collect()
    # exclude drops docs whose TEXT contains the term
    ex_ids = {i for i, t in enumerate(corpus_pdf.text)
              if "mid1" in tokenize_py(t)}
    want = [(r.doc_id, r.score) for r in base
            if r.doc_id not in ex_ids][:10]
    got = [(r.doc_id, r.score) for r in
           Q.search_multi_match(mf_index, q,
                                fields={"text": 1.0, "role": 2.0},
                                k=10, tie_breaker=0.3,
                                exclude="mid1").collect()]
    assert got == want
    a = [(r.doc_id, r.score) for r in
         Q.search_multi_match(mf_index, q, fields={"text": 1.0},
                              k=10, dv_filter="role = 'user'").collect()]
    b = [(r.doc_id, r.score) for r in
         Q.search_multi_match(mf_index, q, fields={"text": 1.0},
                              k=10, doc_filter="role = 'user'").collect()]
    assert a == b and a
    user_ids = {i for i, r in enumerate(corpus_pdf.role) if r == "user"}
    assert all(i in user_ids for i, _ in a)


def test_multi_match_validation(mf_index):
    with pytest.raises(ValueError, match="not indexed"):
        Q.search_multi_match(mf_index, "hot0", fields={"tool": 1.0})
    with pytest.raises(ValueError, match="best_fields|most_fields"):
        Q.search_multi_match(mf_index, "hot0", match_type="phrase_fields")
    with pytest.raises(ValueError, match="tie_breaker"):
        Q.search_multi_match(mf_index, "hot0", tie_breaker=1.5)
    with pytest.raises(ValueError, match="only applies"):
        Q.search_multi_match(mf_index, "hot0", match_type="most_fields",
                             tie_breaker=0.5)
    with pytest.raises(ValueError, match="boosts must be > 0"):
        Q.search_multi_match(mf_index, "hot0", fields={"text": 0.0})


def test_text_space_purity(mf_index):
    """Field-prefixed terms must never leak into text-space expansions:
    'rol*' would range-scan onto 'role:...' without the ':' guard."""
    rows = mf_index.expand_prefix("rol", max_expansions=64)
    assert all(":" not in r["term"] for r in rows)
    rows = mf_index.expand_regexp("r.*", max_expansions=64)
    assert all(":" not in r["term"] for r in rows)


def test_multi_match_streaming_and_purge(spark, corpus_df, corpus_pdf,
                                         tmp_path):
    """Lifecycle: append/compact maintains field_avgdl exactly (equal to
    the batch build's), queries agree; purge restores the per-field
    stats identity over survivors."""
    from engine.deletes import delete_docs, purge_deletes
    from engine.streaming import (append_batch, compact,
                                  create_streaming_index)
    n = corpus_df.count()
    batch_dir = str(tmp_path / "batch")
    bidx = build_index(spark, corpus_df, batch_dir,
                       IndexConfig(extra_fields=("role",)))
    sdir = str(tmp_path / "stream")
    cfg = IndexConfig(extra_fields=("role",))
    create_streaming_index(spark, sdir, expected_docs=n, cfg=cfg)
    from pyspark.sql import functions as F
    half = corpus_pdf.conv_id.iloc[len(corpus_pdf) // 2]
    append_batch(spark, corpus_df.filter(F.col("conv_id") < half), sdir)
    append_batch(spark, corpus_df.filter(F.col("conv_id") >= half), sdir)
    sidx = compact(spark, sdir)
    assert sidx.extra_fields == ("role",)
    assert sidx.field_avgdl == pytest.approx(bidx.field_avgdl)
    assert sidx.avgdl == pytest.approx(bidx.avgdl)
    q = "hot0 user"
    want = [(r.doc_id, round(r.score, 9)) for r in
            Q.search_multi_match(bidx, q, fields={"text": 1.0,
                                                  "role": 2.0},
                                 k=10, tie_breaker=0.3).collect()]
    got = [(r.doc_id, round(r.score, 9)) for r in
           Q.search_multi_match(sidx, q, fields={"text": 1.0,
                                                 "role": 2.0},
                                k=10, tie_breaker=0.3).collect()]
    assert got == want
    # purge: tombstone every tool turn, purge, stats identity restored
    delete_docs(bidx, "role = 'tool'")
    pidx = purge_deletes(bidx)
    survivors = corpus_pdf[corpus_pdf.role != "tool"]
    n_live = len(survivors)
    cf_role = sum(len(tokenize_py(r)) for r in survivors.role)
    assert pidx.field_avgdl["role"] == pytest.approx(cf_role / n_live)


def test_multi_match_batch_matches_single(mf_index):
    """A batch MULTI_MATCH entry must match search_multi_match
    bit-exactly for every routing, mixed with WAND-routable entries;
    exclude / dv_filter / per-entry boost compose."""
    qset = [
        {"id": "m1", "mode": "MULTI_MATCH", "query": "hot0 user",
         "fields": {"text": 1.0, "role": 2.0}, "tie_breaker": 0.3},
        {"id": "m2", "mode": "MULTI_MATCH", "query": "hot0 user mid1",
         "fields": {"text": 1.0, "role": 1.5},
         "match_type": "most_fields", "exclude": "w010"},
        {"id": "m3", "mode": "MULTI_MATCH", "query": "hot0 user",
         "fields": {"text": 1.0, "role": 2.0},
         "dv_filter": "role = 'user'"},
        # "text" not among the fields: exclude tokens are still text
        # tokens and the query's tokens win, so "hot0" excludes nothing
        {"id": "m4", "mode": "MULTI_MATCH", "query": "user hot0",
         "fields": {"role": 1.0}, "exclude": "hot0"},
        {"id": "plain", "query": "hot0 hot1", "mode": "OR"},
    ]
    assert Q.search_multi_match(mf_index, "user hot0",
                                fields={"role": 1.0},
                                exclude="hot0").collect()
    for use_wand in (True, False, "auto"):
        out = Q.search_batch(mf_index, qset, k=10,
                             use_wand=use_wand).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.qid, []).append((r.doc_id, r.score))
        for q in qset:
            if q["mode"] == "MULTI_MATCH":
                want = [(r.doc_id, r.score) for r in
                        Q.search_multi_match(
                            mf_index, q["query"], fields=q["fields"],
                            k=10,
                            match_type=q.get("match_type",
                                             "best_fields"),
                            tie_breaker=q.get("tie_breaker", 0.0),
                            exclude=q.get("exclude"),
                            dv_filter=q.get("dv_filter")).collect()]
            else:
                want = [(r.doc_id, r.score) for r in
                        Q.search(mf_index, q["query"], k=10,
                                 mode=q["mode"]).collect()]
            assert by_q.get(q["id"], []) == want, (q["id"], use_wand)
    with pytest.raises(ValueError, match="not indexed"):
        Q.search_batch(mf_index, [{"id": "x", "mode": "MULTI_MATCH",
                                   "query": "hot0",
                                   "fields": {"tool": 1.0}}], k=5)
    with pytest.raises(ValueError, match="composes with"):
        Q.search_batch(mf_index, [{"id": "x", "mode": "MULTI_MATCH",
                                   "query": "hot0", "demote": "w010"}],
                       k=5)


def test_multi_match_cross_fields(mf_index, corpus_pdf):
    """cross_fields vs a raw-fixture recomputation of the frozen rule:
    per token, v = max_f(boost_f * contrib) + tie * (sum - max), score
    = sum over tokens."""
    q = "hot0 user mid1"
    qtoks = tokenize_py(q)
    from collections import Counter
    qtf = Counter(qtoks)
    n = len(corpus_pdf)
    cols = {"text": [tokenize_py(t) for t in corpus_pdf.text],
            "role": [tokenize_py(r) for r in corpus_pdf.role]}
    fields = {"text": 1.0, "role": 2.0}
    avg = {f: sum(len(d) for d in cols[f]) / n for f in fields}
    for tie in (0.2, 0.0):
        total = np.zeros(n)
        matched = np.zeros(n, dtype=bool)
        for t in sorted(set(qtf)):
            per_f = []
            for f, bf in fields.items():
                toks = cols[f]
                df = sum(1 for d in toks if t in d)
                if df == 0:
                    continue
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                c = np.zeros(n)
                hit = np.zeros(n, dtype=bool)
                for i, d in enumerate(toks):
                    tf = d.count(t)
                    if tf:
                        c[i] = bf * ((qtf[t] * idf) * (tf * 2.2) / (
                            tf + 1.2 * (1.0 - 0.75
                                        + 0.75 * len(d) / avg[f])))
                        hit[i] = True
                per_f.append((c, hit))
            if not per_f:
                continue
            anyhit = np.zeros(n, dtype=bool)
            mx = np.zeros(n)
            sm = np.zeros(n)
            for c, hit in per_f:
                mx = np.maximum(mx, c)
                sm += c
                anyhit |= hit
            total[anyhit] += (mx + tie * (sm - mx))[anyhit]
            matched |= anyhit
        want = sorted(((i, round(total[i], 9)) for i in range(n)
                       if matched[i]), key=lambda x: (-x[1], x[0]))[:10]
        got = [(r.doc_id, round(r.score, 9)) for r in
               Q.search_multi_match(mf_index, q, fields=fields, k=10,
                                    match_type="cross_fields",
                                    tie_breaker=tie).collect()]
        assert got == want, tie
    # single field: cross_fields == best_fields == plain OR
    a = [(r.doc_id, r.score) for r in
         Q.search_multi_match(mf_index, q, fields={"text": 1.0}, k=10,
                              match_type="cross_fields").collect()]
    b = [(r.doc_id, r.score) for r in
         Q.search(mf_index, q, k=10, mode="OR").collect()]
    assert a == b


def test_search_fielded_and_qs_field_scope(mf_index, corpus_pdf):
    """search_fielded: per-clause field scoping (most_fields combine,
    clause-weight * qtf); the query-string 'field:term' syntax routes
    there and equals the direct call; single-text-clause == plain OR;
    repeated clauses merge by summing weights."""
    from engine.querystring import search_query_string
    # reference: text clause 'hot0' w1 + role clause 'user' w2
    got = [(r.doc_id, round(r.score, 9)) for r in
           Q.search_fielded(mf_index, [("text", "hot0", 1.0),
                                       ("role", "user", 2.0)],
                            k=10).collect()]
    want = _ref_multi(corpus_pdf, ["hot0", "user"],
                      {"text": 1.0, "role": 2.0}, 0.0, "most_fields")
    # _ref_multi scores BOTH tokens in BOTH fields; fielded scopes each
    # token to one field — recompute directly instead
    from collections import Counter
    n = len(corpus_pdf)
    text_toks = [tokenize_py(t) for t in corpus_pdf.text]
    role_toks = [tokenize_py(r) for r in corpus_pdf.role]

    def fscore(toks, t, w):
        avg = sum(len(d) for d in toks) / n
        df = sum(1 for d in toks if t in d)
        s = np.zeros(n)
        if df == 0:
            return s
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for i, d in enumerate(toks):
            tf = d.count(t)
            if tf:
                s[i] = (w * idf) * (tf * 2.2) / (
                    tf + 1.2 * (1.0 - 0.75 + 0.75 * len(d) / avg))
        return s

    s_text = fscore(text_toks, "hot0", 1.0)
    s_role = fscore(role_toks, "user", 2.0)
    tot = s_text + s_role
    hit = (s_text > 0) | (s_role > 0)
    want = sorted(((i, round(tot[i], 9)) for i in range(n) if hit[i]),
                  key=lambda x: (-x[1], x[0]))[:10]
    assert got == want
    # query-string field scope == direct search_fielded
    qs_got = [(r.doc_id, round(r.score, 9)) for r in
              search_query_string(mf_index,
                                  "hot0 role:user^2").collect()]
    assert qs_got == got
    # single text clause == plain OR (bit-exact)
    a = [(r.doc_id, r.score) for r in
         Q.search_fielded(mf_index, [("text", "hot0", 1.0)],
                          k=10).collect()]
    b = [(r.doc_id, r.score) for r in
         Q.search(mf_index, "hot0", k=10).collect()]
    assert a == b
    # repeated clause == summed weight == doubled qtf
    c = [(r.doc_id, r.score) for r in
         Q.search_fielded(mf_index, [("text", "hot0", 1.0),
                                     ("text", "hot0", 1.0)],
                          k=10).collect()]
    d = [(r.doc_id, r.score) for r in
         Q.search(mf_index, "hot0 hot0", k=10).collect()]
    assert c == d
    # validation
    with pytest.raises(ValueError, match="not indexed"):
        Q.search_fielded(mf_index, [("tool", "x", 1.0)])
    with pytest.raises(ValueError, match="one term"):
        Q.search_fielded(mf_index, [("text", "two words", 1.0)])
    from engine.querystring import QueryStringError
    with pytest.raises(QueryStringError, match="field-scoped"):
        search_query_string(mf_index, "+hot0 role:user")
