"""Filtered search (query-time doc_filter with global BM25 stats) and
snippet materialization (r3 features; SURVEY.md §2.E8/E9 extensions).

Frozen filter contract under test: the filter restricts CANDIDATE docs
only — N, avgdl, df/idf stay corpus-global — so every surviving score is
bit-identical to the unfiltered ranking's score for that doc, and the
filtered top-k equals the unfiltered full ranking restricted to the
allowed set then cut at k.
"""

import numpy as np
import pytest

from engine.fixtures import QUERY_SET

FILTER = "role = 'user'"          # turn_idx % 3 == 0 in the fixtures


@pytest.fixture(scope="module")
def packed_index(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("fidx") / "packed")
    return build_index(spark, corpus_df, d)


def _oracle_filtered(oracle_idx, corpus_pdf, query, mode, k=10,
                     role="user"):
    """Reference result: the FULL unfiltered oracle ranking restricted to
    the allowed doc set, then cut at k (the contract's definition)."""
    allowed = set(np.flatnonzero((corpus_pdf["role"] == role).to_numpy()))
    full = oracle_idx.search(query, k=len(corpus_pdf), mode=mode)
    return [(d, s) for d, s in full if d in allowed][:k]


@pytest.mark.parametrize("q", [QUERY_SET[0], QUERY_SET[4], QUERY_SET[8],
                               QUERY_SET[10]],
                         ids=lambda q: q["id"])
def test_filtered_packed_matches_oracle(packed_index, oracle_idx,
                                        corpus_pdf, q):
    got = [(r["doc_id"], r["score"]) for r in
           __import__("engine.query", fromlist=["search"]).search(
               packed_index, q["query"], k=10, mode=q["mode"],
               doc_filter=FILTER).collect()]
    want = _oracle_filtered(oracle_idx, corpus_pdf, q["query"], q["mode"])
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_filtered_packed_equals_oracle(packed_index, oracle_idx,
                                       corpus_pdf):
    """The filtered top-k is the oracle's whole ranking restricted to
    the docs with role 'user', cut at k."""
    from engine import query as Q
    a = [(r["doc_id"], r["score"]) for r in
         Q.search(packed_index, "hot0 w020", k=10, mode="OR",
                  doc_filter=FILTER).collect()]
    user = set(np.flatnonzero((corpus_pdf.role == "user").to_numpy()))
    b = [(d, s) for d, s in
         oracle_idx.search("hot0 w020", k=len(corpus_pdf), mode="OR")
         if d in user][:10]
    assert [d for d, _ in a] == [d for d, _ in b] and len(a) > 0
    assert all(abs(x - y) <= 1e-9 for (_, x), (_, y) in zip(a, b))


def test_filtered_scores_equal_unfiltered_scores(packed_index):
    """Surviving docs keep their exact unfiltered score (global stats)."""
    from engine import query as Q
    unf = {r["doc_id"]: r["score"] for r in
           Q.search(packed_index, "hot0 hot1", k=1000, mode="OR").collect()}
    for r in Q.search(packed_index, "hot0 hot1", k=10, mode="OR",
                      doc_filter=FILTER).collect():
        assert r["score"] == unf[r["doc_id"]]  # bit-identical


def test_masked_wand_matches_masked_exhaustive(packed_index):
    """Forced masked WAND (doc_filter + use_wand=True) must be
    rank-identical (scores to 1e-9) to the masked exhaustive scorer for
    every query of the frozen set — block bounds stay valid upper bounds
    under a mask and θ seeds from allowed-only scores (rank-safety of
    engine/wand.py allowed_loc)."""
    from engine import query as Q
    for q in QUERY_SET:
        if q["mode"] != "OR":
            continue
        w = [(r["doc_id"], round(r["score"], 9)) for r in
             Q.search(packed_index, q["query"], k=10, mode="OR",
                      doc_filter=FILTER, use_wand=True).collect()]
        e = [(r["doc_id"], round(r["score"], 9)) for r in
             Q.search(packed_index, q["query"], k=10, mode="OR",
                      doc_filter=FILTER, use_wand=False).collect()]
        assert w == e, q["id"]


def test_masked_wand_empty_filter(packed_index):
    from engine import query as Q
    assert Q.search(packed_index, "hot0 hot1", k=10, mode="OR",
                    doc_filter="role = 'no-such-role'",
                    use_wand=True).collect() == []


def test_filter_matches_none_is_empty(packed_index):
    from engine import query as Q
    rows = Q.search(packed_index, "hot0", k=10,
                    doc_filter="role = 'no-such-role'").collect()
    assert rows == []


def test_filter_composes_with_not(packed_index, oracle_idx, corpus_pdf):
    from engine import query as Q
    got = [(r["doc_id"], r["score"]) for r in
           Q.search(packed_index, "hot0 hot1", k=10, mode="OR",
                    exclude="rare1", doc_filter=FILTER).collect()]
    # reference: full unfiltered NOT-ranking, restricted to allowed docs
    allowed = set(np.flatnonzero((corpus_pdf["role"] == "user").to_numpy()))
    excl = {d for d, _ in oracle_idx.search("rare1", k=len(corpus_pdf))}
    full = oracle_idx.search("hot0 hot1", k=len(corpus_pdf), mode="OR")
    want = [(d, s) for d, s in full if d in allowed and d not in excl][:10]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_filter_pushdown_reaches_corpus_scan(packed_index):
    """The doc_filter predicate must appear as a pushed parquet filter on
    the corpus scan (not a post-scan Filter only)."""
    from engine import query as Q
    df = Q.search(packed_index, "hot0 hot1", k=10, doc_filter=FILTER)
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    assert "PushedFilters" in s
    pushed = [ln for ln in s.splitlines()
              if "PushedFilters" in ln and "role" in ln]
    assert pushed, f"role predicate not pushed to any scan:\n{s}"


# ---------------------------------------------------------------------------
# snippets
# ---------------------------------------------------------------------------

def test_snippet_values(spark, tmp_path):
    """Exact snippet strings on a handmade corpus: window clamp at both
    ends, FIRST occurrence wins, earliest term across the query."""
    import pandas as pd

    from engine import query as Q
    from engine.build import build_index
    texts = [
        "alpha beta gamma delta target echo fox golf hotel india",  # mid
        "target one two three four five six",                       # at start
        "one two three four five six seven eight nine target",      # at end
        "zed target zed target zed",                                # repeats
    ]
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:03d}" for i in range(len(texts))],
        "turn_idx": np.zeros(len(texts), dtype=np.int32),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [""] * len(texts),
        "ts": pd.Timestamp("2026-01-01"),
    })
    idx = build_index(spark, spark.createDataFrame(pdf),
                      str(tmp_path / "sidx"))
    top = Q.search(idx, "target", k=10)
    got = {r["doc_id"]: r["snippet"] for r in
           Q.materialize_snippets(idx, top, "target", window=2).collect()}
    assert got[0] == "gamma delta target echo fox"
    assert got[1] == "target one two"
    assert got[2] == "eight nine target"
    assert got[3] == "zed target zed target"  # first occurrence at pos 2


def test_snippet_earliest_term_across_query(spark, tmp_path):
    import pandas as pd

    from engine import query as Q
    from engine.build import build_index
    pdf = pd.DataFrame({
        "conv_id": ["c0"], "turn_idx": np.array([0], dtype=np.int32),
        "role": ["user"],
        "text": ["one late two three four early five six late seven"],
        "tool": [""], "ts": pd.Timestamp("2026-01-01"),
    })
    idx = build_index(spark, spark.createDataFrame(pdf),
                      str(tmp_path / "sidx2"))
    top = Q.search(idx, "early late", k=10)
    got = Q.materialize_snippets(idx, top, "early late", window=1).collect()
    # "late" first occurs at position 2 (earlier than "early" at 6)
    assert got[0]["snippet"] == "one late two"


def test_batch_filtered_matches_single_filtered(packed_index):
    """search_batch(doc_filter=...) == per-query search(doc_filter=...)
    for every query of the set and every routing (masked WAND in the
    batch scorer included — use_wand=True forces it per shard)."""
    from engine import query as Q
    from engine.fixtures import QUERY_SET
    for use_wand in (True, False, "auto"):
        out = Q.search_batch(packed_index, QUERY_SET, k=10,
                             use_wand=use_wand, doc_filter=FILTER).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.qid, []).append((r.doc_id, round(r.score, 9)))
        for q in QUERY_SET:
            want = [(r["doc_id"], round(r["score"], 9)) for r in
                    Q.search(packed_index, q["query"], k=10, mode=q["mode"],
                             doc_filter=FILTER).collect()]
            assert by_q.get(q["id"], []) == want, (q["id"], use_wand)


def test_cli_search_batch(spark, packed_index, tmp_path, capsys):
    """spark-submit surface: search-batch runs a JSON query set (with
    per-query excludes and a shared --filter) in one job."""
    import json

    from engine.__main__ import main
    qf = tmp_path / "qs.json"
    qf.write_text(json.dumps([
        {"id": "a", "query": "hot0 hot1", "mode": "OR", "exclude": "rare3"},
        {"id": "b", "query": "hot0", "mode": "AND"},
    ]))
    assert main(["search-batch", "--index-dir", packed_index.index_dir,
                 "--queries-file", str(qf), "--k", "3",
                 "--filter", FILTER]) == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert lines and {r["qid"] for r in lines} == {"a", "b"}
    assert all({"qid", "doc_id", "score"} <= set(r) for r in lines)


def test_cli_filter_and_snippets(spark, corpus_df, tmp_path, capsys):
    """spark-submit surface: --filter and --snippets flags end-to-end."""
    import json

    from engine.__main__ import main
    from engine.build import build_index
    d = str(tmp_path / "cliidx")
    build_index(spark, corpus_df, d)
    assert main(["search", "--index-dir", d, "--query", "hot0 hot1",
                 "--k", "3", "--filter", "role = 'user'",
                 "--snippets"]) == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert 0 < len(lines) <= 3
    assert all({"doc_id", "score", "snippet"} <= set(r) for r in lines)


def test_batch_snippets_match_per_query(packed_index):
    """materialize_snippets_batch == per-query materialize_snippets for
    every qid (same anchor terms, same frozen contract), one job."""
    from engine import query as Q
    qs = [{"id": "a", "query": "hot0 hot1", "mode": "OR"},
          {"id": "b", "query": "rare3", "mode": "OR"},
          {"id": "c", "query": "hot1 w003", "mode": "AND"},
          {"id": "d", "query": "ghost0", "mode": "OR"}]  # empty result
    batch = Q.search_batch(packed_index, qs, k=5)
    got = Q.materialize_snippets_batch(packed_index, batch, qs,
                                       window=2).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.doc_id, r.score, r.snippet))
    for q in qs:
        top = Q.search(packed_index, q["query"], k=5, mode=q["mode"])
        want = [(r.doc_id, r.score, r.snippet)
                for r in Q.materialize_snippets(
                    packed_index, top, q["query"], window=2).collect()]
        assert by_q.get(q["id"], []) == want, q["id"]


def test_multi_fragment_snippets(spark, tmp_path):
    """n_fragments > 1: one fragment per distinct-term first anchor in
    ascending position order, ' ... '-joined; exact strings on a
    handmade corpus."""
    import pandas as pd

    from engine import query as Q
    from engine.build import build_index
    texts = [
        # alpha at pos 1, omega at pos 8: two disjoint fragments
        "alpha one two three four five six omega seven eight",
        # only alpha present: one fragment despite n_fragments=2
        "zero alpha one two three four five six seven eight",
        # anchors close together: overlapping fragments kept (no merge)
        "one alpha omega two three four five six seven eight",
    ]
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:03d}" for i in range(len(texts))],
        "turn_idx": np.zeros(len(texts), dtype=np.int32),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [""] * len(texts),
        "ts": pd.Timestamp("2026-01-01"),
    })
    idx = build_index(spark, spark.createDataFrame(pdf),
                      str(tmp_path / "mfidx"))
    top = Q.search(idx, "alpha omega", k=10)
    got = {r["doc_id"]: r["snippet"] for r in
           Q.materialize_snippets(idx, top, "alpha omega", window=1,
                                  n_fragments=2).collect()}
    assert got[0] == "alpha one ... six omega seven"
    assert got[1] == "zero alpha one"
    assert got[2] == "one alpha omega ... alpha omega two"
    # n_fragments=1 stays the legacy first-anchor expression
    got1 = {r["doc_id"]: r["snippet"] for r in
            Q.materialize_snippets(idx, top, "alpha omega",
                                   window=1).collect()}
    assert got1[0] == "alpha one"
    with pytest.raises(ValueError, match="n_fragments"):
        Q.materialize_snippets(idx, top, "alpha omega", n_fragments=0)
