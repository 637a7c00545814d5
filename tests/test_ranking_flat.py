"""End to end: packed-index BM25 vs the pure-Python oracle —
rank-identical (SURVEY.md §5.3) — plus docID determinism across
partition counts (§5.2), the index stats, and the per-turn
text-equality invariant (§5.4)."""

import pytest

from engine.fixtures import QUERY_SET
from engine import query as Q


@pytest.fixture(scope="module")
def packed(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("ranking") / "idx")
    return build_index(spark, corpus_df, d)


def _assert_rank_identical(got, want, qid):
    got_ids = [r["doc_id"] for r in got]
    want_ids = [d for d, _ in want]
    assert got_ids == want_ids, f"{qid}: {got_ids} != {want_ids}"
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) <= 1e-9, f"{qid}: score drift {r['score']} vs {s}"


@pytest.mark.parametrize("q", QUERY_SET, ids=[q["id"] for q in QUERY_SET])
def test_rank_identity_vs_oracle(packed, oracle_idx, q):
    got = Q.search(packed, q["query"], k=10, mode=q["mode"]).collect()
    want = oracle_idx.search(q["query"], k=10, mode=q["mode"])
    _assert_rank_identical(got, want, q["id"])


def test_docids_dense_and_deterministic(spark, corpus_df, corpus_pdf):
    from engine.docids import assign_doc_ids
    a = assign_doc_ids(corpus_df, n_parts=2).select("conv_id", "turn_idx", "doc_id")
    b = assign_doc_ids(corpus_df, n_parts=7).select("conv_id", "turn_idx", "doc_id")
    pa_ = {(r.conv_id, r.turn_idx): r.doc_id for r in a.collect()}
    pb = {(r.conv_id, r.turn_idx): r.doc_id for r in b.collect()}
    assert pa_ == pb  # identical across partition counts (scaling guard)
    n = len(corpus_pdf)
    assert sorted(pa_.values()) == list(range(n))  # dense 0..N-1
    # doc_id == rank in stable (conv_id, turn_idx) order
    keys = sorted(pa_)
    for rank, key in enumerate(keys):
        assert pa_[key] == rank


def test_stats_match_oracle(packed, oracle_idx):
    assert packed.n_docs == oracle_idx.n_docs
    assert abs(packed.avgdl - oracle_idx.avgdl) < 1e-12
    lex = {r.term: r for r in packed.lexicon().collect()}
    assert set(lex) == set(oracle_idx.postings)
    for t, rows in oracle_idx.postings.items():
        assert lex[t].df == len(rows), t
        assert lex[t].cf == sum(tf for _, tf in rows), t
        assert abs(lex[t].idf - oracle_idx.idf(t)) < 1e-12, t


def test_text_equality_invariant(packed, corpus_pdf):
    """E8 round-trip: text via the engine == corpus text, stable order."""
    top = Q.search(packed, "hot0 hot1", k=10, mode="OR")
    rows = Q.materialize_packed(packed, top).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["text"] == corpus_pdf.text.iloc[r["doc_id"]]
        # stable-order check: doc_id really is the rank of (conv_id, turn_idx)
        assert corpus_pdf.conv_id.iloc[r["doc_id"]] == r["conv_id"]
        assert corpus_pdf.turn_idx.iloc[r["doc_id"]] == r["turn_idx"]
