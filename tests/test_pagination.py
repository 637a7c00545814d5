"""Cursor pagination (``search_after``, SURVEY §2 beyond-spec, round 4).

Contract under test: walking pages with the previous page's last
(score, doc_id) as the cursor reproduces the FULL frozen ranking —
pages disjoint, complete, in order — because the raw-float cursor
compare is exact (bit-reproducible scores, the same invariant the
rank-identity suite pins). Oracle: the pure-Python index's complete
ranking. Composition: exclude, doc_filter, AND mode, tie regions
(k=1 walks), and page-1 delegation to ``search`` (WAND routing kept).
"""

import pytest

from engine import query as Q


@pytest.fixture(scope="module")
def packed_index(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("page_idx"))
    return build_index(spark, corpus_df, d)


def _walk(idx, query, k, limit=10**6, **kw):
    got, after = [], None
    while len(got) < limit:
        rows = Q.search_after(idx, query, k=k, after=after, **kw).collect()
        if not rows:
            break
        got += [(r.doc_id, r.score) for r in rows]
        after = (rows[-1].score, rows[-1].doc_id)
    return got


@pytest.mark.parametrize("query,mode,k", [
    ("hot0 w002 w010", "OR", 7),
    ("hot0 hot1", "AND", 5),
    ("rare3 rare4 w003", "OR", 3),
])
def test_page_walk_reproduces_full_ranking(packed_index, oracle_idx,
                                           query, mode, k):
    full = oracle_idx.search(query, k=10**9, mode=mode)
    got = _walk(packed_index, query, k, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in full]
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, full))
    # disjoint by construction of the comparison, but assert anyway
    assert len({d for d, _ in got}) == len(got)


def test_k1_walk_through_tie_region(packed_index, oracle_idx):
    """k=1 forces a cursor stop at EVERY rank — exact equal-score tie
    regions (duplicate short texts score identically) must advance by
    doc_id, never skip or loop."""
    full = oracle_idx.search("rare0 rare1 w005", k=10**9)
    got = _walk(packed_index, "rare0 rare1 w005", k=1, limit=len(full) + 5)
    assert [d for d, _ in got] == [d for d, _ in full]


def test_page1_delegates_to_search(packed_index):
    a = [tuple(r) for r in
         Q.search_after(packed_index, "hot0 hot1", k=10).collect()]
    b = [tuple(r) for r in Q.search(packed_index, "hot0 hot1", k=10).collect()]
    assert a == b


def test_pagination_with_exclude(packed_index, oracle_idx):
    full = oracle_idx.search("hot0 w002", k=10**9)
    drop = {d for d, _ in oracle_idx.postings.get("w005", ())}
    full = [(d, s) for d, s in full if d not in drop]
    got = _walk(packed_index, "hot0 w002", k=8, exclude="w005")
    assert [d for d, _ in got] == [d for d, _ in full]


def test_pagination_with_doc_filter(packed_index):
    """Cursor walk under doc_filter == one big-k filtered query (the
    engine is self-consistent across page boundaries on the cogrouped
    mask path too)."""
    big = [(r.doc_id, r.score) for r in
           Q.search(packed_index, "hot0 w002 w010", k=60,
                    doc_filter="role = 'user'").collect()]
    got = _walk(packed_index, "hot0 w002 w010", k=9, limit=len(big),
                doc_filter="role = 'user'")
    assert got[:len(big)] == big[:len(got)]
    assert got  # the filter must not empty the walk


def test_prefix_pagination(packed_index, oracle_idx):
    """search_prefix(after=...) walks the expansion's full ranking."""
    terms = sorted(t for t in oracle_idx.postings if t.startswith("rare"))
    full = oracle_idx.search(" ".join(terms), k=10**9)
    got, after = [], None
    while True:
        rows = Q.search_prefix(packed_index, "rare*", k=6,
                               after=after).collect()
        if not rows:
            break
        got += [(r.doc_id, r.score) for r in rows]
        after = (rows[-1].score, rows[-1].doc_id)
        assert len(got) <= len(full)
    assert [d for d, _ in got] == [d for d, _ in full]


def test_cli_after_cursor(cli, tmp_path):
    import json
    d = str(tmp_path / "cli_idx")
    r = cli(["build", "--input", "synthetic", "--convs", "120",
             "--index-dir", d])
    assert r.returncode == 0, r.stderr[-2000:]

    def page(after=None):
        cmd = ["search", "--index-dir", d, "--query", "hot0 hot1",
               "--k", "5"]
        if after:
            cmd += ["--after", after]
        r = cli(cmd)
        assert r.returncode == 0, r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines()
                if l.startswith("{")]

    p1 = page()
    assert len(p1) == 5
    p2 = page(f"{p1[-1]['score']!r},{p1[-1]['doc_id']}")
    assert p2 and not ({r["doc_id"] for r in p1}
                       & {r["doc_id"] for r in p2})


def test_tail_page_then_empty(packed_index, oracle_idx):
    full = oracle_idx.search("rare7", k=10**9)
    n = len(full)
    assert n > 0
    got = _walk(packed_index, "rare7", k=max(1, n - 1))
    assert len(got) == n
    after = (got[-1][1], got[-1][0])
    assert Q.search_after(packed_index, "rare7", k=5,
                          after=after).count() == 0
