"""Wildcard prefix search (``prefix*`` -> lexicon expansion -> OR scoring;
SURVEY §2 beyond-spec extension, round 4).

Oracle: expand the prefix over the pure-Python index's vocabulary with the
SAME frozen rule (startswith; cap = highest df first, term ascending on
ties) and score via OracleIndex.search — expansion terms are analyzer
fixed points, so the joined query string reproduces qtf=1 per term.
Coverage: uncapped + binding-cap rank identity, forced-WAND identity,
NOT/exclude composition, empty expansion (no job), prefix validation,
driver-side memoization + refresh invalidation (vocab growth via
streaming append/compact), batch PREFIX entries, and the lexicon-scan
StartsWith pushdown plan.
"""

import pytest

from engine import query as Q


@pytest.fixture(scope="module")
def packed_index(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("pfx_idx"))
    return build_index(spark, corpus_df, d)


def _oracle_expand(oracle_idx, prefix, cap=10**9):
    """The frozen expansion rule over the pure-Python index's vocab."""
    cand = [(term, len(post)) for term, post in oracle_idx.postings.items()
            if term.startswith(prefix)]
    cand.sort(key=lambda x: (-x[1], x[0]))
    return [t for t, _ in cand[:cap]]


def _oracle_prefix_topk(oracle_idx, prefix, k=10, cap=10**9, exclude=None):
    terms = _oracle_expand(oracle_idx, prefix, cap)
    if not terms:
        return []
    ranked = oracle_idx.search(" ".join(terms), k=len(oracle_idx.dl))
    if exclude:
        negs = set(exclude) - set(terms)
        drop = {d for t in negs for d, _ in oracle_idx.postings.get(t, ())}
        ranked = [(d, s) for d, s in ranked if d not in drop]
    return ranked[:k]


@pytest.mark.parametrize("prefix,cap", [
    ("hot", 64),      # 2 terms, Zipf head
    ("rare", 64),     # 10 planted tail terms (idf spread)
    ("w1", 1000),     # ~100 terms, uncapped
    ("w1", 7),        # the same prefix with the cap BINDING
    ("w23", 64),      # 10 terms
])
def test_prefix_rank_identity(packed_index, oracle_idx, prefix, cap):
    got = [(r.doc_id, r.score)
           for r in Q.search_prefix(packed_index, prefix, k=10,
                                    max_expansions=cap).collect()]
    want = _oracle_prefix_topk(oracle_idx, prefix, k=10, cap=cap)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def test_prefix_wand_forced_identity(packed_index, oracle_idx):
    got = [(r.doc_id, r.score)
           for r in Q.search_prefix(packed_index, "hot*", k=10,
                                    use_wand=True).collect()]
    want = _oracle_prefix_topk(oracle_idx, "hot", k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def test_prefix_exclude(packed_index, oracle_idx):
    got = [(r.doc_id, r.score)
           for r in Q.search_prefix(packed_index, "rare", k=10,
                                    exclude="hot0").collect()]
    want = _oracle_prefix_topk(oracle_idx, "rare", k=10, exclude=["hot0"])
    assert [d for d, _ in got] == [d for d, _ in want]


def test_prefix_trailing_star_equivalent(packed_index):
    a = [tuple(r) for r in Q.search_prefix(packed_index, "w23*").collect()]
    b = [tuple(r) for r in Q.search_prefix(packed_index, "w23").collect()]
    assert a == b


def test_prefix_no_match_is_local_relation(packed_index):
    df = Q.search_prefix(packed_index, "zzzq")
    assert df.count() == 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FileScan" not in plan  # empty result never schedules a scan


@pytest.mark.parametrize("bad", ["", "*", "a b", "ab-c", "A B"])
def test_prefix_validation(packed_index, bad):
    with pytest.raises(ValueError):
        Q.search_prefix(packed_index, bad)


def test_prefix_cap_validation(packed_index):
    with pytest.raises(ValueError):
        packed_index.expand_prefix("w1", max_expansions=0)


def test_prefix_expansion_memoized_and_seeds_term_cache(packed_index):
    packed_index.refresh()
    rows = packed_index.expand_prefix("w23", 64)
    assert rows is packed_index.expand_prefix("w23", 64)  # same object
    # matched rows seeded the term memo: the scoring query's lookup_terms
    # resolves without a lexicon job
    for r in rows:
        assert packed_index._term_cache[r["term"]]["df"] == r["df"]
    assert packed_index._prefix_cache
    packed_index.refresh()
    assert packed_index._prefix_cache == {}


def test_prefix_lexicon_scan_pushdown(packed_index):
    from pyspark.sql import functions as F
    plan = (packed_index.lexicon()
            .filter(F.col("term").startswith("w23"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "StartsWith" in plan  # reaches the parquet scan filters


def test_prefix_in_search_batch(packed_index):
    single = [(r.doc_id, r.score)
              for r in Q.search_prefix(packed_index, "rare", k=10).collect()]
    capped = [(r.doc_id, r.score)
              for r in Q.search_prefix(packed_index, "w1", k=10,
                                       max_expansions=7).collect()]
    batch = Q.search_batch(packed_index, [
        {"id": "p1", "query": "rare*", "mode": "PREFIX"},
        {"id": "p2", "query": "w1", "mode": "PREFIX", "max_expansions": 7},
        {"id": "o1", "query": "hot0 w002", "mode": "OR"},
    ], k=10)
    got = {}
    for r in batch.collect():
        got.setdefault(r.qid, []).append((r.score, r.doc_id))
    for qid in got:
        got[qid] = [(d, s) for s, d in
                    sorted(got[qid], key=lambda x: (-x[0], x[1]))]
    assert got["p1"] == single
    assert got["p2"] == capped
    one = [(r.doc_id, r.score)
           for r in Q.search(packed_index, "hot0 w002", k=10).collect()]
    assert got["o1"] == one


def test_cli_prefix_snippets(cli, tmp_path):
    """CLI: --mode PREFIX with --max-expansions and --snippets (snippets
    highlight the EXPANDED terms, not the raw prefix)."""
    import json
    d = str(tmp_path / "cli_idx")
    r = cli(["build", "--input", "synthetic", "--convs", "120",
             "--index-dir", d])
    assert r.returncode == 0, r.stderr[-2000:]
    r = cli(["search", "--index-dir", d, "--query", "w1*", "--mode",
             "PREFIX", "--max-expansions", "7", "--k", "5", "--snippets"])
    assert r.returncode == 0, r.stderr[-2000:]
    out = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
    assert out and all("snippet" in o and "score" in o for o in out)


def test_prefix_sees_vocab_growth_after_compact(spark, tmp_path):
    """A compacted append that introduces NEW matching terms must show up
    in a fresh expansion (refresh()/compact() drop the prefix memo)."""
    import pandas as pd
    from engine.streaming import append_batch, compact, \
        create_streaming_index

    def turns(texts, start):
        return spark.createDataFrame(pd.DataFrame({
            "conv_id": [f"c{i:04d}" for i in range(start, start + len(texts))],
            "turn_idx": [0] * len(texts),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [""] * len(texts),
            "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
        }))

    d = str(tmp_path / "inc_idx")
    create_streaming_index(spark, d, expected_docs=8)
    append_batch(spark, turns(["alpha beta", "alpha gamma"], 0), d)
    idx = compact(spark, d)
    assert [r["term"] for r in idx.expand_prefix("al", 8)] == ["alpha"]
    append_batch(spark, turns(["album track", "album art"], 2), d)
    idx = compact(spark, d)
    exp = {r["term"] for r in idx.expand_prefix("al", 8)}
    assert exp == {"alpha", "album"}


# ---- regexp term query (search_regexp) -------------------------------


def _oracle_regexp_expand(oracle_idx, pattern, cap=10**9):
    import re
    rx = re.compile(f"^(?:{pattern})$")
    cand = [(term, len(post)) for term, post in oracle_idx.postings.items()
            if rx.match(term)]
    cand.sort(key=lambda x: (-x[1], x[0]))
    return [t for t, _ in cand[:cap]]


def _oracle_regexp_topk(oracle_idx, pattern, k=10, cap=10**9,
                        exclude=None):
    terms = _oracle_regexp_expand(oracle_idx, pattern, cap)
    if not terms:
        return []
    ranked = oracle_idx.search(" ".join(terms), k=len(oracle_idx.dl))
    if exclude:
        negs = set(exclude) - set(terms)
        drop = {d for t in negs for d, _ in oracle_idx.postings.get(t, ())}
        ranked = [(d, s) for d, s in ranked if d not in drop]
    return ranked[:k]


@pytest.mark.parametrize("pattern,cap", [
    ("hot[01]", 64),          # class on the tail, literal prefix 'hot'
    ("rare(0|1|2)", 64),      # alternation, literal prefix 'rare'
    ("w1[0-9]", 5),           # cap BINDING under df desc, term asc
    ("(hot|mid)0", 64),       # NO literal prefix (group start)
])
def test_regexp_rank_identity(packed_index, oracle_idx, pattern, cap):
    got = [(r.doc_id, r.score)
           for r in Q.search_regexp(packed_index, pattern, k=10,
                                    max_expansions=cap).collect()]
    want = _oracle_regexp_topk(oracle_idx, pattern, k=10, cap=cap)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def test_regexp_full_match_is_anchored(packed_index, oracle_idx):
    # 'ot0' matches hot0 only as a SUBSTRING -> anchored semantics
    # must return nothing
    assert Q.search_regexp(packed_index, "ot0", k=10).collect() == []


def test_regexp_exclude_composes(packed_index, oracle_idx):
    got = [r.doc_id for r in Q.search_regexp(
        packed_index, "hot[01]", k=10, exclude="mid1").collect()]
    want = [d for d, _ in _oracle_regexp_topk(
        oracle_idx, "hot[01]", k=10, exclude=["mid1"])]
    assert got == want


def test_regexp_invalid_pattern_raises(packed_index):
    with pytest.raises(Exception):
        Q.search_regexp(packed_index, "hot[0", k=10)


def test_regexp_no_match_no_job(packed_index):
    # empty expansion -> LocalRelation-backed empty top-k (no postings
    # scan scheduled)
    df = Q.search_regexp(packed_index, "zzz[0-9]+", k=10)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FileScan" not in plan
    assert df.collect() == []


def test_regexp_literal_prefix_pushdown(packed_index):
    # the expansion's lexicon scan must push StartsWith('hot') when the
    # pattern carries a literal prefix
    packed_index.refresh()
    from pyspark.sql import functions as F
    scan = (packed_index.lexicon()
            .filter(F.col("term").startswith("hot"))
            .filter(F.col("term").rlike("^(?:hot[01])$")))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "StartsWith" in plan and "PushedFilters" in plan


def test_regexp_batch_entry_matches_single(packed_index):
    qs = [{"id": "r1", "query": "hot[01]", "mode": "REGEXP"},
          {"id": "r2", "query": "rare(0|1|2)", "mode": "REGEXP",
           "max_expansions": 2},
          {"id": "b1", "query": "hot0 mid1", "mode": "OR"}]
    got = Q.search_batch(packed_index, qs, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.doc_id, r.score))
    single = {
        "r1": Q.search_regexp(packed_index, "hot[01]", k=10),
        "r2": Q.search_regexp(packed_index, "rare(0|1|2)", k=10,
                              max_expansions=2),
        "b1": Q.search(packed_index, "hot0 mid1", k=10),
    }
    for qid, df in single.items():
        want = [(r.doc_id, r.score) for r in df.collect()]
        assert by_q.get(qid, []) == want, qid
