"""M2-M4: packed index build + merge passes + packed/WAND query paths.

Rank-identity of the packed engine (exhaustive AND wand scorers) vs the
pure-Python oracle; codec round-trip through the real index; resume from
checkpoint (SURVEY.md §5.3/5.5)."""

import shutil

import numpy as np
import pytest

from engine import codec
from engine import query as Q
from engine.fixtures import QUERY_SET


@pytest.fixture(scope="session")
def packed_index(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("idx") / "packed")
    return build_index(spark, corpus_df, d)


def _oracle_want(oracle_idx, q):
    return oracle_idx.search(q["query"], k=10, mode=q["mode"])


@pytest.mark.parametrize("q", QUERY_SET, ids=[q["id"] for q in QUERY_SET])
def test_packed_exhaustive_rank_identity(packed_index, oracle_idx, q):
    got = Q.search(packed_index, q["query"], k=10, mode=q["mode"],
                   use_wand=False).collect()
    want = _oracle_want(oracle_idx, q)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], q["id"]
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) <= 1e-9, q["id"]


@pytest.mark.parametrize("q", QUERY_SET, ids=[q["id"] for q in QUERY_SET])
def test_packed_wand_rank_identity(packed_index, oracle_idx, q):
    got = Q.search(packed_index, q["query"], k=10, mode=q["mode"],
                   use_wand=True).collect()
    want = _oracle_want(oracle_idx, q)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], q["id"]
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) <= 1e-9, q["id"]


def test_index_invariants(spark, packed_index, oracle_idx):
    """Decoded postings strictly increasing; df == len; blocks partition the
    list; lexicon df/cf match the oracle (FIXTURES.md §4)."""
    rows = spark.read.parquet(packed_index.postings_path).collect()
    seen = {}
    for r in rows:
        ids, tfs = codec.decode_postings(bytes(r["doc_ids"]), bytes(r["tfs"]))
        assert ids.size == r["df"]
        assert (np.diff(ids) > 0).all(), r["term"]
        blocks = codec.decode_blocks(bytes(r["blocks"]))
        assert int(blocks["n"].sum()) == r["df"]
        lasts = blocks["last_doc_id"].tolist()
        assert lasts == sorted(lasts)
        assert lasts[-1] == ids[-1]
        assert int(tfs.max()) == r["max_tf"]
        # r4: per-block min_dl is a true lower bound of the block's dls
        dls = codec.vbyte_decode(bytes(r["dls"])).astype(np.int64)
        for b in blocks:
            seg = dls[b["off"]:b["off"] + b["n"]]
            assert int(seg.min()) == b["min_dl"]
            assert int(tfs[b["off"]:b["off"] + b["n"]].max()) == b["max_tf"]
        seen.setdefault(r["term"], []).append((ids, tfs))
    # merged: exactly one row per (term, shard); union matches oracle lists
    for term, parts in seen.items():
        all_ids = np.concatenate([p[0] for p in parts])
        all_tfs = np.concatenate([p[1] for p in parts])
        o = np.argsort(all_ids)
        want = oracle_idx.postings[term]
        assert all_ids[o].tolist() == [d for d, _ in want], term
        assert all_tfs[o].tolist() == [tf for _, tf in want], term


def test_manifest_and_resume(spark, corpus_df, tmp_path):
    """Delete the final merge pass output; rerun -> earlier passes skipped
    (lineage intact), final index identical (SURVEY.md §5.5)."""
    from engine.build import build_index
    from engine.config import IndexConfig
    from engine.manifest import Manifest
    d = str(tmp_path / "idx2")
    # force the 2-pass merge plan (pack_docs_per_slice=None disables the
    # adaptive run sizing so the tiny corpus still exercises multi-pass)
    cfg = IndexConfig(pack_docs_per_slice=None, merge_passes=2)
    idx = build_index(spark, corpus_df, d, cfg=cfg)
    man = Manifest.load(d)
    assert man.completed and man.final_segment == "seg_p2"
    assert [s.segment_id for s in man.segments] == ["seg_p0", "seg_p1", "seg_p2"]
    assert man.segments[2].src_segments == ["seg_p1"]
    assert man.metrics["turns_per_sec"] > 0
    before = {(r["term"], r["shard"]): (bytes(r["doc_ids"]), bytes(r["tfs"]))
              for r in spark.read.parquet(idx.postings_path).collect()}
    # simulate a crash after pass 1: drop pass-2 output + mark pending
    shutil.rmtree(f"{d}/segments/seg_p2")
    man.segments[2].status = "pending"
    man.completed = False
    man.save(d)
    p0_mtime = __import__("os").path.getmtime(f"{d}/segments/seg_p0/_SUCCESS")
    idx2 = build_index(spark, corpus_df, d)  # resume
    assert __import__("os").path.getmtime(
        f"{d}/segments/seg_p0/_SUCCESS") == p0_mtime  # pass 0 NOT recomputed
    after = {(r["term"], r["shard"]): (bytes(r["doc_ids"]), bytes(r["tfs"]))
             for r in spark.read.parquet(idx2.postings_path).collect()}
    assert before == after  # byte-identical index


def test_packed_text_roundtrip(packed_index, corpus_pdf):
    top = Q.search(packed_index, "hot1 rare5", k=10, mode="OR")
    rows = Q.materialize_packed(packed_index, top).collect()
    assert rows
    for r in rows:
        assert r["text"] == corpus_pdf.text.iloc[r["doc_id"]]


def test_not_mode_packed_equals_oracle(spark, packed_index, oracle_idx):
    """Boolean NOT (set difference): the packed scorer's negmask equals
    the oracle's whole ranking minus every doc holding the excluded
    term, on a query whose positive hits include such docs."""
    got = Q.search(packed_index, "hot0", k=10, mode="OR",
                   exclude="hot1").collect()
    hot1_docs = {d for d, _ in oracle_idx.postings["hot1"]}
    full = oracle_idx.search("hot0", k=oracle_idx.n_docs, mode="OR")
    want = [(d, s) for d, s in full if d not in hot1_docs][:10]
    assert [r.doc_id for r in got] == [d for d, _ in want]
    assert all(abs(r.score - s) <= 1e-9 for r, (_, s) in zip(got, want))
    assert got, "exclusion query should still match something"
    # and the excluded docs are really gone
    assert not ({r.doc_id for r in got} & hot1_docs)
    assert len(want) < len(full)  # the exclusion removed real hits


def test_index_identical_across_parallelism(spark, corpus_df, oracle_idx,
                                            tmp_path, monkeypatch):
    """The north rule's cross-cluster-size determinism, directly: building
    the index at different parallelism (partition counts) yields
    IDENTICAL packed content — same (term, shard) rows, byte-identical
    payloads — hence identical ranking everywhere. Pinned to the
    distributed build (the driver build has no partitions)."""
    from engine import build as B
    from engine.build import build_index
    monkeypatch.setattr(B, "BUILD_LOCAL_MAX_ROWS", 0)

    def content(idx):
        return {(r["term"], r["shard"]):
                (bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["dls"]))
                for r in spark.read.parquet(idx.postings_path).collect()}

    a = build_index(spark, corpus_df.repartition(3),
                    str(tmp_path / "p3"), n_parts=3)
    b = build_index(spark, corpus_df.repartition(16),
                    str(tmp_path / "p16"), n_parts=16)
    ca, cb = content(a), content(b)
    assert ca == cb
    got = [(r.doc_id, round(r.score, 9)) for r in
           Q.search(a, "hot0 rare3", k=10).collect()]
    want = [(d, round(s, 9)) for d, s in
            oracle_idx.search("hot0 rare3", 10, "OR")]
    assert got == want


def test_scorer_width_bounded_by_docs_per_score_shard(spark, corpus_df,
                                                      oracle_idx, tmp_path):
    """The 100x memory guarantee (VERDICT r1): per-task accumulator width
    is capped by docs_per_score_shard — the shard COUNT grows with the
    corpus, the width does not. Rank-identity must survive the finer
    sharding (shard boundaries are invisible to the global top-k)."""
    from engine.build import build_index, effective_slices
    from engine.config import IndexConfig
    cfg = IndexConfig(n_slices=4, docs_per_score_shard=64)
    idx = build_index(spark, corpus_df, str(tmp_path / "narrow"), cfg=cfg)
    assert idx.shard_width <= 64
    n = idx.n_docs
    assert effective_slices(cfg, n) == -(-n // 64)
    # the cap is scale-invariant: 10x/100x the corpus -> more shards,
    # same bounded width
    for mult in (10, 100):
        shards = effective_slices(cfg, n * mult)
        assert -(-n * mult // shards) <= 64
    for q in ("hot0 rare3", "hot1 mid2 rare5"):
        got = [(r.doc_id, round(r.score, 9)) for r in
               Q.search(idx, q, k=10, mode="OR").collect()]
        want = [(d, round(s, 9)) for d, s in oracle_idx.search(q, 10, "OR")]
        assert got == want, q


def test_resume_refuses_plan_mismatch(spark, corpus_df, tmp_path):
    """Resuming a partially built index under a cfg that resolves a
    different shard plan must fail loudly, not silently garble scorer
    offsets (ADVICE r1)."""
    import pytest as _pytest
    from engine.build import build_index
    from engine.config import IndexConfig
    d = str(tmp_path / "idx_resume")
    cfg = IndexConfig(n_slices=4, docs_per_score_shard=64)
    build_index(spark, corpus_df, d, cfg=cfg)
    # simulate an interrupted build: completed base, pending segments
    from engine.manifest import Manifest
    man = Manifest.load(d)
    man.completed = False
    man.save(d)
    with _pytest.raises(ValueError, match="resume plan mismatch"):
        build_index(spark, corpus_df, d, cfg=IndexConfig(n_slices=2))
    with _pytest.raises(ValueError, match="merge_fanin"):
        build_index(spark, corpus_df, d,
                    cfg=IndexConfig(n_slices=4, docs_per_score_shard=64,
                                    merge_fanin=8))
    # ADVICE r2: analyzer / block_size / n_buckets drift is refused too —
    # the remaining passes would otherwise pack under one config while
    # queries analyze under the manifest's original
    from engine.config import AnalyzerConfig
    with _pytest.raises(ValueError, match="analyzer"):
        build_index(spark, corpus_df, d,
                    cfg=IndexConfig(n_slices=4, docs_per_score_shard=64,
                                    analyzer=AnalyzerConfig(stopwords=("the",))))
    with _pytest.raises(ValueError, match="block_size"):
        build_index(spark, corpus_df, d,
                    cfg=IndexConfig(n_slices=4, docs_per_score_shard=64,
                                    block_size=32))
    with _pytest.raises(ValueError, match="n_buckets"):
        build_index(spark, corpus_df, d,
                    cfg=IndexConfig(n_slices=4, docs_per_score_shard=64,
                                    n_buckets=4))
    # the original cfg still resumes cleanly
    idx = build_index(spark, corpus_df, d, cfg=cfg)
    assert idx.shard_width <= 64


def test_custom_analyzer_end_to_end(spark, corpus_df, corpus_pdf, tmp_path):
    """C3 hooks end-to-end: a packed index built with stopwords + the
    plural stemmer is rank-identical to the pure-Python oracle configured
    the same way, and the config survives the manifest round-trip (a
    RELOADED index analyzes queries identically)."""
    from engine.build import build_index, load_index
    from engine.config import AnalyzerConfig, IndexConfig
    from engine.oracle import OracleIndex
    acfg = AnalyzerConfig(stopwords=("the", "a", "hot0"), stem="s")
    cfg = IndexConfig(analyzer=acfg)
    d = str(tmp_path / "custom_an")
    idx = build_index(spark, corpus_df, d, cfg=cfg)
    oracle = OracleIndex(list(zip(range(len(corpus_pdf)), corpus_pdf.text)),
                         acfg=acfg)
    # 'hot0' is a stopword now: indexed nowhere, query side drops it too
    assert not oracle.postings.get("hot0")
    for q in ("hot0 rare3", "rare5 mid2 queries", "the details"):
        got = [(r.doc_id, round(r.score, 9)) for r in
               Q.search(idx, q, k=10, mode="OR").collect()]
        want = [(dd, round(s, 9)) for dd, s in oracle.search(q, 10, "OR")]
        assert got == want, q
    # manifest round-trip: a freshly loaded index applies the same hooks
    idx2 = load_index(spark, d)
    assert idx2.cfg.analyzer == acfg or (
        sorted(idx2.cfg.analyzer.stopwords) == sorted(acfg.stopwords)
        and idx2.cfg.analyzer.stem == acfg.stem)
    got = [(r.doc_id, round(r.score, 9)) for r in
           Q.search(idx2, "rare5 mid2 queries", k=10).collect()]
    want = [(dd, round(s, 9)) for dd, s in
            oracle.search("rare5 mid2 queries", 10, "OR")]
    assert got == want


# ---- query-time synonym expansion (search_synonyms) ------------------


def test_synonyms_equal_typed_expansion(packed_index, oracle_idx):
    """fast->{slow} over 'fast slow' merges to qtf {fast:1, slow:2} ==
    typing 'fast slow slow' (the qtf rule); also a two-group case."""
    a = Q.search_synonyms(packed_index, "hot0 mid1",
                          {"hot0": ["mid1"]}, k=10).collect()
    want = oracle_idx.search("hot0 mid1 mid1", k=10)
    assert [r.doc_id for r in a] == [d for d, _ in want]
    for r, (_, s) in zip(a, want):
        assert abs(r.score - s) <= 1e-9
    b = Q.search_synonyms(packed_index, "hot0 rare3",
                          {"hot0": ["hot1"], "rare3": ["rare4"]},
                          k=10).collect()
    want = oracle_idx.search("hot0 hot1 rare3 rare4", k=10)
    assert [r.doc_id for r in b] == [d for d, _ in want]


def test_synonyms_compose_exclude(packed_index, oracle_idx):
    got = [r.doc_id for r in Q.search_synonyms(
        packed_index, "rare3", {"rare3": ["rare4"]}, k=10,
        exclude="mid1").collect()]
    ranked = oracle_idx.search("rare3 rare4", k=len(oracle_idx.dl))
    drop = {d for d, _ in oracle_idx.postings.get("mid1", ())}
    want = [d for d, _ in ranked if d not in drop][:10]
    assert got == want


def test_synonyms_validation_and_empty(packed_index):
    import pytest as _pt
    with _pt.raises(ValueError, match="single"):
        Q.search_synonyms(packed_index, "hot0", {"hot0": ["two words"]})
    with _pt.raises(ValueError, match="single"):
        Q.search_synonyms(packed_index, "hot0", {"HOT0!": ["hot1"]})
    assert Q.search_synonyms(packed_index, "nosuchterm",
                             {"x1": ["y1"]}, k=5).collect() == []


@pytest.mark.parametrize("pos,neg,f", [
    ("hot0 hot1", "rare3", 0.25),
    ("hot0 w010", "hot1 w020", 0.5),
    ("w005 w006", "w005", 0.1),      # overlap: demote term also scores
    ("hot0", "ghost0", 0.5),         # unknown demote term: no-op
    ("hot0 hot1", "w010", 0.0),      # factor 0: demoted to the bottom
])
def test_boosting_rank_identity(packed_index, oracle_idx, pos, neg, f):
    """ES boosting query: engine vs the pure-Python oracle — identical
    demote semantics AND identical float64 operation order."""
    want = oracle_idx.search_boosting(pos, neg, f, k=10)
    got = [(r.doc_id, r.score) for r in
           Q.search_boosting(packed_index, pos, neg, f, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    assert np.allclose([s for _, s in got], [s for _, s in want],
                       rtol=0, atol=0)  # bit-identical


def test_boosting_composes_and_validates(packed_index, oracle_idx):
    # demote + exclude: exclude drops, demote only reorders
    want_ids = {d for d, _ in oracle_idx.search("hot0", k=10**9)}
    got = Q.search_boosting(packed_index, "hot0", "hot1", 0.2, k=10,
                            exclude="rare3").collect()
    assert all(r.doc_id in want_ids for r in got)
    with pytest.raises(ValueError, match=">= 0"):
        Q.search_boosting(packed_index, "hot0", "hot1", -1.0).collect()
    # demote via the generic search(demote=...) passthrough
    a = [(r.doc_id, r.score) for r in Q.search(
        packed_index, "hot0 hot1", k=10, demote=("rare3", 0.25)).collect()]
    b = [(r.doc_id, r.score) for r in Q.search_boosting(
        packed_index, "hot0 hot1", "rare3", 0.25, k=10).collect()]
    assert a == b


@pytest.mark.parametrize("subs,tie", [
    (["hot0 hot1", "w010 w020"], 0.0),
    (["hot0 hot1", "w010 w020"], 0.3),
    (["hot0", "hot0 w005", "w006"], 1.0),   # overlapping subqueries
    (["ghost0", "hot0"], 0.5),              # one subquery fully unknown
    (["rare3"], 0.7),                       # single subquery == plain OR
])
def test_dis_max_rank_identity(packed_index, oracle_idx, subs, tie):
    """ES dis_max: engine vs the pure-Python oracle — identical combine
    expression (best + tie * (total - best)), bit-identical scores."""
    want = oracle_idx.search_dis_max(subs, tie, k=10)
    got = [(r.doc_id, r.score) for r in
           Q.search_dis_max(packed_index, subs, k=10,
                            tie_breaker=tie).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    assert [s for _, s in got] == [s for _, s in want]  # bit-identical


def test_dis_max_filters_and_validation(packed_index, oracle_idx):
    want = oracle_idx.search_dis_max(["hot0 hot1", "w010"], 0.4, k=10,
                                     exclude="rare3")
    got = [(r.doc_id, r.score) for r in
           Q.search_dis_max(packed_index, ["hot0 hot1", "w010"], k=10,
                            tie_breaker=0.4, exclude="rare3").collect()]
    assert got == want
    assert Q.search_dis_max(packed_index, ["ghost0"], k=5).collect() == []
    with pytest.raises(ValueError, match="at least one"):
        Q.search_dis_max(packed_index, [])
    with pytest.raises(ValueError, match="tie_breaker"):
        Q.search_dis_max(packed_index, ["hot0"], tie_breaker=1.5)
