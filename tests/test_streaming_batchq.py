"""Streaming incremental index (append/compact + foreachBatch), E9 batch
query execution, lineage DF, CLI entry points."""

import json

import pytest
from pyspark.sql import functions as F

from engine.fixtures import QUERY_SET, make_transcripts, spark_transcripts


def test_incremental_equals_batch(spark, tmp_path):
    """3 ordered appends + compact == one batch build (same searches)."""
    from engine import query as Q
    from engine.build import build_index
    from engine.config import DEFAULT
    from engine.streaming import append_batch, compact, create_streaming_index
    pdf = make_transcripts(300)
    n = len(pdf)
    full = spark_transcripts(spark, 300)
    sdir = str(tmp_path / "sidx")
    create_streaming_index(spark, sdir, expected_docs=n)
    # split the corpus into 3 arrival-ordered batches (stable order)
    cuts = [0, n // 3, 2 * n // 3, n]
    schema = full.schema
    for i in range(3):
        chunk = spark.createDataFrame(pdf.iloc[cuts[i]:cuts[i + 1]], schema)
        got = append_batch(spark, chunk, sdir)
        assert got == cuts[i + 1] - cuts[i]
    sidx = compact(spark, sdir)
    bidx = build_index(spark, full, str(tmp_path / "bidx"))
    assert sidx.n_docs == bidx.n_docs == n
    assert abs(sidx.avgdl - bidx.avgdl) < 1e-9
    for q in QUERY_SET[:8]:
        a = [(r.doc_id, round(r.score, 9)) for r in
             Q.search(sidx, q["query"], 10, q["mode"]).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             Q.search(bidx, q["query"], 10, q["mode"]).collect()]
        assert a == b, q["id"]


def test_append_batch_releases_caches(spark, tmp_path):
    """VERDICT r3 #1: append_batch must not leak one persisted dataset per
    micro-batch (assign_doc_ids' internal range-sorted persist). After N
    appends the JVM's persistent-RDD registry must be back to its
    pre-append size — the 24/7 foreachBatch path cannot accumulate
    batch-sized caches."""
    from engine.streaming import append_batch, create_streaming_index
    pdf = make_transcripts(120)
    n = len(pdf)
    full = spark_transcripts(spark, 120)
    sdir = str(tmp_path / "leak")
    create_streaming_index(spark, sdir, expected_docs=n)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    for i in range(4):
        chunk = spark.createDataFrame(pdf.iloc[cuts[i]:cuts[i + 1]],
                                      full.schema)
        append_batch(spark, chunk, sdir)
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after == before, f"cache leak after append {i}: " \
                                f"{after} persistent RDDs vs {before}"


def test_search_warns_between_compacts(spark, tmp_path):
    """VERDICT r3 #7: a search against an index with increments pending
    compaction serves the stale corpus — it must WARN (explicit stale
    read), and stop warning after compact()."""
    import warnings
    from engine import query as Q
    from engine.build import load_index
    from engine.streaming import append_batch, compact, create_streaming_index
    pdf = make_transcripts(100)
    n = len(pdf)
    full = spark_transcripts(spark, 100)
    sdir = str(tmp_path / "stale")
    create_streaming_index(spark, sdir, expected_docs=n)
    h = n // 2
    append_batch(spark, spark.createDataFrame(pdf.iloc[:h], full.schema), sdir)
    compact(spark, sdir)
    # second append NOT yet compacted: the on-disk index is stale
    append_batch(spark, spark.createDataFrame(pdf.iloc[h:], full.schema), sdir)
    idx = load_index(spark, sdir)
    assert idx.completed is False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        Q.search(idx, "hot0", 5)
        assert any("pending compaction" in str(x.message) for x in w)
    idx2 = compact(spark, sdir)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        Q.search(idx2, "hot0", 5).collect()
        assert not any("pending compaction" in str(x.message) for x in w)
    # refresh() revalidates the stale handle's completed flag too
    idx.refresh()
    assert idx.completed is True


def test_refresh_requires_manifest(spark, tmp_path):
    """ADVICE r3: refresh() must refuse a partial refresh (cleared caches
    + stale scalars) when the manifest cannot be loaded."""
    import pytest
    from engine.build import build_index
    idx = build_index(spark, spark_transcripts(spark, 60),
                      str(tmp_path / "rfr"))
    idx.refresh()  # manifest present: fine
    import os
    os.remove(os.path.join(idx.index_dir, "manifest.json"))
    with pytest.raises(FileNotFoundError):
        idx.refresh()


def test_two_compact_cycles(spark, tmp_path):
    """append -> compact -> append -> compact must not re-merge already
    compacted increments (regression: double-counted postings)."""
    from engine import query as Q
    from engine.oracle import OracleIndex
    from engine.streaming import append_batch, compact, create_streaming_index
    pdf = make_transcripts(150)
    n = len(pdf)
    full = spark_transcripts(spark, 150)
    sdir = str(tmp_path / "s2")
    create_streaming_index(spark, sdir, expected_docs=n)
    h = n // 2
    append_batch(spark, spark.createDataFrame(pdf.iloc[:h], full.schema), sdir)
    compact(spark, sdir)
    append_batch(spark, spark.createDataFrame(pdf.iloc[h:], full.schema), sdir)
    idx = compact(spark, sdir)
    oracle = OracleIndex(list(zip(range(n), pdf.text)))
    for query, mode in [("hot0 hot1", "AND"), ("hot0 rare3", "OR")]:
        want = [(d, round(s, 9)) for d, s in oracle.search(query, 5, mode)]
        got = [(r.doc_id, round(r.score, 9))
               for r in Q.search(idx, query, 5, mode).collect()]
        assert got == want, query


def test_foreachbatch_stream(spark, tmp_path):
    """True readStream path: file source + availableNow trigger."""
    from engine import query as Q
    from engine.streaming import compact, create_streaming_index, index_stream
    pdf = make_transcripts(60)
    src = tmp_path / "src"
    full = spark_transcripts(spark, 60)
    full.coalesce(1).write.parquet(str(src))
    sdir = str(tmp_path / "sidx2")
    create_streaming_index(spark, sdir, expected_docs=len(pdf))
    stream = spark.readStream.schema(full.schema).parquet(str(src))
    q = index_stream(stream, sdir, str(tmp_path / "ckpt"),
                     trigger={"availableNow": True}).start()
    q.awaitTermination(120)
    idx = compact(spark, sdir)
    assert idx.n_docs == len(pdf)
    res = Q.search(idx, "hot0", 5).collect()
    assert len(res) == 5


def test_search_batch_matches_single(spark, corpus_df, oracle_idx, tmp_path):
    from engine import query as Q
    from engine.build import build_index
    idx = build_index(spark, corpus_df, str(tmp_path / "bq"))
    # all three routings (forced WAND for OR / exhaustive-only / default
    # cost-gated "auto") must be rank-identical to the oracle — WAND's
    # batch pruning is rank-safe, so routing is purely a cost decision
    for use_wand in (True, False, "auto"):
        out = Q.search_batch(idx, QUERY_SET, k=10, use_wand=use_wand).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.qid, []).append((r.doc_id, round(r.score, 9)))
        for q in QUERY_SET:
            want = [(d, round(s, 9)) for d, s in
                    oracle_idx.search(q["query"], 10, q["mode"])]
            assert by_q.get(q["id"], []) == want, (q["id"], use_wand)


def test_search_batch_exclude_matches_single(spark, corpus_df, tmp_path):
    """A batch query dict's optional "exclude" (NOT terms) must match the
    per-query search(exclude=...) contract exactly, for every routing —
    including a mixed set where other queries still WAND-route."""
    from engine import query as Q
    from engine.build import build_index
    idx = build_index(spark, corpus_df, str(tmp_path / "bqn"))
    qset = [
        {"id": "n1", "query": "hot0 hot1", "mode": "OR", "exclude": "rare3"},
        {"id": "n2", "query": "hot0 hot1", "mode": "AND", "exclude": "hot2"},
        {"id": "n3", "query": "hot0", "mode": "OR"},  # no excludes
        {"id": "n4", "query": "hot0", "mode": "OR", "exclude": "ghostterm"},
    ]
    for use_wand in (True, False, "auto"):
        out = Q.search_batch(idx, qset, k=10, use_wand=use_wand).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.qid, []).append((r.doc_id, round(r.score, 9)))
        for q in qset:
            want = [(r["doc_id"], round(r["score"], 9)) for r in
                    Q.search(idx, q["query"], k=10, mode=q["mode"],
                             exclude=q.get("exclude")).collect()]
            assert by_q.get(q["id"], []) == want, (q["id"], use_wand)
            assert want  # non-degenerate: every query matches something


def test_lineage_df(spark, corpus_df, tmp_path):
    from engine.build import build_index
    from engine.config import IndexConfig
    from engine.manifest import lineage_df
    d = str(tmp_path / "lin")
    build_index(spark, corpus_df, d,
                cfg=IndexConfig(pack_docs_per_slice=None, merge_passes=2))
    ldf = lineage_df(spark, d)
    rows = {r.segment_id: r for r in ldf.collect()}
    assert rows["seg_p2"].src_segments == ["seg_p1"]
    assert all(r.status == "complete" for r in rows.values())
    assert all(r.rows > 0 for r in rows.values())


def test_cli_build_and_search(cli, tmp_path):
    env_dir = str(tmp_path / "cliidx")
    r = cli(["build", "--input", "synthetic", "--convs", "100",
             "--index-dir", env_dir])
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert out["n_docs"] > 0 and out["turns_per_sec"] > 0
    r2 = cli(["search", "--index-dir", env_dir, "--query", "hot0 hot1",
              "--k", "3", "--mode", "AND", "--text"])
    assert r2.returncode == 0, r2.stderr[-2000:]
    lines = [json.loads(l) for l in r2.stdout.splitlines() if l.startswith("{")]
    assert len(lines) == 3 and all("text" in l for l in lines)


def test_windowed_turn_counts_watermark(spark, tmp_path):
    """Watermarked windowed agg: streaming (availableNow, append mode)
    result == batch result over the same data, and late rows beyond the
    watermark are dropped from the stream."""
    from engine.streaming import windowed_turn_counts
    full = spark_transcripts(spark, n_convs=300)
    src = tmp_path / "ev_src"
    full.write.parquet(str(src))
    stream = spark.readStream.schema(full.schema).parquet(str(src))
    out = (windowed_turn_counts(stream)
           .writeStream.format("memory").queryName("wtc")
           .outputMode("append")
           .option("checkpointLocation", str(tmp_path / "ck"))
           .trigger(availableNow=True).start())
    out.awaitTermination(120)
    got = {(r.window_start, r.role): r.n_turns
           for r in spark.sql("select * from wtc").collect()}
    want_df = windowed_turn_counts(spark.read.parquet(str(src))).collect()
    want = {(r.window_start, r.role): r.n_turns for r in want_df}
    # append mode emits only windows closed w.r.t. the final watermark:
    # every emitted window must match batch exactly, and the emitted set
    # must cover all windows ending before (max ts - watermark)
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert want[k] == v, k
    import datetime
    max_ts = max(r.ts for r in full.select("ts").collect())
    horizon = max_ts - datetime.timedelta(minutes=35)  # watermark + window
    closed = {k for k in want if k[0] < horizon}
    assert closed <= set(got)


def test_search_batch_demote_matches_single(spark, corpus_df, tmp_path):
    """A batch entry's optional "demote"/"demote_factor" (boosting
    query) must match search_boosting exactly for every routing —
    including mixed sets where undemoted entries still WAND-route, and
    a demote term that is also a positive term."""
    from engine import query as Q
    from engine.build import build_index
    idx = build_index(spark, corpus_df, str(tmp_path / "bqd"))
    qset = [
        {"id": "d1", "query": "hot0 hot1", "mode": "OR",
         "demote": "rare3", "demote_factor": 0.25},
        {"id": "d2", "query": "hot0 w010", "mode": "AND",
         "demote": "hot1", "demote_factor": 0.0},
        {"id": "d3", "query": "w005 w006", "mode": "OR",
         "demote": "w005", "demote_factor": 0.5},     # overlap
        {"id": "d4", "query": "hot0 hot1", "mode": "OR"},  # undemoted
        {"id": "d5", "query": "hot0", "mode": "OR",
         "demote": "ghostterm"},                      # unknown: no-op
        {"id": "d6", "query": "hot0 hot1", "mode": "OR",
         "demote": "w010", "exclude": "rare3"},       # composes with NOT
    ]
    for use_wand in (True, False, "auto"):
        out = Q.search_batch(idx, qset, k=10, use_wand=use_wand).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.qid, []).append((r.doc_id, r.score))
        for q in qset:
            if "demote" in q:
                want = [(r["doc_id"], r["score"]) for r in
                        Q.search_boosting(
                            idx, q["query"], q["demote"],
                            q.get("demote_factor", 0.5), k=10,
                            mode=q["mode"],
                            exclude=q.get("exclude")).collect()]
            else:
                want = [(r["doc_id"], r["score"]) for r in
                        Q.search(idx, q["query"], k=10,
                                 mode=q["mode"]).collect()]
            assert by_q.get(q["id"], []) == want, (q["id"], use_wand)
    import pytest as _pt
    with _pt.raises(ValueError, match="PHRASE entries"):
        Q.search_batch(idx, [{"id": "p", "query": "hot0 hot1",
                              "mode": "PHRASE", "demote": "w010"}], k=5)


def test_search_batch_dis_max_matches_single(spark, corpus_df, tmp_path):
    """A batch DIS_MAX entry must match search_dis_max bit-exactly for
    every routing, in a mixed set where other entries still WAND-route."""
    from engine import query as Q
    from engine.build import build_index
    idx = build_index(spark, corpus_df, str(tmp_path / "bqdm"))
    qset = [
        {"id": "x1", "mode": "DIS_MAX",
         "queries": ["hot0 hot1", "w010 w020"], "tie_breaker": 0.3},
        {"id": "x2", "mode": "DIS_MAX",
         "queries": ["hot0", "hot0 w005", "ghost0"], "tie_breaker": 1.0,
         "exclude": "rare3"},
        {"id": "x3", "query": "hot0 hot1", "mode": "OR"},  # plain entry
    ]
    for use_wand in (True, False, "auto"):
        out = Q.search_batch(idx, qset, k=10, use_wand=use_wand).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.qid, []).append((r.doc_id, r.score))
        for q in qset:
            if q["mode"] == "DIS_MAX":
                want = [(r["doc_id"], r["score"]) for r in
                        Q.search_dis_max(idx, q["queries"], k=10,
                                         tie_breaker=q["tie_breaker"],
                                         exclude=q.get("exclude"))
                        .collect()]
            else:
                want = [(r["doc_id"], r["score"]) for r in
                        Q.search(idx, q["query"], k=10,
                                 mode=q["mode"]).collect()]
            assert by_q.get(q["id"], []) == want, (q["id"], use_wand)
    import pytest as _pt
    with _pt.raises(ValueError, match="composes with exclude only"):
        Q.search_batch(idx, [{"id": "x", "mode": "DIS_MAX",
                              "queries": ["hot0"], "min_match": 2}], k=5)
    with _pt.raises(ValueError, match="tie_breaker"):
        Q.search_batch(idx, [{"id": "x", "mode": "DIS_MAX",
                              "queries": ["hot0"], "tie_breaker": 2}], k=5)


def test_search_batch_per_entry_dv_filter(spark, corpus_df, tmp_path):
    """Per-entry "dv_filter" (the multi-tenant batch pattern) must match
    the single-query search(dv_filter=) contract for every routing, in
    mixed sets with unfiltered / globally-filtered / phrase entries."""
    from engine import query as Q
    from engine.build import build_index
    from engine.config import IndexConfig
    idx = build_index(spark, corpus_df, str(tmp_path / "bqdv"),
                      cfg=IndexConfig(index_positions=True,
                                      doc_values=("role",)))
    qset = [
        {"id": "v1", "query": "hot0 hot1", "mode": "OR",
         "dv_filter": "role = 'user'"},
        {"id": "v2", "query": "hot0 w010", "mode": "AND",
         "dv_filter": "role <> 'tool'"},
        {"id": "v3", "query": "hot0 hot1", "mode": "OR"},  # unfiltered
        {"id": "v4", "query": "hot0 hot1", "mode": "PHRASE",
         "dv_filter": "role = 'user'"},
        {"id": "v5", "query": "hot0", "mode": "OR",
         "dv_filter": "role = 'user'", "exclude": "rare3"},
        {"id": "v6", "mode": "DIS_MAX", "queries": ["hot0", "w010"],
         "tie_breaker": 0.4, "dv_filter": "role = 'user'"},
    ]
    for use_wand in (True, False, "auto"):
        out = Q.search_batch(idx, qset, k=10, use_wand=use_wand).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.qid, []).append((r.doc_id, r.score))
        for q in qset:
            if q["mode"] == "PHRASE":
                want = [(r["doc_id"], float(r["n_phrase"])) for r in
                        Q.search_phrase(idx, q["query"], k=10,
                                        doc_filter=q["dv_filter"])
                        .collect()]
            elif q["mode"] == "DIS_MAX":
                want = [(r["doc_id"], r["score"]) for r in
                        Q.search_dis_max(idx, q["queries"], k=10,
                                         tie_breaker=q["tie_breaker"],
                                         dv_filter=q["dv_filter"])
                        .collect()]
            else:
                want = [(r["doc_id"], r["score"]) for r in
                        Q.search(idx, q["query"], k=10, mode=q["mode"],
                                 dv_filter=q.get("dv_filter"),
                                 exclude=q.get("exclude")).collect()]
            assert by_q.get(q["id"], []) == want, (q["id"], use_wand)
    # the per-entry predicate must name a docvalue index
    plain = build_index(spark, corpus_df, str(tmp_path / "bqdv2"))
    import pytest as _pt
    with _pt.raises(ValueError, match="docvalue"):
        Q.search_batch(plain, [{"id": "x", "query": "hot0", "mode": "OR",
                                "dv_filter": "role = 'user'"}], k=5)


def test_batch_per_entry_k(spark, corpus_df, tmp_path_factory):
    """ES _msearch per-entry size: each entry cut at its OWN k (top-k
    prefix identity vs the single-query path), default k for the rest."""
    from engine import query as Q
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("bk") / "i")
    idx = build_index(spark, corpus_df, d)
    qset = [{"id": "small", "query": "hot0 mid1", "mode": "OR", "k": 3},
            {"id": "big", "query": "hot0 mid1", "mode": "OR", "k": 15},
            {"id": "dflt", "query": "hot0 hot1", "mode": "AND"}]
    got = {}
    for r in Q.search_batch(idx, qset, k=10).collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.score))
    for qid, kk in (("small", 3), ("big", 15), ("dflt", 10)):
        q = next(x for x in qset if x["id"] == qid)
        want = [(r.doc_id, r.score) for r in
                Q.search(idx, q["query"], k=kk, mode=q["mode"]).collect()]
        assert got.get(qid, []) == want, qid
        assert len(got.get(qid, [])) == kk
    import pytest as _pt
    with _pt.raises(ValueError, match="must be >= 1"):
        Q.search_batch(idx, [{"id": "z", "query": "hot0", "mode": "OR",
                              "k": 0}])
