"""Benchmark harness (driver contract + BASELINE.md protocol).

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Two workloads:
1. **Driver tables** (``$SPARK_GRAFT_SF_DIR``, default /root/testdata/sf0.1):
   headline engine queries over the ``documents`` corpus — full packed-index
   build + BM25/WAND searches + the training-data ops.
2. **Transcript corpus** (FIXTURES.md, deterministic seed=42): index build
   throughput (turns/sec) + frozen-query-set latency p50 — the
   BASELINE.json metrics. Size via $SPARK_GRAFT_BENCH_CONVS (default
   100000 convs ~ 650k turns — large enough that steady-state work, not
   fixed per-job overhead, dominates). A 1/8-size warmup build runs first
   (JIT/worker spin-up excluded from the timed build).

Measurement protocol (r3): every headline row is **best-of-2** — the
first full-size build after warmup still pays residual JVM JIT +
python-worker spin-up (measured 18-31 s cold vs 5.5-7.4 s steady on the
same corpus/code), and single-shot query rows absorb box jitter. The
metric of record is steady-state (a real cluster job runs
minutes-hours); the cold first build is reported as
``index_build_cold``, not hidden.

Scaling protocol (N vs 4N): bench/run_scaling.py runs this script at
SPARK_GRAFT_SCALE_LEVELS (default 1,4 — see BENCH/BASELINE.md for the
single-box contention rationale) and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from engine.quiet import wait_quiet_busy  # noqa: E402


def tdur(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t0, out


# Per-row ambient-load readings (VERDICT r4 #1: BENCH_r04's build rows
# were 2.4x contention-inflated because the wait-for-quiet guard lived
# only in bench/run_scaling.py). Every BUILD row now starts behind
# engine/quiet.py's instantaneous-busy guard, and the reading it
# actually started under ships in the artifact so a contaminated
# capture is self-evident instead of indistinguishable from a
# regression.
AMBIENT: dict[str, list] = {}


def guard(name: str) -> None:
    """Wait-for-quiet before a timed build row; record the ambient
    reading (1-min loadavg + instantaneous co-tenant busy fraction +
    seconds waited) under the row's name."""
    AMBIENT.setdefault(name, []).append(wait_quiet_busy())


def tbuild(name: str, mk, n: int = 2):
    """Guarded best-of-n for BUILD rows: ``mk(i)`` returns the zero-arg
    thunk for attempt ``i`` (attempts build into DISTINCT dirs — resume
    short-circuits a same-dir rebuild); each attempt starts behind the
    quiet guard, min wins (interference only ever slows a run). Returns
    (best seconds, last attempt's index handle): read the directory an
    attempt used from the handle's ``index_dir``, never by guessing the
    attempt number."""
    best, out = None, None
    for i in range(max(1, n)):
        guard(name)
        dt, out = tdur(mk(i))
        best = dt if best is None else min(best, dt)
    return best, out


def tbest(fn, n: int = 2):
    """Best-of-n wall time for a thunk (steady-state protocol): runs
    ``fn`` n times, returns (min seconds, last result)."""
    best, out = None, None
    for _ in range(max(1, n)):
        dt, out = tdur(fn)
        best = dt if best is None else min(best, dt)
    return best, out


def _delta_vs_prev_round(queries: dict) -> dict:
    """Round-over-round comparability (VERDICT r1 #8): per-query delta vs
    the newest BENCH_r{N}.json the driver recorded, as extra JSON keys
    (the driver only requires metric/value/unit/queries/sf)."""
    import glob
    import re
    repo = os.path.dirname(os.path.abspath(__file__))
    prevs = sorted(glob.glob(os.path.join(repo, "BENCH_r*.json")),
                   key=lambda p: int(re.search(r"r(\d+)",
                                               os.path.basename(p)).group(1)))
    # newest round whose artifact actually parsed (r3's was truncated ->
    # "parsed": null; fall back past it rather than reporting no delta)
    for p in reversed(prevs):
        try:
            with open(p) as f:
                prev = (json.load(f).get("parsed") or {}).get("queries")
        except Exception:
            continue
        if prev:
            delta = {k: round(v - prev[k], 4) for k, v in queries.items()
                     if k in prev and isinstance(prev[k], (int, float))}
            return {"delta_vs": os.path.basename(p), "delta": delta}
    return {}


def main():
    # Measure FIRST-run query cost: the engine's prepared-plan cache
    # returns the same DataFrame for identical args, and Spark then
    # skips completed shuffle map stages on re-collect — a repeated
    # identical query collapses to its final stage (batch set measured
    # 0.067 s vs 0.78 s fresh). Legit for production repeats, but it
    # would contaminate every best-of-N row here, so the bench bypasses
    # the cache globally and reports the cached-repeat fast path as its
    # own clearly-labeled rows (repeat_*_cached).
    os.environ["SPARK_GRAFT_PLAN_CACHE"] = "0"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "100000"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from engine.session import get_spark
    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, int(cpus)))
    import __spark_entry__ as entry
    from engine import query as Q
    from engine.build import build_index
    from engine.fixtures import QUERY_SET, spark_transcripts

    queries: dict[str, float] = {}
    work = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        # ---- workload 1: driver-table queries (documents corpus) ----
        # Index/layout builds are separate pipeline stages — timed as
        # their own rows so the per-query rows measure WARM query cost
        # and stay comparable round-over-round (VERDICT r1: bm25_or was
        # 13.4 s of which ~11 s was cache priming).
        # SPARK_GRAFT_SKIP_DOCS=1 (scaling runs) skips this workload —
        # the scaling metric is transcript build throughput only.
        if not os.environ.get("SPARK_GRAFT_SKIP_DOCS"):
            qs = entry.queries()
            # single attempt (the entry-module builds memoize per
            # session, so a second call would time the cache hit), but
            # guarded like every build row
            guard("docs_index_build")
            dt, _ = tdur(entry._packed_index, spark, sf_dir)
            queries["docs_index_build"] = round(dt, 4)
            guard("ann_layout_build")
            dt, _ = tdur(entry._ann_layout, spark, sf_dir, "lsh")
            dt2, _ = tdur(entry._ann_layout, spark, sf_dir, "ivf")
            queries["ann_layout_build"] = round(dt + dt2, 4)
            for name in ["term_stats", "bm25_or", "bm25_and", "bm25_not",
                         "intersect_and", "dedup_exact", "quality_score",
                         "ann_cosine", "ann_lsh", "ann_ivf", "events_hourly",
                         "user_sessions"]:
                dt, _ = tbest(lambda: qs[name](spark, sf_dir).collect())
                queries[name] = round(dt, 4)

        # ---- workload 2: transcript corpus build + query set ----
        corpus = spark_transcripts(spark, n_convs=n_convs,
                                   n_parts=max(8, int(cpus)))
        corpus = corpus.persist()
        n_turns = corpus.count()
        # warmup build on a 1/8-size corpus: JVM JIT + python-worker spin-up
        # are one-time per-process costs; the metric is steady-state
        # throughput (a real cluster job runs minutes-hours, not seconds)
        warm = spark_transcripts(spark, n_convs=max(1000, n_convs // 8),
                                 n_parts=max(8, int(cpus))).persist()
        warm.count()
        build_index(spark, warm, f"{work}/warmup")
        warm.unpersist()
        # two full-size builds into SEPARATE dirs (resume would
        # short-circuit a rebuild of the same dir); min = steady state,
        # first = cold (reported, excluded from the headline total);
        # both attempts start behind the quiet guard (VERDICT r4 #1)
        guard("index_build")
        t_cold_b, _ = tdur(build_index, spark, corpus, f"{work}/warm2")
        guard("index_build")
        t_build, idx = tdur(build_index, spark, corpus, f"{work}/transcripts")
        queries["index_build_cold"] = round(t_cold_b, 4)
        t_build = min(t_build, t_cold_b)
        queries["index_build"] = round(t_build, 4)
        queries["build_turns_per_sec"] = round(n_turns / t_build, 1)

        # same corpus built with runs sized to FORCE >=2 external-merge
        # passes, so D5's PASS-COUNT scaling (the log-factor cost) is
        # evidenced with per-pass walls, not just a single pass (VERDICT
        # r2 #7); kept separate so index_build stays comparable across
        # rounds. Skipped in scaling runs (the scaling metric is the
        # standard build).
        if not os.environ.get("SPARK_GRAFT_SKIP_DOCS"):
            from engine.config import IndexConfig
            from engine.manifest import Manifest
            t_merged, midx = tbuild(
                "index_build_merged",
                lambda i: lambda: build_index(
                    spark, corpus, f"{work}/merged{i}",
                    IndexConfig(pack_docs_per_slice=4096)))
            man = Manifest.load(midx.index_dir)
            queries["index_build_merged"] = round(t_merged, 4)
            queries["merge_passes"] = man.n_passes
            queries["merged_turns_per_sec"] = round(n_turns / t_merged, 1)
            merge_walls = {k: round(v, 4) for k, v
                           in man.metrics.get("stage_wall_s", {}).items()
                           if k == "pack" or k.startswith("merge_pass")}

        # positions layout + phrase query (r3 feature) — separate index
        # build (the positions stream is an opt-in layout), rows excluded
        # from the headline total for round-over-round comparability
        if not os.environ.get("SPARK_GRAFT_SKIP_DOCS"):
            from engine.config import IndexConfig as _IC
            t_pos, pidx = tbuild(
                "positions_index_build",
                lambda i: lambda: build_index(
                    spark, corpus, f"{work}/pos{i}",
                    _IC(index_positions=True)))
            queries["positions_index_build"] = round(t_pos, 4)
            Q.search_phrase(pidx, "hot0 hot1", k=10).collect()  # warm
            dt, _ = tbest(lambda: Q.search_phrase(
                pidx, "hot0 hot1", k=10).collect())
            queries["phrase_2term"] = round(dt, 4)
            dt, _ = tbest(lambda: Q.search_phrase(
                pidx, "w001 w002 w003", k=10).collect())
            queries["phrase_3term"] = round(dt, 4)
            dt, _ = tbest(lambda: Q.search_phrase(
                pidx, "hot0 hot1", k=10, slop=3).collect())
            queries["phrase_sloppy"] = round(dt, 4)

        # r4: Block-Max WAND at its design geometry (VERDICT r3 next #4):
        # ONE big scoring shard (n_slices=1), fine 32-posting blocks, and
        # the WAND-regime corpus (fixtures.make_wand_corpus — selective
        # seed term + concentrated high-impact docs). The SAME query runs
        # auto-routed (WAND — wand_routes() asserted) and forced
        # exhaustive, rank identity asserted; *_kernel_ms isolate the
        # per-task scorer cost on the exact shard payload — the number
        # that matters at cluster scale, where the pruned scan
        # parallelizes across executors but the scorer kernel is the
        # per-shard-task critical path. Rows excluded from the headline
        # total (new workload).
        if not os.environ.get("SPARK_GRAFT_SKIP_DOCS"):
            from pyspark.sql import functions as _F
            from engine.config import IndexConfig as _ICW
            from engine.fixtures import spark_wand_corpus, wand_query
            from engine.query import _score_shard_batch, wand_routes
            from engine.wand import score_shard_wand
            # geometry: 1.3M docs x 10 hot terms -> ~7.2M-posting shard,
            # exhaustive kernel ~0.5 s vs WAND ~0.05 s — the end-to-end
            # gap (~0.45 s) must dominate this box's ±0.15 s co-tenant
            # noise band, or the row pair flips sign run-to-run (r4: at
            # 650k/6-hot the 0.12 s kernel gap was inside the noise)
            n_w = int(os.environ.get("SPARK_GRAFT_WAND_DOCS", "1300000"))
            n_hot = int(os.environ.get("SPARK_GRAFT_WAND_HOT", "10"))
            wcorp = spark_wand_corpus(spark, n_w, n_hot=n_hot,
                                      n_parts=max(8, int(cpus))).persist()
            wcorp.count()
            t_wb, widx = tbuild(
                "wand_corpus_build",
                lambda i: lambda: build_index(
                    spark, wcorp, f"{work}/wand{i}",
                    _ICW(n_slices=1, block_size=32)))
            wcorp.unpersist()
            queries["wand_corpus_build"] = round(t_wb, 4)
            wq = wand_query(n_hot)
            assert wand_routes(widx, wq), "cost gate must route WAND here"
            Q.search(widx, wq, k=10).collect()  # warm
            t_w, r_w = tbest(lambda: Q.search(
                widx, wq, 10, "OR", use_wand="auto").collect(), 3)
            t_e, r_e = tbest(lambda: Q.search(
                widx, wq, 10, "OR", use_wand=False).collect(), 3)
            assert ([(r.doc_id, round(r.score, 9)) for r in r_w]
                    == [(r.doc_id, round(r.score, 9)) for r in r_e]), \
                "WAND/exhaustive rank identity"
            queries["wand_big_shard"] = round(t_w, 4)
            queries["exhaustive_big_shard"] = round(t_e, 4)
            queries["wand_speedup"] = round(t_e / t_w, 3)
            # kernel isolation: the exact (term, shard) payload a scorer
            # task receives, scored in-process (no scan/job overhead)
            wqt = Q.query_terms(wq)
            wlex = widx.lookup_terms(sorted(wqt))
            wqtfs = {t: float(n) for t, n in wqt.items()}
            widfs = {t: float(wlex[t]["idf"]) for t in wlex}
            wbuckets = sorted({wlex[t]["bucket"] for t in wlex})
            wpost = (widx.postings()
                     .filter(_F.col("bucket").isin(wbuckets)
                             & _F.col("term").isin(sorted(wqt)))
                     .select("term", "shard", "df", "doc_ids", "tfs",
                             "dls", "blocks", "max_tf").toPandas())
            wcfg = {"k1": widx.cfg.bm25.k1, "b": widx.cfg.bm25.b,
                    "avgdl": widx.avgdl}
            t_kw, _ = tbest(lambda: score_shard_wand(
                wpost, wqtfs, widfs, wcfg, 10, widx.shard_width), 3)
            t_ke, _ = tbest(lambda: _score_shard_batch(
                wpost, {"": wqtfs}, {"": "OR"}, widfs, wcfg, 10,
                widx.shard_width, False), 3)
            queries["wand_kernel_ms"] = round(t_kw * 1000, 2)
            queries["exhaustive_kernel_ms"] = round(t_ke * 1000, 2)
            queries["wand_kernel_speedup"] = round(t_ke / t_kw, 2)

        # r3 features: filtered search (doc_filter cogroup path — masks
        # via the allowed-doc shuffle) and snippet materialization; warm
        # timing, excluded from the headline total like the phrase rows
        Q.search(idx, "hot0 hot1", k=10,
                 doc_filter="role = 'user'").collect()  # warm
        dt, _ = tbest(lambda: Q.search(
            idx, "hot0 hot1", k=10, doc_filter="role = 'user'").collect())
        queries["search_filtered"] = round(dt, 4)
        # fresh search DF per repeat: reusing one _top object across
        # repeats would let Spark skip the search's shuffle stage on
        # re-collect (same-RDD map-output reuse) and undercount
        dt, _ = tbest(lambda: Q.materialize_snippets(
            idx, Q.search(idx, "hot0 hot1", k=10),
            "hot0 hot1", window=3).collect())
        # r5: renamed from "search_snippets" (VERDICT r4 nit: the row
        # re-executes the underlying search when the top-k collects,
        # so it can never drop below a search row and the old name
        # misled round-over-round comparison)
        queries["search_plus_snippets"] = round(dt, 4)
        # r4 feature: faceted search — FULL match-set facet counts for
        # two dimensions in ONE GROUPING SETS pass (warm, excluded from
        # the headline total like the other feature rows)
        Q.facets(idx, "hot0 hot1", ["role", "tool"]).collect()  # warm
        dt, _ = tbest(lambda: Q.facets(
            idx, "hot0 hot1", ["role", "tool"]).collect())
        queries["search_facets"] = round(dt, 4)
        # r4 feature: wildcard prefix search — memoized lexicon-range
        # expansion (w1* -> up to 64 terms) + the standard OR scorer;
        # the FIRST call pays the expansion job, so time it separately
        idx.refresh()  # drop memos: measure a cold expansion honestly
        t0 = time.perf_counter()
        Q.search_prefix(idx, "w1*", k=10).collect()
        queries["search_prefix_cold"] = round(time.perf_counter() - t0, 4)
        dt, _ = tbest(lambda: Q.search_prefix(idx, "w1*", k=10).collect())
        queries["search_prefix"] = round(dt, 4)
        # regexp term query: literal prefix 'w1' pushed into the lexicon
        # scan, class evaluated on the slice, OR scoring on the expansion
        dt, _ = tbest(lambda: Q.search_regexp(
            idx, "w1[0-9]{2}", k=10).collect())
        queries["search_regexp"] = round(dt, 4)
        _top = Q.search(idx, "hot0 hot1", k=10)
        # E8 in isolation (r4): search_plus_snippets above re-executes the
        # underlying SEARCH job when the top-k is collected driver-side,
        # so it can never drop below a search row. Pin the top-k as a
        # literal-form relation (Q.pin_topk — jobless collect, no
        # ExistingRDD Python round trip) and time only the pruned corpus
        # read + snippet expression — the path VERDICT r3 #2 pruned to
        # stored-column predicates.
        _topl = Q.pin_topk(idx, _top)
        dt, _ = tbest(lambda: Q.materialize_snippets(
            idx, _topl, "hot0 hot1", window=3).collect())
        queries["snippet_materialize_only"] = round(dt, 4)

        # r4 feature: docvalue store — dv_filter / recency boost /
        # sort-by-field served from the scorer task's own per-shard
        # column slice (engine/docvalues.py). Separate build (the store
        # is an opt-in layout, like positions); search_dv_filtered runs
        # the SAME query+predicate as search_filtered above, so the pair
        # measures in-task mask vs corpus-scan+cogroup directly. Rows
        # excluded from the headline total (new workload).
        if not os.environ.get("SPARK_GRAFT_SKIP_DOCS"):
            from engine.config import IndexConfig as _ICdv
            t_dv, dvx = tbuild(
                "dv_index_build",
                lambda i: lambda: build_index(
                    spark, corpus, f"{work}/dv{i}",
                    _ICdv(doc_values=("role", "ts"))))
            queries["dv_index_build"] = round(t_dv, 4)
            Q.search(dvx, "hot0 hot1", k=10,
                     dv_filter="role = 'user'").collect()  # warm
            dt, _ = tbest(lambda: Q.search(
                dvx, "hot0 hot1", k=10,
                dv_filter="role = 'user'").collect())
            queries["search_dv_filtered"] = round(dt, 4)
            dt, _ = tbest(lambda: Q.search(
                dvx, "hot0 hot1", k=10,
                boost={"field": "ts", "half_life_days": 7.0,
                       "now": "2026-02-01T00:00:00"}).collect())
            queries["search_boosted"] = round(dt, 4)
            dt, _ = tbest(lambda: Q.search_sorted(
                dvx, "hot0 hot1", "ts", k=10, mode="AND").collect())
            queries["search_sorted_recent"] = round(dt, 4)
            dt, _ = tbest(lambda: Q.search_collapsed(
                dvx, "hot0 hot1", "role", k=10).collect())
            queries["search_collapsed"] = round(dt, 4)
            dt, _ = tbest(lambda: Q.search_batch(
                dvx, QUERY_SET, k=10, dv_filter="role = 'user'").collect())
            queries["batch_dv_filtered"] = round(dt, 4)

            # late-r4 docvalue-backed aggregations and group retrieval
            # (engine/matchops.py) — all on the shared pruned-scan arity
            # kernel, reducing per shard over the task's own cached
            # docvalue slice. Excluded from the headline total.
            from engine.matchops import (match_ranges, facet_stats,
                                         match_histogram_pipeline,
                                         search_groups)
            _edges = [1769904000, 1780272000]  # 2026-02-01 / 2026-06-01
            match_ranges(dvx, "hot0 hot1", "ts", _edges).collect()  # warm
            dt, _ = tbest(lambda: match_ranges(
                dvx, "hot0 hot1", "ts", _edges).collect())
            queries["match_ranges"] = round(dt, 4)
            dt, _ = tbest(lambda: facet_stats(
                dvx, "hot0 hot1", "role", "ts").collect())
            queries["facet_stats"] = round(dt, 4)
            dt, _ = tbest(lambda: match_histogram_pipeline(
                dvx, "hot0 hot1", "ts", 7 * 86400).collect())
            queries["histogram_pipeline"] = round(dt, 4)
            dt, _ = tbest(lambda: search_groups(
                dvx, "hot0 hot1", "role", k=10,
                score_mode="sum").collect())
            queries["search_groups"] = round(dt, 4)
            dt, _ = tbest(lambda: Q.search_top_hits(
                dvx, "hot0 hot1", "role", k=3,
                hits_per_group=3).collect())
            queries["search_top_hits"] = round(dt, 4)

            # late-r4 agg rows: match-all stats (NO positive postings
            # scan — the dense-offset kernel), exact MAD (one shared
            # value-histogram job)
            from engine.matchops import match_mad, match_stats
            match_stats(dvx, "*", "ts").collect()
            dt, _ = tbest(lambda: match_stats(dvx, "*", "ts").collect())
            queries["match_all_stats"] = round(dt, 4)
            # MAD folds driver-side at plan time (LocalRelation result),
            # so evict its plan-cache entry per run to time the real job
            from engine.query import _plan_cache

            def _mad_once():
                pc = _plan_cache(dvx)
                for k_ in [k_ for k_ in pc
                           if isinstance(k_, tuple) and k_
                           and k_[0] == "mmad"]:
                    pc.pop(k_, None)
                match_mad(dvx, "hot0 hot1", "ts").collect()

            _mad_once()
            dt, _ = tbest(_mad_once)
            queries["match_mad"] = round(dt, 4)

            # r4 feature: delete lifecycle (engine/deletes.py) on the dv
            # index (nothing later reuses it): tombstone ~1/3 of the
            # corpus (role='tool'), search with the per-shard tombstone
            # mask live, then the physical purge (one no-shuffle segment
            # rewrite + lexicon/stats rebuild) and the post-purge search.
            # Rows excluded from the headline total (new workload).
            from engine.deletes import delete_docs, purge_deletes
            guard("delete_mark")
            t_mark, _ = tdur(delete_docs, dvx, "role = 'tool'")
            queries["delete_mark"] = round(t_mark, 4)
            Q.search(dvx, "hot0 hot1", k=10).collect()  # warm tomb cache
            dt, _ = tbest(lambda: Q.search(
                dvx, "hot0 hot1", k=10).collect())
            queries["search_deleted"] = round(dt, 4)
            guard("purge_wall")
            t_purge, pvx = tdur(purge_deletes, dvx)
            queries["purge_wall"] = round(t_purge, 4)
            Q.search(pvx, "hot0 hot1", k=10).collect()  # warm
            dt, _ = tbest(lambda: Q.search(
                pvx, "hot0 hot1", k=10).collect())
            queries["search_purged"] = round(dt, 4)

            # r5: multi-field index (extra_fields=role term space) +
            # multi_match best_fields — one scan, per-field BM25,
            # dis_max-shaped combine. Excluded from the headline total.
            from engine.config import IndexConfig as _ICmf
            t_mf, mfx = tbuild(
                "mf_index_build",
                lambda i: lambda: build_index(
                    spark, corpus, f"{work}/mf{i}",
                    _ICmf(extra_fields=("role",))))
            queries["mf_index_build"] = round(t_mf, 4)
            Q.search_multi_match(mfx, "hot0 user",
                                 fields={"text": 1.0, "role": 2.0},
                                 k=10, tie_breaker=0.3).collect()  # warm
            dt, _ = tbest(lambda: Q.search_multi_match(
                mfx, "hot0 user", fields={"text": 1.0, "role": 2.0},
                k=10, tie_breaker=0.3).collect())
            queries["search_multi_match"] = round(dt, 4)

            # federated search (engine/multi.py): ONE ranking with exact
            # global stats across two compatible members (the main index
            # + the purged dv index — different corpora is fine for a
            # latency row: stats fuse driver-side, each member runs its
            # own pruned-scan job). Excluded from the headline total.
            from engine.multi import search_multi
            search_multi([idx, pvx], "hot0 hot1", k=10).collect()  # warm
            dt, _ = tbest(lambda: search_multi(
                [idx, pvx], "hot0 hot1", k=10).collect())
            queries["search_multi"] = round(dt, 4)

        # r4 feature: match-set operators (engine/matchops.py) — exact
        # count (one int64 per shard task; no dls/WAND columns read) and
        # more-like-this (driver-side frozen tf*idf expansion + the
        # standard OR scoring job). Excluded from the headline total.
        from engine.matchops import match_count, more_like_this
        match_count(idx, "hot0 hot1").collect()  # warm
        dt, _ = tbest(lambda: match_count(idx, "hot0 hot1").collect())
        queries["match_count"] = round(dt, 4)
        dt, _ = tbest(lambda: more_like_this(idx, 12345, k=10).collect())
        queries["more_like_this"] = round(dt, 4)
        # significant terms (JLH): one search job + one <= sample-row
        # pruned corpus read + driver arithmetic
        from engine.matchops import significant_terms
        significant_terms(idx, "hot0 hot1", n=10, sample=100).collect()
        dt, _ = tbest(lambda: significant_terms(
            idx, "hot0 hot1", n=10, sample=100).collect())
        queries["significant_terms"] = round(dt, 4)
        # match-set export: kernel ids + column-pruned corpus join +
        # distributed parquet write (the write dominates, as it should)
        from engine.matchops import export_matches
        t0 = time.perf_counter()
        xdf = export_matches(idx, "rare3 rare4", f"{work}/export",
                             columns=("conv_id", "ts"))
        n_exported = xdf.count()
        queries["export_matches"] = round(time.perf_counter() - t0, 4)
        queries["export_n_docs"] = n_exported
        if not os.environ.get("SPARK_GRAFT_SKIP_DOCS"):
            # daily histogram from the dv index's ts docvalue store
            from engine.matchops import match_histogram
            match_histogram(dvx, "hot0 hot1", "ts", 86400).collect()
            dt, _ = tbest(lambda: match_histogram(
                dvx, "hot0 hot1", "ts", 86400).collect())
            queries["match_histogram"] = round(dt, 4)
            # exact distinct-count over the match set (per-shard unique
            # map-side combine; engine/matchops.py)
            from engine.matchops import match_cardinality
            match_cardinality(dvx, "hot0 hot1", "role").collect()
            dt, _ = tbest(lambda: match_cardinality(
                dvx, "hot0 hot1", "role").collect())
            queries["match_cardinality"] = round(dt, 4)

        # r4 feature: per-doc score explain (one-shard pruned scan;
        # engine/query.py explain_score). Excluded from the headline.
        Q.explain_score(idx, "hot0 hot1 mid1", 12345).collect()  # warm
        dt, _ = tbest(lambda: Q.explain_score(
            idx, "hot0 hot1 mid1", 12345).collect())
        queries["explain_score"] = round(dt, 4)

        # r4 feature: fuzzy search (engine/fuzzy.py). enable_fuzzy
        # retrofits the deletion-neighborhood onto the existing index
        # (ONE vocab-scaled job — the cheap adoption path); the cold row
        # pays the pruned variant-table lookup, the warm row is the
        # standard OR scoring job on the memoized expansion. Excluded
        # from the headline total (new workload).
        from engine.fuzzy import enable_fuzzy
        guard("fuzzy_enable")
        t_fz, _ = tdur(enable_fuzzy, idx, 1)
        queries["fuzzy_enable"] = round(t_fz, 4)
        t0 = time.perf_counter()
        Q.search_fuzzy(idx, "rar3", k=10, max_edits=1).collect()
        queries["search_fuzzy_cold"] = round(time.perf_counter() - t0, 4)
        dt, _ = tbest(lambda: Q.search_fuzzy(
            idx, "rar3", k=10, max_edits=1).collect())
        queries["search_fuzzy"] = round(dt, 4)
        # did-you-mean over a 3-token query (cold: pays the pruned
        # neighborhood scans; warm: memoized -> driver-only)
        from engine.fuzzy import suggest_terms
        idx.refresh()
        t0 = time.perf_counter()
        suggest_terms(idx, "rar3 hot0 wrd7", max_edits=1, n=3).collect()
        queries["suggest_cold"] = round(time.perf_counter() - t0, 4)
        dt, _ = tbest(lambda: suggest_terms(
            idx, "rar3 hot0 wrd7", max_edits=1, n=3).collect())
        queries["suggest_terms"] = round(dt, 4)

        # late-r4 query-surface rows: bool query, minimum_should_match,
        # RRF fusion (two retrievers = two one-job plans + driver-side
        # fuse), rescore (primary job + windowed secondary job with a
        # literal allowed side), per-doc term vectors (pruned one-row
        # corpus read + memoized lexicon — near-jobless when warm).
        # Excluded from the headline total (new workloads).
        Q.search_bool(idx, "hot0", "w050 w100", k=10).collect()  # warm
        dt, _ = tbest(lambda: Q.search_bool(
            idx, "hot0", "w050 w100", k=10).collect())
        queries["search_bool"] = round(dt, 4)
        dt, _ = tbest(lambda: Q.search(
            idx, "hot0 w050 w100", k=10, min_match=2).collect())
        queries["search_msm"] = round(dt, 4)
        from engine.fusion import search_rrf
        search_rrf(idx, [{"query": "hot0 hot1"},
                         {"query": "w050 w100"}], k=10).collect()  # warm
        dt, _ = tbest(lambda: search_rrf(
            idx, [{"query": "hot0 hot1"},
                  {"query": "w050 w100"}], k=10).collect())
        queries["search_rrf"] = round(dt, 4)
        from engine.rescore import search_rescore
        search_rescore(idx, "hot0 hot1", "w050 w100", k=10).collect()
        dt, _ = tbest(lambda: search_rescore(
            idx, "hot0 hot1", "w050 w100", k=10).collect())
        queries["search_rescore"] = round(dt, 4)
        Q.term_vectors(idx, 12345).collect()  # warm the corpus-row memo
        dt, _ = tbest(lambda: Q.term_vectors(idx, 12345).collect())
        queries["term_vectors"] = round(dt, 4)

        # latest-r4 query surface: dis_max (two subqueries, one shared
        # scan), boosting-query demotion (negative terms ride the same
        # scan), span_first + match_phrase_prefix (positions paths, on
        # the positions index built above), percolation (1k registered
        # queries — work scales with the DOC's tokens). Excluded from
        # the headline total (new workloads).
        Q.search_dis_max(idx, ["hot0 hot1", "w050 w100"], k=10,
                         tie_breaker=0.3).collect()  # warm
        dt, _ = tbest(lambda: Q.search_dis_max(
            idx, ["hot0 hot1", "w050 w100"], k=10,
            tie_breaker=0.3).collect())
        queries["search_dis_max"] = round(dt, 4)
        dt, _ = tbest(lambda: Q.search_boosting(
            idx, "hot0 hot1", "w050", 0.3, k=10).collect())
        queries["search_boosting"] = round(dt, 4)
        if not os.environ.get("SPARK_GRAFT_SKIP_DOCS"):
            Q.search_span_first(pidx, "hot0", 5, k=10).collect()  # warm
            dt, _ = tbest(lambda: Q.search_span_first(
                pidx, "hot0", 5, k=10).collect())
            queries["search_span_first"] = round(dt, 4)
            Q.search_phrase_prefix(pidx, "hot0 w1", k=10).collect()
            dt, _ = tbest(lambda: Q.search_phrase_prefix(
                pidx, "hot0 w1", k=10).collect())
            queries["search_phrase_prefix"] = round(dt, 4)
        from engine.percolate import percolate, register_queries
        _pq = ([{"id": f"alert-{i:04d}",
                 "query": f"w{(7 * i) % 500:03d} w{(13 * i) % 500:03d}",
                 "mode": "AND"} for i in range(999)]
               + [{"id": "alert-hot", "query": "hot0 hot1",
                   "mode": "AND"}])
        guard("percolate_register_1k")
        t_reg, _qx = tdur(register_queries, spark, _pq,
                          f"{work}/percolator")
        queries["percolate_register_1k"] = round(t_reg, 4)
        _doc = "hot0 hot1 w007 w013 w391 w140 transcripts of a long turn"
        percolate(_qx, _doc).collect()  # warm
        dt, _ = tbest(lambda: percolate(_qx, _doc).collect())
        queries["percolate_doc"] = round(dt, 4)
        # r5: INCREMENTAL registration (VERDICT r4 #6) — 100 new alerts
        # ride the streaming append path + one compact instead of a
        # full rebuild; compare against percolate_register_1k above
        from engine.percolate import register_queries_append
        _pq2 = [{"id": f"alert-x{i:04d}",
                 "query": f"w{(11 * i) % 500:03d} w{(17 * i) % 500:03d}",
                 "mode": "AND"} for i in range(100)]
        guard("percolate_register_append")
        t_app, _ = tdur(register_queries_append, _qx, _pq2)
        queries["percolate_register_append"] = round(t_app, 4)
        if not os.environ.get("SPARK_GRAFT_SKIP_DOCS"):
            # composite pagination + filters agg + auto histogram on the
            # dv layout (dvx is tombstoned by the delete rows above —
            # the tombstone mask is part of the measured path, like
            # search_deleted)
            from engine.matchops import (match_auto_histogram,
                                         match_composite, match_filters)
            match_composite(dvx, "hot0 hot1", ["role"], size=5).collect()
            dt, _ = tbest(lambda: match_composite(
                dvx, "hot0 hot1", ["role"], size=5).collect())
            queries["match_composite"] = round(dt, 4)
            dt, _ = tbest(lambda: match_filters(
                dvx, "hot0 hot1",
                {"users": "role = 'user'",
                 "tools": "role = 'tool'"}).collect())
            queries["match_filters"] = round(dt, 4)
            dt, _ = tbest(lambda: match_auto_histogram(
                dvx, "hot0 hot1", "ts", target_buckets=10).collect())
            queries["auto_histogram"] = round(dt, 4)

        lat = []
        for q in QUERY_SET:
            dt, _ = tbest(lambda: Q.search(idx, q["query"], k=10,
                                           mode=q["mode"]).collect())
            lat.append(dt)
            queries[f'search_{q["id"]}'] = round(dt, 4)
        lat.sort()
        p50 = lat[len(lat) // 2]
        queries["query_p50"] = round(p50, 4)

        # batch mode: whole query set in ONE job (E9) — amortizes per-job
        # scheduling; the throughput number for query-heavy workloads.
        # Run twice and report the second: the first call pays the batch
        # plan's one-time compile (window rank shape), and this row — like
        # every per-query row above — measures WARM steady-state cost;
        # the cold first call is reported alongside, not hidden.
        t_cold, _ = tdur(lambda: Q.search_batch(
            idx, QUERY_SET, k=10).collect())
        t_batch, _ = tdur(lambda: Q.search_batch(
            idx, QUERY_SET, k=10).collect())
        queries["batch_query_set_cold"] = round(t_cold, 4)
        queries["batch_query_set"] = round(t_batch, 4)
        queries["batch_queries_per_sec"] = round(len(QUERY_SET) / t_batch, 2)

        # prepared-plan cache rows (the repeated-identical-query fast
        # path, measured honestly AS a repeat and excluded from the
        # headline total): same args -> same DataFrame -> analyzed-plan
        # reuse + Spark shuffle-stage skipping; only the final stage
        # runs. This is what a production dashboard/pagination repeat
        # pays — NOT comparable to the fresh-plan search_q rows above.
        os.environ["SPARK_GRAFT_PLAN_CACHE"] = "1"
        Q.search(idx, "hot0 hot1", k=10).collect()  # prime
        dt, _ = tbest(lambda: Q.search(idx, "hot0 hot1", k=10).collect())
        queries["repeat_query_cached"] = round(dt, 4)
        Q.search_batch(idx, QUERY_SET, k=10).collect()  # prime
        dt, _ = tbest(lambda: Q.search_batch(
            idx, QUERY_SET, k=10).collect())
        queries["repeat_batch_cached"] = round(dt, 4)
        os.environ["SPARK_GRAFT_PLAN_CACHE"] = "0"

        # headline total = index_build + warm query rows ONLY; the extra
        # build-stage rows (docs_index_build / ann_layout_build /
        # index_build_merged) are reported but excluded so the total stays
        # comparable round-over-round (ADVICE r2)
        total = sum(v for k, v in queries.items()
                    if k not in ("build_turns_per_sec",
                                 "batch_queries_per_sec",
                                 "merged_turns_per_sec", "merge_passes",
                                 "docs_index_build", "ann_layout_build",
                                 "index_build_merged",
                                 "index_build_cold",
                                 "batch_query_set_cold",
                                 "positions_index_build",
                                 "phrase_2term", "phrase_3term",
                                 "phrase_sloppy",
                                 "search_filtered", "search_plus_snippets",
                                 "search_facets",
                                 "search_prefix", "search_prefix_cold",
                                 "search_regexp",
                                 "snippet_materialize_only",
                                 "wand_corpus_build", "wand_big_shard",
                                 "exhaustive_big_shard", "wand_speedup",
                                 "wand_kernel_ms", "exhaustive_kernel_ms",
                                 "wand_kernel_speedup",
                                 "dv_index_build", "search_dv_filtered",
                                 "search_boosted", "search_sorted_recent",
                                 "search_collapsed",
                                 "batch_dv_filtered",
                                 "delete_mark", "search_deleted",
                                 "purge_wall", "search_purged",
                                 "match_count", "more_like_this",
                                 "match_histogram", "match_cardinality",
                                 "explain_score", "fuzzy_enable",
                                 "search_fuzzy", "search_fuzzy_cold",
                                 "suggest_terms", "suggest_cold",
                                 "significant_terms",
                                 "export_matches", "export_n_docs",
                                 "match_ranges", "facet_stats",
                                 "histogram_pipeline", "search_groups",
                                 "search_top_hits", "search_multi",
                                 "search_bool", "search_msm",
                                 "search_rrf", "search_rescore",
                                 "term_vectors",
                                 "search_dis_max", "search_boosting",
                                 "search_span_first",
                                 "search_phrase_prefix",
                                 "percolate_register_1k",
                                 "percolate_register_append",
                                 "mf_index_build", "search_multi_match",
                                 "percolate_doc", "match_composite",
                                 "match_filters", "auto_histogram",
                                 "repeat_query_cached",
                                 "repeat_batch_cached"))
        out = {
            "metric": "engine_bench_total",
            "value": round(total, 4),
            "unit": "sec",
            "queries": queries,
            "sf": sf,
            "n_turns": n_turns,
            "cpus": int(cpus),
            # per-build-row ambient readings (loadavg + co-tenant busy
            # fraction + seconds the guard waited) — a contaminated
            # capture is visible in the artifact itself (VERDICT r4 #1)
            "ambient": AMBIENT,
        }
        try:
            out["merge_stage_walls"] = merge_walls  # per-pass D5 evidence
        except NameError:
            pass  # scaling runs skip the merged build
        # artifact robustness (VERDICT r3 #3: BENCH_r03's stdout line
        # outgrew the driver's capture and parsed as null): the FULL
        # result object — including the round-over-round delta block —
        # is written to BENCH/last_run.json, and stdout carries the
        # compact object without the delta so the one-line contract
        # stays well under any capture limit.
        full = dict(out)
        delta = _delta_vs_prev_round(queries)
        if delta:
            full.update(delta)
        repo = os.path.dirname(os.path.abspath(__file__))
        try:
            os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
            with open(os.path.join(repo, "BENCH", "last_run.json"),
                      "w") as f:
                json.dump(full, f, indent=1)
        except OSError:
            pass  # read-only checkout: stdout still carries the result
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
