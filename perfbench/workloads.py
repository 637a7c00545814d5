"""The three workloads. Each one generates its inputs from the seed, sets
up (the session's first ``build_index``, of the workload's corpus, then
one warm-up query and batch), runs a fixed amount of timed work sized
from ``--seconds`` (a closed loop of engine calls: one client, no think
time), and checks the engine's outputs afterwards, outside the timed
region.

A traced run records spans around the calls into each engine layer and
re-reads the layer counters after each op (see ``Runner.instrument``);
an untraced run times the same calls with nothing around them.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pandas as pd

from perfbench import inputs as I
from perfbench.trace import SparkProbe, dir_bytes, median

K = 10
# Pools hold ``max_rounds`` rounds (or ``max_cycles`` cycles); a run uses
# the first ``--seconds // round_s`` of them (at least one), so a seed
# gives the same inputs at every ``--seconds`` and the same work at one.
SIZES = {
    "full": {
        "interactive": {"n_convs": 1_000, "vocab": 2_000, "batch": 24,
                        "singles_per_round": 6, "round_s": 7.5,
                        "max_rounds": 12},
        "bigshard": {"n_docs": 40_000, "n_hot": 24, "min_wand": 15,
                     "batch": 6, "singles_per_round": 5, "round_s": 7.5,
                     "max_rounds": 12},
        "ingest": {"n_convs": 1_000, "vocab": 3_000, "batch_convs": 30,
                   "reads": 6, "batch": 24, "batches": 2, "cycle_s": 15.0,
                   "max_cycles": 4},
    },
    "toy": {
        "interactive": {"n_convs": 300, "vocab": 1_000, "batch": 6,
                        "singles_per_round": 3, "round_s": 1.0,
                        "max_rounds": 2},
        "bigshard": {"n_docs": 4_000, "n_hot": 8, "min_wand": 5,
                     "batch": 4, "singles_per_round": 3, "round_s": 1.0,
                     "max_rounds": 2},
        "ingest": {"n_convs": 300, "vocab": 1_000, "batch_convs": 20,
                   "reads": 3, "batch": 6, "batches": 1, "cycle_s": 1.0,
                   "max_cycles": 1},
    },
}
KERNEL_OPS = 4          # single ops per traced run whose kernels re-run
CHECK_SINGLES = 10      # seeded sample of single queries checked
CHECK_BATCH_ENTRIES = 10  # seeded sample of entries per batch checked


def texts_of(spec: dict) -> list[str]:
    """Every query text of a spec (the terms the engine analyzes and
    looks up in the lexicon)."""
    out = [spec.get(f) or "" for f in ("query", "exclude", "must",
                                       "should", "positive", "negative")]
    return out + list(spec.get("queries", ()))


def call(Q, index, spec: dict, use_wand="auto"):
    kind = spec["kind"]
    if kind == "search":
        return Q.search(index, spec["query"], K, spec["mode"],
                        use_wand=use_wand, exclude=spec.get("exclude"),
                        min_match=spec.get("min_match"))
    if kind == "bool":
        return Q.search_bool(index, spec["must"], spec["should"], K)
    if kind == "dis_max":
        return Q.search_dis_max(index, spec["queries"], K,
                                spec["tie_breaker"])
    return Q.search_boosting(index, spec["positive"], spec["negative"],
                             spec["negative_boost"], K)


def oracle_topk(oracle, spec: dict) -> list[tuple[int, float]]:
    kind = spec.get("kind", "search")
    if kind == "search":
        if spec.get("exclude"):
            if spec["mode"] == "AND":
                return oracle.search_bool(spec["query"], "", K,
                                          exclude=spec["exclude"])
            return oracle.search_bool("", spec["query"], K,
                                      exclude=spec["exclude"])
        return oracle.search(spec["query"], K, spec["mode"],
                             spec.get("min_match") or 1)
    if kind == "bool":
        return oracle.search_bool(spec["must"], spec["should"], K)
    if kind == "dis_max":
        return oracle.search_dis_max(spec["queries"], spec["tie_breaker"], K)
    return oracle.search_boosting(spec["positive"], spec["negative"],
                                  spec["negative_boost"], K)


def same(a, b, tol: float = 1e-9) -> bool:
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= tol for (da, sa), (db, sb) in zip(a, b))


def rows_of(df) -> list[tuple[int, float]]:
    return [(int(x["doc_id"]), float(x["score"])) for x in df.collect()]


class Runner:
    """Executes engine calls for one run: times them, counts attempted
    and failed ops, and in a traced run records spans and per-op layer
    counters."""

    def __init__(self, spark, tracer, work: str):
        from engine import query
        self.Q = query
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.probe = SparkProbe(spark) if tracer.enabled else None
        self.attempted = 0
        self.failed = 0
        self.checked = 0  # outputs compared against a reference
        self.input_s = 0.0  # input conversion inside setup, not set-up
        self.single_s: list[float] = []
        self.batch_n: list[int] = []     # entries per batch
        self.batch_s: list[float] = []   # wall time per batch
        self.singles: list[dict] = []   # executed single specs, in order
        self.recs: list[dict] = []      # per-op layer counters (traced)
        self._seen_df: set[int] = set()
        self._seg_bytes: dict[str, int] = {}
        self._kernel_ops = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: failed op: {what}", file=sys.stderr)

    def expect(self, ok: bool, what: str) -> None:
        """One output check; a mismatch counts as a failed op."""
        self.checked += 1
        if not ok:
            self.fail(what)

    # ---- one engine call -------------------------------------------------
    def single(self, index, spec: dict, use_wand="auto", lat=None):
        """One single query; returns [(doc_id, score)] or None. Its
        latency goes to ``lat`` (default: the run's ``single_s``)."""
        self.attempted += 1
        self.singles.append(spec)
        tr, rec = self.tracer, {"kind": "single"}
        op = tr.new_op()
        try:
            t0 = time.perf_counter()
            with tr.span("op"):
                if tr.enabled:
                    self._analyze_lookup(index, texts_of(spec), op, rec)
                with tr.span("query.plan"):
                    tp = time.perf_counter()
                    df = call(self.Q, index, spec, use_wand)
                    rec["plan_s"] = time.perf_counter() - tp
                rows = self._collect(df, op, rec)
            (self.single_s if lat is None else lat).append(
                time.perf_counter() - t0)
        except Exception:
            traceback.print_exc()
            self.fail(f"single {spec}")
            return None
        out = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if tr.enabled:
            self.instrument(index, df, op, rec, spec=spec)
        return out

    def batch(self, index, entries: list[dict], use_wand="auto"):
        """One search_batch call; returns {qid: [(doc_id, score)]}."""
        self.attempted += 1
        tr, rec = self.tracer, {"kind": "batch"}
        op = tr.new_op()
        try:
            t0 = time.perf_counter()
            with tr.span("op"):
                if tr.enabled:
                    self._analyze_lookup(
                        index, [t for e in entries for t in texts_of(e)],
                        op, rec)
                with tr.span("query.plan"):
                    tp = time.perf_counter()
                    df = self.Q.search_batch(index, entries, K, use_wand)
                    rec["plan_s"] = time.perf_counter() - tp
                rows = self._collect(df, op, rec)
            self.batch_s.append(time.perf_counter() - t0)
            self.batch_n.append(len(entries))
        except Exception:
            traceback.print_exc()
            self.fail(f"batch of {len(entries)}")
            return None
        out = {e["id"]: [] for e in entries}
        for r in rows:  # rows come ordered by (qid, score desc, doc_id)
            out[r["qid"]].append((int(r["doc_id"]), float(r["score"])))
        if tr.enabled:
            self.instrument(index, df, op, rec, entries=entries)
        return out

    def _analyze_lookup(self, index, texts, op, rec) -> None:
        tr = self.tracer
        with tr.span("analyzer"):
            t = time.perf_counter()
            terms = sorted({x for s in texts
                            for x in self.Q.query_terms(s, index.cfg.analyzer)})
            rec["analyzer_s"] = time.perf_counter() - t
        with tr.span("build.lookup"):
            memo = getattr(index, "_term_cache", None) or {}
            rec["memo_hits"] = sum(x in memo for x in terms)
            rec["memo_terms"] = len(terms)
            gid = f"lookup-{op}"
            self.probe.group(gid)
            t = time.perf_counter()
            index.lookup_terms(terms)
            rec["lookup_s"] = time.perf_counter() - t
            rec["lookup_jobs"] = self.probe.jobs_tasks(gid)[0]

    def _collect(self, df, op, rec):
        if self.tracer.enabled:
            self.probe.group(f"collect-{op}")
        with self.tracer.span("query.collect"):
            t = time.perf_counter()
            rows = df.collect()
            rec["collect_s"] = time.perf_counter() - t
        return rows

    # ---- traced-run counters -------------------------------------------
    def instrument(self, index, df, op, rec, spec=None, entries=None):
        """Layer counters of the op just run: jobs and tasks, SQL
        metrics of the executed plan, and the shard kernels re-run in
        process on the op's exact pruned payload."""
        with self.tracer.span("trace.instrument"):
            rec["jobs"], rec["tasks"] = self.probe.jobs_tasks(f"collect-{op}")
            rec.update(self.probe.plan_metrics(df))
            rec["plan_hit"] = id(df) in self._seen_df
            self._seen_df.add(id(df))
            seg = index.postings_path
            if seg not in self._seg_bytes:
                self._seg_bytes[seg] = dir_bytes(seg)
            rec["scan_fraction"] = rec["scan_bytes"] / max(1, self._seg_bytes[seg])
            rec["overhead_s"] = rec["collect_s"] - rec["python_s"]
            if (spec is not None and spec["kind"] == "search"
                    and self._kernel_ops < KERNEL_OPS):
                self._kernel_ops += 1
                self._kernel_single(index, spec, rec)
            elif entries is not None:
                self._kernel_batch(index, entries, rec)
        self.recs.append(rec)

    def _payload(self, index, terms, lex, blocks: bool, rec):
        from pyspark.sql import functions as F

        from engine import codec as C
        cols = ["term", "shard", "df", "doc_ids", "tfs", "dls"] + (
            ["blocks", "max_tf"] if blocks else [])
        with self.tracer.span("trace.payload"):
            pdf = (index.postings()
                   .filter(F.col("bucket").isin(sorted({lex[t]["bucket"]
                                                        for t in terms}))
                           & F.col("term").isin(terms))
                   .select(*cols).toPandas())
        with self.tracer.span("codec.decode"):
            t = time.perf_counter()
            for d, f, l in zip(pdf["doc_ids"], pdf["tfs"], pdf["dls"]):
                C.decode_postings(d, f)
                C.vbyte_decode(l)
            rec["decode_s"] = time.perf_counter() - t
        rec["payload_bytes"] = int(sum(
            len(d) + len(f) + len(l)
            for d, f, l in zip(pdf["doc_ids"], pdf["tfs"], pdf["dls"])))
        return [g.reset_index(drop=True)
                for _, g in pdf.groupby("shard", sort=True)]

    def _cfg(self, index) -> dict:
        return {"k1": index.cfg.bm25.k1, "b": index.cfg.bm25.b,
                "avgdl": index.avgdl}

    def _kernel_single(self, index, spec, rec) -> None:
        from engine.analyzer import tokenize_py
        from engine.wand import score_shard_wand
        acfg = index.cfg.analyzer
        qtf = self.Q.query_terms(spec["query"], acfg)
        neg = sorted(set(tokenize_py(spec.get("exclude") or "", acfg))
                     - set(qtf))
        lex = index.lookup_terms(sorted(set(qtf) | set(neg)))
        known = [t for t in sorted(qtf) if t in lex]
        mm = spec.get("min_match") or 1
        mode = spec["mode"]
        if (not known or (mode == "AND" and len(known) < len(qtf))
                or mm > len(known)):
            return  # the engine answers these without a scoring job
        neg = [t for t in neg if t in lex]
        eligible = mode == "OR" and not neg and mm == 1 and len(known) > 1
        groups = self._payload(index, sorted(set(known) | set(neg)), lex,
                               eligible, rec)
        qtfs = {t: float(qtf[t]) for t in known}
        idfs = {t: float(lex[t]["idf"]) for t in known}
        cfg, w = self._cfg(index), index.shard_width
        with self.tracer.span("query.kernel"):
            t = time.perf_counter()
            for g in groups:
                self.Q._score_shard_exhaustive(g, qtfs, idfs, cfg, K, mode, w,
                                               len(qtf), frozenset(neg),
                                               min_match=mm)
            rec["kernel_s"] = rec["used_kernel_s"] = time.perf_counter() - t
        if eligible:
            rec["routes"] = [bool(self.Q.wand_routes(index, spec["query"]))]
            with self.tracer.span("wand.kernel"):
                t = time.perf_counter()
                for g in groups:
                    score_shard_wand(g, qtfs, idfs, cfg, K, w)
                rec["wand_kernel_s"] = [time.perf_counter() - t]
            if rec["routes"][0]:
                rec["used_kernel_s"] = rec["wand_kernel_s"][0]

    def _kernel_batch(self, index, entries, rec) -> None:
        from engine.analyzer import tokenize_py
        from engine.wand import score_shard_wand
        acfg = index.cfg.analyzer
        per_q, modes, negs = {}, {}, {}
        for e in entries:
            modes[e["id"]] = e["mode"]
            qt = self.Q.query_terms(e["query"], acfg)
            if qt:
                per_q[e["id"]] = qt
                ng = sorted(set(tokenize_py(e.get("exclude") or "", acfg))
                            - set(qt))
                if ng:
                    negs[e["id"]] = ng
        union = {t for qt in per_q.values() for t in qt} | {
            t for ts in negs.values() for t in ts}
        lex = index.lookup_terms(sorted(union))
        scan = sorted(t for t in union if t in lex)
        if not scan:
            return
        wand_mode = "auto" if any(m == "OR" for m in modes.values()) else False
        groups = self._payload(index, scan, lex, bool(wand_mode), rec)
        idfs = {t: float(lex[t]["idf"]) for t in scan}
        cfg, w = self._cfg(index), index.shard_width
        with self.tracer.span("query.batch_kernel"):
            t = time.perf_counter()
            for g in groups:
                self.Q._score_shard_batch(
                    g, per_q, modes, idfs, cfg, K, w, wand_mode, negs=negs,
                    phrases={}, msm={}, slops={}, musts={}, minsh={},
                    demotes={}, dismaxes={}, dv_preds={},
                    dv_ctx=(index.index_dir, int(index.n_docs)))
            rec["batch_kernel_s"] = time.perf_counter() - t
        # WAND kernel per eligible entry (OR, no exclusion, 2+ known terms)
        rec["routes"], rec["wand_kernel_s"] = [], []
        for e in entries:
            known = sorted(t for t in per_q.get(e["id"], ()) if t in lex)
            if e["mode"] != "OR" or e["id"] in negs or len(known) < 2:
                continue
            rec["routes"].append(bool(self.Q.wand_routes(index, e["query"])))
            qtfs = {t: float(per_q[e["id"]][t]) for t in known}
            with self.tracer.span("wand.kernel"):
                t = time.perf_counter()
                for g in groups:
                    score_shard_wand(g[g["term"].isin(known)]
                                     .reset_index(drop=True),
                                     qtfs, idfs, cfg, K, w)
                rec["wand_kernel_s"].append(time.perf_counter() - t)

    # ---- index builds -----------------------------------------------------
    def build(self, df, name: str, cfg=None):
        """Timed ``build_index``; returns (index, seconds)."""
        from engine.build import build_index
        from engine.config import DEFAULT
        self.attempted += 1
        with self.tracer.span("build"):
            t = time.perf_counter()
            idx = build_index(self.spark, df, os.path.join(self.work, name),
                              cfg or DEFAULT)
            return idx, time.perf_counter() - t


def corpus_frame(r: Runner, pdf, name: str):
    """The input corpus as parquet written with pyarrow (input
    generation), read back lazily: the build pays for reading it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = time.perf_counter()
    path = os.path.join(r.work, "input", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(
        pdf.assign(ts=pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC")),
        preserve_index=False), path)
    df = r.spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp").parquet(path)
    r.input_s += time.perf_counter() - t
    return df


def build_layer(index, input_bytes: int) -> dict:
    """Build-layer numbers from the manifest's stage walls and the index
    files on disk."""
    from engine.manifest import Manifest
    man = Manifest.load(index.index_dir)
    st = (man.metrics or {}).get("stage_wall_s", {})
    d = index.index_dir
    return {
        "build.total_s": float(man.metrics.get("total_wall_s", 0.0)),
        "build.docids_s": float(st.get("docids", 0.0)),
        "build.write_docmap_s": float(st.get("write_docmap", 0.0)),
        "build.lexicon_s": float(st.get("lexicon", 0.0)),
        "build.stats_s": float(st.get("stats", 0.0)),
        "pack.wall_s": float(st.get("pack", 0.0)),
        "build.corpus_bytes": dir_bytes(os.path.join(d, "corpus")),
        "build.segment_bytes": dir_bytes(index.postings_path),
        "build.lexicon_bytes": dir_bytes(os.path.join(d, "lexicon")),
        "index_bytes_per_input_byte": dir_bytes(d) / max(1, input_bytes),
    }


def numbered(entries: list[dict], b: int) -> list[dict]:
    return [dict(e, id=f"b{b}q{i}") for i, e in enumerate(entries)]


class Workload:
    """Base: subclasses generate inputs (``pdf``, ``cfg``, the warm-up
    query ``warm`` and batch ``warm_batch``) and fill ``timed`` and
    ``check``."""
    cfg = None  # IndexConfig of the build; None is the engine's default

    def __init__(self, seed: int, size: str):
        self.p = SIZES[size][self.name]
        self.rng = np.random.default_rng([seed, self.SALT])
        self.seed = seed
        self.layer: dict = {}   # build/streaming layer values
        self.single_res: list = []  # (spec, result) of timed singles
        self.repeat_s: list = []    # latencies of verbatim repeats
        self.batch_res: list = []   # (entries, result) of timed batches

    def setup(self, r: Runner) -> None:
        """The session's first build, of the workload's corpus, so it
        pays the cold start too (JVM JIT and class loading, the Python
        workers' start and imports); then one untimed, unchecked query
        and full-size batch, so the timed ones run warm."""
        self.index, self.build_s = r.build(
            corpus_frame(r, self.pdf, self.name), self.name, self.cfg)
        self.layer.update(build_layer(self.index, self.input_bytes))
        self.n_turns = len(self.pdf)
        with r.tracer.span("warmup"):
            r.Q.search(self.index, self.warm, K).collect()
            r.Q.search_batch(self.index, self.warm_batch, K).collect()

    def count(self, seconds: float, unit_s: float, cap: int) -> int:
        return max(1, min(cap, int(seconds // unit_s)))

    def rounds(self, r: Runner, seconds: float) -> None:
        """Closed loop of whole rounds: ``singles_per_round`` single
        queries, then one batch. The round count comes from
        ``--seconds`` only, so every run of a seed does the same work.
        A verbatim repeat's latency goes to ``repeat_s``, not to the
        run's ``single_s``: repeats hit the plan cache and form a fast
        group that a median over a few fresh queries would straddle."""
        p = self.p
        n = p["singles_per_round"]
        seen = set()
        for b in range(self.count(seconds, p["round_s"], p["max_rounds"])):
            for s in self.singles[b * n:(b + 1) * n]:
                key = I.spec_key(s)
                lat = self.repeat_s if key in seen else None
                seen.add(key)
                self.single_res.append((s, r.single(self.index, s, lat=lat)))
            entries = self.batches[b]
            self.batch_res.append((entries, r.batch(self.index, entries)))


def check_wand(r: Runner, index, answers, rng, n: int = 2) -> None:
    """For a seeded sample of ``n`` OR queries, with the answer the
    engine gave under ``use_wand="auto"`` (a single's, or a batch
    entry's): the exhaustive scorer (``use_wand=False``), the answer
    given and WAND forced on (``use_wand=True``) must all be equal
    exactly, whichever way the cost gate routed the query."""
    done = [(s, res) for s, res in answers
            if res is not None and s.get("kind", "search") == "search"
            and s["mode"] == "OR" and not s.get("exclude")
            and not s.get("min_match")]
    r.expect(bool(done), "no OR answer to check WAND against")
    for i in rng.permutation(len(done))[:n]:
        spec, res = done[int(i)]
        ex = rows_of(call(r.Q, index, dict(spec, kind="search"), False))
        r.expect(res == ex, f"answer != exhaustive: {spec}")
        wand = rows_of(call(r.Q, index, dict(spec, kind="search"), True))
        r.expect(wand == ex, f"WAND != exhaustive: {spec}")


class Interactive(Workload):
    """Fresh mixed-surface single queries plus fresh batches over a
    transcript index: per-query fixed cost dominates."""
    name, SALT, warm = "interactive", 1, "v0 v1"

    def __init__(self, seed, size):
        super().__init__(seed, size)
        p = self.p
        self.pdf = I.transcripts(self.rng, p["n_convs"], p["vocab"])
        ts = I.TermSampler(self.rng, p["vocab"])
        self.singles = I.interactive_singles(
            ts, p["singles_per_round"] * p["max_rounds"])
        self.batches = [
            numbered(I.unique(lambda: I.batch_entry(ts), p["batch"]), b)
            for b in range(p["max_rounds"] + 1)]
        self.warm_batch = self.batches.pop()
        self.input_bytes = I.text_bytes(self.pdf)

    def timed(self, r: Runner, seconds: float):
        self.rounds(r, seconds)

    def check(self, r: Runner):
        from engine.oracle import OracleIndex
        oracle = OracleIndex(list(enumerate(self.pdf["text"])))
        rng = np.random.default_rng([self.seed, self.SALT, 99])
        done = [x for x in self.single_res if x[1] is not None]
        for i in rng.permutation(len(done))[:CHECK_SINGLES]:
            spec, res = done[int(i)]
            r.expect(same(res, oracle_topk(oracle, spec)),
                     f"oracle mismatch: {spec}")
        done = [x for x in self.batch_res if x[1] is not None]
        for entries, res in done:
            for i in rng.permutation(len(entries))[:CHECK_BATCH_ENTRIES]:
                e = entries[int(i)]
                r.expect(same(res[e["id"]], oracle_topk(oracle, e)),
                         f"batch entry vs oracle: {e}")
        if done:
            # one batch entry against the engine's own single query
            entries, res = done[int(rng.integers(0, len(done)))]
            e = entries[int(rng.integers(0, len(entries)))]
            single = r.Q.search(self.index, e["query"], K, e["mode"],
                                exclude=e.get("exclude"))
            r.expect(same(res[e["id"]], rows_of(single), 0.0),
                     f"batch entry vs single query: {e}")


def wand_corpus(rng, p):
    """The WAND-regime corpus (engine.fixtures), seeded from the run's
    seed: exactly 64 tokens per doc, hot terms h0.., seed term wq0."""
    from engine.fixtures import make_wand_corpus
    return make_wand_corpus(p["n_docs"], seed=int(rng.integers(0, 2**31)),
                            n_hot=p["n_hot"])


def big_shard_cfg():
    from engine.config import IndexConfig
    return IndexConfig(n_slices=1, block_size=32)


def entry_answers(batch_res) -> list:
    """(entry, answer) for every entry of the batches that returned."""
    return [(e, res[e["id"]]) for entries, res in batch_res
            if res is not None for e in entries]


class BigShard(Workload):
    """Fresh single queries and batches over one big WAND-regime scoring
    shard, so the shard kernel carries a larger share of each query."""
    name, SALT, warm = "bigshard", 2, "wq0 h0 h1"

    def __init__(self, seed, size):
        super().__init__(seed, size)
        p = self.p
        self.cfg = big_shard_cfg()
        self.pdf = wand_corpus(self.rng, p)
        self.singles = I.unique(lambda: I.bigshard_single(
            self.rng, p["n_hot"], p["min_wand"]),
            p["singles_per_round"] * p["max_rounds"])
        self.batches = [numbered(I.unique(lambda: I.wand_query(
            self.rng, p["n_hot"], p["min_wand"]), p["batch"]), b)
            for b in range(p["max_rounds"] + 1)]
        self.warm_batch = self.batches.pop()
        self.input_bytes = I.text_bytes(self.pdf)

    def timed(self, r: Runner, seconds: float):
        self.rounds(r, seconds)

    def check(self, r: Runner):
        rng = np.random.default_rng([self.seed, self.SALT, 99])
        check_wand(r, self.index, self.single_res, rng)
        check_wand(r, self.index, entry_answers(self.batch_res), rng)


class Ingest(Workload):
    """Set-up builds a transcript corpus; then append / compact cycles.
    Each micro-batch carries one token planted only in one of its docs.
    After the compaction the planted token is searched until its doc is
    returned, then the reads after the write run: fresh multi-term OR
    searches, all of one kind, and fresh batches."""
    name, SALT, warm = "ingest", 3, "v0 v1"

    def __init__(self, seed, size):
        super().__init__(seed, size)
        p = self.p
        self.pdf = I.transcripts(self.rng, p["n_convs"], p["vocab"])
        self.micro = []  # (micro-batch, planted token, its row)
        for c in range(p["max_cycles"]):
            mb = I.transcripts(self.rng, p["batch_convs"], p["vocab"],
                               conv_prefix=f"a{c:03d}-")
            token = f"plant{seed}x{c}"
            row = int(self.rng.integers(0, len(mb)))
            mb.loc[row, "text"] = mb.loc[row, "text"] + " " + token
            self.micro.append((mb, token, row))
        ts = I.TermSampler(self.rng, p["vocab"])
        n = p["reads"]
        reads = I.unique(lambda: {"kind": "search", "query": ts.text(2, 5),
                                  "mode": "OR"}, n * p["max_cycles"])
        self.reads = [reads[c * n:(c + 1) * n] for c in range(p["max_cycles"])]
        nb = p["batches"]
        self.batches = [
            numbered(I.unique(lambda: I.batch_entry(ts), p["batch"]), b)
            for b in range(p["max_cycles"] * nb + 1)]
        self.warm_batch = self.batches.pop()
        self.input_bytes = I.text_bytes(self.pdf)
        self.append_tps, self.visible, self.visible_q = [], [], []
        self.cycles = 0

    def timed(self, r: Runner, seconds: float):
        from engine import streaming as S
        p = self.p
        n_docs = self.index.n_docs
        appends, compacts, rewrite = [], [], []
        cycles = self.count(seconds, p["cycle_s"], p["max_cycles"])
        for c, (mb, token, row) in enumerate(self.micro[:cycles]):
            mdf = corpus_frame(r, mb, f"micro{c}")
            r.attempted += 2  # the append and the compaction
            try:
                t0 = time.perf_counter()
                with r.tracer.span("op"), r.tracer.span("streaming.append"):
                    S.append_batch(r.spark, mdf, self.index.index_dir)
                ta = time.perf_counter()
                with r.tracer.span("op"), r.tracer.span("streaming.compact"):
                    self.index = S.compact(r.spark, self.index.index_dir)
                tc = time.perf_counter()
            except Exception:
                traceback.print_exc()
                r.fail(f"append/compact cycle {c}")
                break
            appends.append(ta - t0)
            compacts.append(tc - ta)
            self.append_tps.append(len(mb) / (ta - t0))
            # compaction rewrites the whole final segment and the lexicon
            rewrite.append(
                (dir_bytes(self.index.postings_path)
                 + dir_bytes(os.path.join(self.index.index_dir, "lexicon")))
                / max(1, I.text_bytes(mb)))
            want = n_docs + row  # the planted doc's id
            n_docs += len(mb)
            spec = {"kind": "search", "query": token, "mode": "OR"}
            for _ in range(3):
                res = r.single(self.index, spec, lat=self.visible_q)
                if res and res[0][0] == want:
                    break
            r.expect(bool(res) and res[0][0] == want,
                     f"planted doc {want} not visible")
            self.visible.append(time.perf_counter() - t0)
            self.planted = (spec, want)
            self.single_res = [(s, r.single(self.index, s))
                               for s in self.reads[c]]
            self.batch_res = [(e, r.batch(self.index, e)) for e in
                              self.batches[c * p["batches"]:
                                           (c + 1) * p["batches"]]]
            self.cycles += 1
        self.layer.update({
            "streaming.append_s": median(appends),
            "streaming.compact_s": median(compacts),
            "streaming.rewrite_bytes_per_appended_byte": median(rewrite),
        })

    def check(self, r: Runner):
        """On the final index, the last cycle's answers: WAND forced on,
        the answer given and the exhaustive scorer agree on one seeded
        batch entry; the planted doc, the reads and a seeded sample of
        10 batch entries match the oracle over the base corpus plus
        every micro-batch."""
        from engine.oracle import OracleIndex
        if not self.cycles:
            r.fail("no append cycle completed")
            return
        rng = np.random.default_rng([self.seed, self.SALT, 99])
        answers = entry_answers(self.batch_res)
        check_wand(r, self.index, answers, rng, n=1)
        texts = list(self.pdf["text"])
        for mb, _, _ in self.micro[:self.cycles]:
            texts += list(mb["text"])
        oracle = OracleIndex(list(enumerate(texts)))
        spec, want = self.planted
        r.expect(oracle_topk(oracle, spec)[0][0] == want,
                 f"oracle places the planted doc {want}")
        for spec, res in self.single_res:
            r.expect(res is not None and same(res, oracle_topk(oracle, spec)),
                     f"read after the write vs oracle: {spec}")
        for i in rng.permutation(len(answers))[:CHECK_BATCH_ENTRIES]:
            e, res = answers[int(i)]
            r.expect(same(res, oracle_topk(oracle, e)),
                     f"post-compact batch entry vs oracle: {e}")


WORKLOADS = {w.name: w for w in (Interactive, BigShard, Ingest)}


def layer_metrics(r: Runner, tracer) -> dict:
    """Per-layer metrics of a traced run from the per-op counters."""
    singles = [x for x in r.recs if x["kind"] == "single"]
    batches = [x for x in r.recs if x["kind"] == "batch"]
    ops = singles + batches

    def col(rows, key):
        return [x[key] for x in rows if key in x]

    def mean(vals):
        return sum(vals) / len(vals) if vals else 0.0

    def share(rows, key):
        """Median over ops of a kernel's time / the op's collect time."""
        return median([x[key] / x["collect_s"] for x in rows
                       if key in x and x["collect_s"] > 0])

    kern = [x for x in singles if "kernel_s" in x]
    routes = [b for x in ops for b in x.get("routes", ())]
    payload = col(ops, "payload_bytes")
    decode = col(ops, "decode_s")
    hits = sum(col(ops, "memo_hits"))
    return {
        "build.lookup_s": median(col(singles, "lookup_s")),
        "build.lookup_jobs": mean(col(ops, "lookup_jobs")),
        "build.lookup_memo_hit_ratio": hits / max(1, sum(col(ops, "memo_terms"))),
        "analyzer.query_s": median(col(singles, "analyzer_s")),
        "query.plan_s": median(col(singles, "plan_s")),
        "query.plan_cache_hit_ratio": mean([float(h) for h in col(ops, "plan_hit")]),
        "query.collect_s": median(col(singles, "collect_s")),
        "query.jobs": mean(col(singles, "jobs")),
        "query.tasks": mean(col(singles, "tasks")),
        "query.python_tasks": mean(col(singles, "python_tasks")),
        "query.python_s": median(col(singles, "python_s")),
        "query.scan_bytes": median(col(singles, "scan_bytes")),
        "query.scan_fraction": median(col(singles, "scan_fraction")),
        "query.shuffle_bytes": median(col(singles, "shuffle_bytes")),
        "query.shuffle_fetch_wait_s": median(col(singles, "fetch_wait_s")),
        "query.overhead_s": median(col(singles, "overhead_s")),
        "query.kernel_s": median(col(kern, "kernel_s")),
        "query.kernel_share": share(singles, "used_kernel_s"),
        "wand.kernel_s": median([v for x in ops
                                 for v in x.get("wand_kernel_s", ())]),
        "wand.route_ratio": mean([float(b) for b in routes]),
        "query.batch_kernel_s": median(col(batches, "batch_kernel_s")),
        "query.batch_kernel_share": share(batches, "batch_kernel_s"),
        "codec.decode_s_p50": median(decode),
        "codec.decode_s_max": max(decode, default=0.0),
        "codec.payload_bytes_p50": median(payload),
        "codec.payload_bytes_max": float(max(payload, default=0)),
        "trace.overhead_ratio": (tracer.total("trace.instrument")
                                 / max(1e-9, tracer.total("op"))),
        "trace.search_p50_s": median(r.single_s),
    }
