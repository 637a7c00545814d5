"""Percolator — reverse search (the ES percolate query): REGISTER a set
of saved queries once, then ask "which saved queries match this
document?" per incoming doc. The alerting / saved-search primitive: a
firehose of new transcript turns percolates against thousands of
standing alert queries, and each turn fans out to the alerts it
triggers.

Design (the ES percolator's own trick, rebuilt Spark-first): the
registered queries ARE the corpus — each query is indexed as one
document whose text is its term list, with two docvalue columns riding
the store (engine/docvalues.py):

* ``qid``        — the caller's query id (string), emitted on match;
* ``required``   — the match floor: number of distinct analyzer terms
  for AND queries, 1 for OR, an explicit ``min_match`` otherwise.

Percolating a document is then ONE standard pruned-scan job over the
query index: the doc's distinct analyzer tokens are looked up in the
query-index lexicon (terms absent from every registered query prune
away at the scan), each shard task counts distinct matched terms per
registered query (the same width-bounded int32 accumulator as the
search kernel) and emits the qids whose count reaches their own stored
``required`` — ALL matches, not top-k (percolation is a match-set op).

Scale story: work is proportional to the postings of the DOC'S tokens
within the QUERY index — never to the number of registered queries;
a million standing queries cost one query-vocabulary-sized index, and
each percolation reads only the buckets its tokens hash to. Query
UNREGISTRATION is the delete lifecycle (engine/deletes.py): tombstoned
query docs stop matching immediately, purge rewrites the segment.

Frozen contract (mirrored by the DuckDB twin in ``__spark_entry__``):
a registered query matches a doc iff
``|terms(query) ∩ terms(doc)| >= required`` — set semantics on both
sides (tf is irrelevant), NULL/absent docvalues never match, result
rows are ``(query_id)`` ordered ascending.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .analyzer import tokenize_py
from .config import DEFAULT, IndexConfig
from .query import _del_closure, _plan_cached

_TS0 = 1767225600  # 2026-01-01T00:00:00Z — fixed synthetic ts


def register_queries(spark, queries: list, out_dir: str,
                     cfg: IndexConfig = DEFAULT):
    """Build the percolator index from saved-query specs.

    ``queries``: list of dicts ``{"id": str, "query": str,
    "mode": "OR"|"AND"}`` (optional ``"min_match": int`` — an explicit
    floor, OR-family semantics; clamped to the query's arity). Returns
    a PackedIndex whose corpus rows are the queries and whose docvalue
    store carries (qid, required).

    The builder is the unchanged ``build_index`` pipeline — saved
    queries are small documents, so this is one tiny job; re-register
    to replace the set, or use engine.deletes to unregister
    incrementally.
    """
    from .build import build_index
    qdf = _query_rows_df(spark, queries, cfg.analyzer)
    dv = tuple(dict.fromkeys(tuple(cfg.doc_values or ())
                             + ("qid", "required")))
    import dataclasses
    cfg = dataclasses.replace(cfg, doc_values=dv)
    return build_index(spark, qdf, out_dir, cfg=cfg)


def _query_rows_df(spark, queries: list, acfg) -> DataFrame:
    """Saved-query specs -> the percolator's corpus rows (shared by
    register_queries and register_queries_append — one validation and
    required-floor rule, so batch and incremental registration can
    never drift)."""
    rows = []
    seen = set()
    for q in queries:
        qid, text = str(q["id"]), str(q["query"])
        if qid in seen:
            raise ValueError(f"duplicate query id {qid!r}")
        seen.add(qid)
        mode = str(q.get("mode", "OR")).upper()
        arity = len(set(tokenize_py(text, acfg)))
        if arity == 0:
            raise ValueError(f"query {qid!r} has no analyzer tokens")
        if "min_match" in q:
            required = max(1, min(int(q["min_match"]), arity))
            if mode == "AND":
                raise ValueError(f"query {qid!r}: min_match is an "
                                 f"OR-family floor (AND already requires "
                                 f"every term)")
        else:
            required = arity if mode == "AND" else 1
        rows.append((qid, 0, "query", text, "", required))
    qdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, required int")
    return (qdf.withColumn("ts", F.timestamp_seconds(F.lit(_TS0)))
            .withColumn("qid", F.col("conv_id")))


def register_queries_append(qindex, queries: list,
                            compact_now: bool = False):
    """Incrementally ADD saved queries to an existing percolator index
    (VERDICT r4 #6: registration used to be a full index rebuild —
    4.8 s for 1k queries in BENCH_r04 — because adding one alert
    re-tokenized the whole standing set). The new queries ride the
    streaming micro-batch path (engine/streaming.py append_batch: one
    tiny tokenize+pack job + docvalue append) — work scales with the
    BATCH, never with the standing set.

    ``compact_now=False`` (default): no compaction — percolation is
    the one query family that safely reads pending increments live,
    because it is pure SET arithmetic: no BM25 stats (so stale
    N/avgdl/idf cannot mis-score), buckets computable driver-side
    from the term hash (engine/xxh.py — no lexicon dependency), and
    the qid/required docvalue store is appended per batch. ``percolate``
    unions the final segment with the completed increments. Call
    ``streaming.compact`` (or pass ``compact_now=True``) occasionally
    to fold increments into one segment — an amortized maintenance
    choice, not a correctness requirement.

    New ids colliding with REGISTERED ids are rejected (one pushed
    In-filter probe of the stored corpus — metadata-sized). Returns a
    fresh PackedIndex handle (the caller's old handle is stale, as
    after any append)."""
    from .build import load_index
    from .streaming import append_batch, compact
    spark = qindex.spark
    if "qid" not in (qindex.doc_values or ()) \
            or "required" not in (qindex.doc_values or ()):
        raise ValueError("not a percolator index — build it with "
                         "register_queries first")
    qdf = _query_rows_df(spark, queries, qindex.cfg.analyzer)
    new_ids = [str(q["id"]) for q in queries]
    clash = (qindex.corpus_raw().select("conv_id")
             .filter(F.col("conv_id").isin(new_ids)).limit(5).collect())
    if clash:
        raise ValueError(
            f"query ids already registered: "
            f"{sorted(r['conv_id'] for r in clash)} — unregister first "
            f"(engine.deletes) or pick fresh ids")
    # pass the INDEX's resolved cfg (analyzer hooks, block size) so the
    # increment can never be analyzed differently from the standing set
    append_batch(spark, qdf, qindex.index_dir, cfg=qindex.cfg)
    if compact_now:
        return compact(spark, qindex.index_dir, cfg=qindex.cfg)
    return load_index(spark, qindex.index_dir)


def percolate(qindex, doc_text: str) -> DataFrame:
    """Which registered queries match this document? One pruned-scan
    job over the query index (see module docstring for the frozen
    contract and the scale argument). Returns ``(query_id:string)``
    ordered ascending; empty when nothing matches.

    Uncompacted percolators (pending ``register_queries_append``
    increments) are read LIVE: percolation is pure set arithmetic, so
    the staleness that makes ``search`` warn (N/avgdl/idf lag until
    compact) cannot affect it — the scan unions the final segment with
    the completed increments, and bucket pruning comes from the
    driver-side term hash (engine/xxh.py), never the (possibly stale)
    lexicon."""
    key = ("perc", doc_text)
    return _plan_cached(qindex, key,
                        lambda: _percolate_impl(qindex, doc_text))


def _live_postings(qindex) -> "DataFrame | None":
    """The percolator's scan base: the final segment plus any
    completed increment segments, each read from its own path (each
    read infers its own bucket partitioning; pruning pushes into every
    branch) — never through ``qindex.postings()``, which resolves the
    manifest's final segment and so misses a percolator whose only
    segment is an increment. None when no segment exists yet."""
    from .manifest import Manifest, _success_marker
    man = Manifest.load(qindex.index_dir)
    paths = []
    if man and man.final_segment:
        seg = man.segment(man.final_segment)
        if seg is not None and _success_marker(seg.path):
            paths.append(seg.path)
    if man:
        paths += [s.path for s in man.segments
                  if s.segment_id.startswith("inc_")
                  and s.status == "complete" and _success_marker(s.path)]
    if not paths:
        return None
    out = None
    for p in paths:
        d = qindex.spark.read.parquet(p)
        out = d if out is None else out.unionByName(d)
    return out


def _percolate_impl(qindex, doc_text: str) -> DataFrame:
    spark = qindex.spark
    if "qid" not in (qindex.doc_values or ()) \
            or "required" not in (qindex.doc_values or ()):
        raise ValueError("not a percolator index — build it with "
                         "register_queries (needs qid/required "
                         "docvalue columns)")
    acfg = qindex.cfg.analyzer
    toks = sorted(set(tokenize_py(doc_text, acfg)))
    empty = spark.range(0).select(
        F.col("id").cast("string").alias("query_id"))
    if not toks:
        return empty
    # bucket pruning WITHOUT the lexicon (engine/xxh.py): increments
    # are not in the lexicon until compact, so membership pruning
    # would silently drop queries whose terms are new to the vocab
    from .xxh import term_bucket
    buckets = sorted({term_bucket(t, qindex.n_buckets) for t in toks})
    base = _live_postings(qindex)
    if base is None:
        return empty
    post = (base
            .filter(F.col("bucket").isin(buckets)
                    & F.col("term").isin(toks))
            .select("term", "shard", "doc_ids", "tfs"))
    width = qindex.shard_width
    dv_dir, dv_gen = qindex.index_dir, int(qindex.n_docs)
    del_locs = _del_closure(qindex)

    def fn(key_, pdf):
        import numpy as np
        import pandas as pd
        import pyarrow as _pa
        import pyarrow.compute as pc
        from . import codec as C
        from .docvalues import _load_shard
        out_empty = pd.DataFrame({"query_id": []})
        if len(pdf) == 0:
            return out_empty
        shard = int(pdf["shard"].iloc[0])
        start = shard * width
        cnt = np.zeros(width, dtype=np.int32)
        for i in range(len(pdf)):
            ids, _ = C.decode_postings(pdf["doc_ids"].iloc[i],
                                       pdf["tfs"].iloc[i])
            cnt[ids - start] += 1  # distinct terms per registered query
        if del_locs is not None:
            dl_ = del_locs(shard)
            if dl_ is not None:  # unregistered (tombstoned) queries
                cnt[dl_] = 0
        cand = np.flatnonzero(cnt > 0)
        if cand.size == 0:
            return out_empty
        slice_tbl = _load_shard(dv_dir, shard, dv_gen)
        if slice_tbl is None or slice_tbl.num_rows == 0:
            return out_empty
        sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
        idx_ = np.searchsorted(sloc, cand)
        ok = idx_ < sloc.size
        ok[ok] &= sloc[idx_[ok]] == cand[ok]
        cand, rows = cand[ok], idx_[ok]
        if cand.size == 0:
            return out_empty
        req_col = slice_tbl.column("required")
        req = pc.fill_null(pc.cast(req_col, _pa.int64()),
                           2 ** 31).to_numpy(zero_copy_only=False)
        hit = cnt[cand] >= req[rows]
        if not hit.any():
            return out_empty
        qids = (slice_tbl.column("qid")
                .take(_pa.array(rows[hit])).to_pandas().astype(object))
        return pd.DataFrame({"query_id": qids})

    matched = post.groupBy("shard").applyInPandas(fn, "query_id string")
    return matched.orderBy("query_id")
