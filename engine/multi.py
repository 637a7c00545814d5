"""Federated multi-index search (the ES multi-index / index-alias read
path): ONE BM25 ranking over several packed indexes with EXACT GLOBAL
statistics.

Why it exists at 100 TB: real deployments shard a corpus into many
physical indexes — daily/rolling partitions, per-tenant indexes, a big
batch-built base plus a small fresh delta — and a query must rank across
all of them as if they were one corpus. ES's default (per-shard local
stats) makes scores non-comparable across indexes; its dfs_query_then_fetch
mode fixes that with a stats pre-phase. Here the stats phase is
DRIVER-SIDE METADATA work (each index's memoized ``lookup_terms`` gives
per-term df; the manifest carries exact ``sum_dl``/``n_docs``), so global
idf/avgdl cost zero extra Spark jobs after first touch — then each index
runs its own pruned postings scan with the GLOBAL constants inlined in
the task closure, and the per-shard top-k unions into one global cut.

Frozen semantics (mirrored by the DuckDB twin ``bm25_multi``): scoring a
union corpus through N indexes is bit-identical to scoring one index
built over the union — df(t) = sum of per-index df, N = sum n_docs,
avgdl = sum(dl)/N, same frozen per-term ascending summation order (a doc
lives in exactly one index, so its sum is unchanged). Ties across
indexes break (score desc, index_id asc, doc_id asc).

Scale notes: the fan-out is embarrassingly parallel (each index's scan
is its own pruned job stage; Spark unions them into one physical plan),
per-shard output stays <= k rows, and the WAND cost gate applies PER
INDEX — block bounds (max_tf, min_dl) are stats-independent, so
Block-Max pruning with global idf/avgdl stays rank-safe on whichever
member indexes clear the gate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .analyzer import tokenize_py
from .query import (_del_closure, _doc_limit, _score_shard_batch,
                    _wand_pays, query_terms)


def _require_compat(indexes) -> None:
    """All member indexes must share the frozen scoring config: analyzer
    hooks (token space) and BM25 constants (score space). Mixed configs
    would silently rank apples against oranges — refuse loudly."""
    if not indexes:
        raise ValueError("search_multi needs at least one index")
    base = indexes[0].cfg
    for ix in indexes[1:]:
        c = ix.cfg
        if (c.bm25.k1, c.bm25.b, c.bm25.idf_variant) != \
                (base.bm25.k1, base.bm25.b, base.bm25.idf_variant):
            raise ValueError(
                f"member indexes disagree on BM25 constants: "
                f"{ix.index_dir} vs {indexes[0].index_dir}")
        if c.analyzer != base.analyzer:
            raise ValueError(
                f"member indexes disagree on the analyzer config: "
                f"{ix.index_dir} vs {indexes[0].index_dir}")


def global_stats(indexes) -> tuple[int, float]:
    """(N, avgdl) over the union corpus — exact, driver-side metadata.

    ``sum_dl`` is maintained exactly in every manifest (batch builds set
    it from the lexicon's cf sum — build_index; appends add the batch's
    token count — streaming.append_batch); the avgdl*n product fallback
    covers only pre-sum_dl legacy manifests."""
    from .manifest import Manifest
    n_g, sum_g = 0, 0
    for ix in indexes:
        man = Manifest.load(ix.index_dir)
        sdl = man.sum_dl if (man and man.sum_dl) else \
            round(ix.avgdl * ix.n_docs)
        n_g += ix.n_docs
        sum_g += sdl
    return n_g, (sum_g / n_g if n_g else 0.0)


def _idf(n_docs: int, df: int, variant: str) -> float:
    x = (n_docs - df + 0.5) / (df + 0.5)
    return math.log(1.0 + x) if variant == "lucene" else math.log(x)


def search_multi(indexes: list, query: str, k: int = 10, mode: str = "OR",
                 use_wand: "bool | str" = "auto",
                 exclude: str | None = None,
                 index_boosts: "list | None" = None) -> DataFrame:
    """BM25 top-k across several packed indexes with exact global stats.

    Returns (index_id, doc_id, score): ``index_id`` is the position in
    ``indexes``; ``doc_id`` is that index's OWN dense doc id (each
    member keeps its id space — the caller owns the mapping to any
    global key, e.g. via each index's corpus/docmap).

    Plan: per-term global df = sum of the members' memoized lexicon
    lookups (driver-side, zero jobs when warm) -> global idf/avgdl
    inlined into every member's task closure -> each member runs the
    same pruned-scan shard scorer as ``search`` (its own partition
    pruning, its own shard width) -> union -> one global
    TakeOrderedAndProject. AND requires every query term somewhere in
    the UNION corpus (per doc, arity still demands all terms — a doc
    can only match inside its own index). ``exclude`` drops docs
    containing any excluded term, per member (same frozen NOT contract
    as ``search``).

    ``index_boosts``: per-member positive weights (the ES
    ``indices_boost`` rule) — member ``i``'s scores multiply by
    ``index_boosts[i]`` AFTER the frozen summation (one JVM-side
    multiply per emitted row). A constant positive multiplier preserves
    each member's internal order, so per-member WAND routing stays
    rank-safe unchanged; only the cross-member interleave shifts."""
    _require_compat(indexes)
    if index_boosts is not None:
        if len(index_boosts) != len(indexes):
            raise ValueError(
                f"index_boosts must have one weight per index "
                f"(got {len(index_boosts)} for {len(indexes)})")
        index_boosts = [float(w) for w in index_boosts]
        if any(not math.isfinite(w) or w <= 0 for w in index_boosts):
            raise ValueError("index_boosts must be finite and > 0 "
                             "(a constant positive multiplier is what "
                             "keeps member-internal order, and WAND, "
                             "rank-safe)")
    spark = indexes[0].spark
    mode = mode.upper()
    acfg = indexes[0].cfg.analyzer
    empty = spark.range(0).select(
        F.col("id").cast("int").alias("index_id"),
        F.col("id").alias("doc_id"),
        F.lit(0.0).alias("score"))
    qtf = query_terms(query, acfg)
    if not qtf:
        return empty
    neg_all = sorted(set(tokenize_py(exclude, acfg)) - set(qtf)) \
        if exclude else []
    terms = sorted(qtf)
    lexes = [ix.lookup_terms(sorted(set(terms) | set(neg_all)))
             for ix in indexes]
    df_g = {t: sum(int(lex[t]["df"]) for lex in lexes if t in lex)
            for t in terms}
    known = [t for t in terms if df_g[t] > 0]
    if mode == "AND" and len(known) < len(terms):
        return empty  # a required term is absent from the union corpus
    if not known:
        return empty
    n_g, avgdl_g = global_stats(indexes)
    variant = indexes[0].cfg.bm25.idf_variant
    idfs = {t: _idf(n_g, df_g[t], variant) for t in known}
    qtfs = {t: float(qtf[t]) for t in known}
    cfgd = {"k1": indexes[0].cfg.bm25.k1, "b": indexes[0].cfg.bm25.b,
            "avgdl": avgdl_g}
    parts = []
    for i, (ix, lex) in enumerate(zip(indexes, lexes)):
        my_known = [t for t in known if t in lex]
        if not my_known:
            continue  # no query term lives in this member
        my_negs = [t for t in neg_all if t in lex]
        scan_terms = sorted(set(my_known) | set(my_negs))
        buckets = sorted({lex[t]["bucket"] for t in scan_terms})
        width = ix.shard_width
        routed = use_wand
        if my_negs:
            routed = False
        if routed == "auto" and mode == "OR":
            # the same per-member cost gate as search(): per-shard
            # posting mass + seed selectivity, from this member's df
            routed = _wand_pays([int(lex[t]["df"]) for t in my_known], ix)
        routed = bool(routed) and mode == "OR"
        cols = ["term", "shard", "df", "doc_ids", "tfs", "dls"] + (
            ["blocks", "max_tf"] if routed else [])
        post = (ix.postings()
                .filter(F.col("bucket").isin(buckets)
                        & F.col("term").isin(scan_terms))
                .select(*cols))
        del_locs = _del_closure(ix)
        # bind the per-member loop state via a factory (applyInPandas
        # inspects the signature: exactly (key, data) is allowed); the
        # member's shards score as one-entry sets with the GLOBAL idf
        # and avgdl, WAND decided above for the whole member
        def _make_fn(width, negs, del_locs, routed):
            def fn(key, post_pdf):
                import pandas as pd
                shard = int(key[0])
                r = _score_shard_batch(
                    post_pdf, {"": qtfs}, {"": mode}, idfs, cfgd, k, width,
                    routed, negs={"": negs},
                    denied_loc=(del_locs(shard)
                                if del_locs is not None else None))
                return (pd.DataFrame({"qid": [], "doc_id": [], "score": []})
                        if r is None else r)
            return fn

        scored = (post.groupBy("shard")
                  .applyInPandas(_make_fn(width, my_negs, del_locs, routed),
                                 "qid string, doc_id long, score double"))
        w_i = index_boosts[i] if index_boosts is not None else None
        score_col = (F.col("score") * F.lit(w_i)).alias("score") \
            if w_i is not None and w_i != 1.0 else F.col("score")
        parts.append(scored.select(F.lit(i).alias("index_id"),
                                   "doc_id", score_col))
    if not parts:
        return empty
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out.orderBy(F.desc("score"), F.asc("index_id"),
                        F.asc("doc_id"))
            .limit(min(int(k), sum(_doc_limit(ix, k) for ix in indexes))))
