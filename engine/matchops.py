"""Match-set operators beyond ranked retrieval: exact hit counting,
docvalue statistics over the match set, and more-like-this expansion.

These are the Elasticsearch `_count` / metric-aggregation / MLT
counterparts, built on the SAME pruned-scan + per-shard-kernel plan as
``engine.query`` (one partition-pruned, term-pushed postings read; a
vectorized Arrow kernel per doc-range shard; metadata-sized rows out):

* ``match_count``: the total number of documents matching a boolean
  query — ONE job whose shard tasks emit a single int64 each (the
  minimum any exact count can move); composes with ``exclude``,
  ``doc_filter``, ``dv_filter`` and tombstones exactly like ``search``.
* ``match_stats``: (n_docs, n_with_value, min, max, sum, avg) of a
  STORED docvalue column over the match set — served from each shard's
  own cached columnar slice (engine/docvalues.py): zero corpus scan,
  zero extra shuffle. Restricted to timestamp/integer columns so the
  cross-shard sum is an exact int64 reduction: float columns would make
  the total depend on shard reduction order, breaking the engine's
  bit-reproducibility contract (the oracle twin sums the same int64s).
  Timestamps aggregate in epoch MICROseconds and convert to seconds
  only at the end (one identical float division on both sides).
* ``more_like_this``: rank docs similar to a given document — the
  source doc's terms are scored tf x idf (corpus-global idf), the top
  ``max_terms`` survive under a frozen deterministic cap (tf*idf desc,
  term asc — the same cap-rule pattern as ``search_prefix``), and the
  selection runs as a standard OR query with qtf=1 per term, the
  source doc itself excluded. Everything driver-side is metadata-sized
  (one pruned corpus-row read + one memoized lexicon lookup); the
  scoring job is ``search``'s unchanged single-job plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .analyzer import tokenize_py
from .query import (_allowed_shards, _del_closure, _doc_limit,
                    _plan_cached, _require_dv, query_terms)

COUNT_SCHEMA = "n_docs long"
STATS_SCHEMA = ("n_docs long, n_with_value long, min_val double, "
                "max_val double, sum_val double, avg_val double")


def _match_kernel(index, qtf: dict, mode: str, exclude: str | None,
                  dv_filter: str | None):
    """Shared driver-side prep for the count/stats kernels: resolve the
    pruned scan + a per-shard ``hits(post_pdf, extra_allowed) ->
    int64 locs`` closure implementing search()'s exact match semantics
    (AND/OR arity, NOT, dv_filter, tombstones). Returns (post, fn) or
    None when the match set is provably empty."""
    acfg = index.cfg.analyzer
    neg = sorted(set(tokenize_py(exclude, acfg)) - set(qtf)) if exclude else []
    terms = sorted(qtf)
    lex = index.lookup_terms(sorted(set(terms) | set(neg)))
    known = [t for t in terms if t in lex]
    if not known or (mode == "AND" and len(known) < len(terms)):
        return None
    neg = [t for t in neg if t in lex]
    n_required = len(terms)
    scan_terms = sorted(set(known) | set(neg))
    buckets = sorted({lex[t]["bucket"] for t in scan_terms})
    post = (index.postings()
            .filter(F.col("bucket").isin(buckets)
                    & F.col("term").isin(scan_terms))
            .select("term", "shard", "doc_ids", "tfs"))
    width = index.shard_width
    neg_set = frozenset(neg)
    is_and = mode == "AND"
    _require_dv(index, dv_filter)
    dv_dir, dv_gen = index.index_dir, int(index.n_docs)
    del_locs = _del_closure(index)

    def hits(post_pdf, allowed_loc=None):
        """int64 shard-local offsets of matching docs (sorted)."""
        import numpy as np
        from . import codec as C
        shard = int(post_pdf["shard"].iloc[0])
        start = shard * width
        cnt = np.zeros(width, dtype=np.int32)
        negmask = np.zeros(width, dtype=bool) if neg_set else None
        for i in range(len(post_pdf)):
            ids, _ = C.decode_postings(post_pdf["doc_ids"].iloc[i],
                                       post_pdf["tfs"].iloc[i])
            loc = ids - start
            if post_pdf["term"].iloc[i] in neg_set:
                negmask[loc] = True
            else:
                cnt[loc] += 1
        if negmask is not None:
            cnt[negmask] = -1
        if del_locs is not None:
            dl_ = del_locs(shard)
            if dl_ is not None:
                cnt[dl_] = -1
        if dv_filter is not None:
            from .docvalues import eval_filter
            allow = np.zeros(width, dtype=bool)
            allow[eval_filter(dv_dir, shard, dv_gen, dv_filter)] = True
            cnt[~allow] = -1
        if allowed_loc is not None:
            allow = np.zeros(width, dtype=bool)
            allow[allowed_loc] = True
            cnt[~allow] = -1
        return np.flatnonzero(cnt == n_required) if is_and \
            else np.flatnonzero(cnt > 0)

    return post, hits, width


def _match_all_kernel(index, exclude: str | None, dv_filter: str | None):
    """``query == "*"`` (the ES ``match_all``) prep for the agg surface:
    the match set is EVERY live doc — including zero-token docs that
    appear in no posting list — so no positive postings scan runs at
    all. Each shard's candidates are the dense offsets
    ``arange(valid_width)``; ``exclude`` terms (if any) ride a postings
    scan pruned to just those terms, LEFT-joined onto the full shard
    list so shards without negative postings still emit their docs;
    tombstones and ``dv_filter`` compose exactly as in _match_kernel.

    Dense-ids precondition: refused after ``purge_deletes`` (purge
    leaves doc_id gaps that only the postings know about — a dense
    arange would resurrect purged docs). Tombstoned-but-unpurged docs
    are excluded via the shared del_closure, so the pre-purge lifecycle
    works fine.

    The 100 TB argument: match-all over N docs is O(N) by definition;
    this plan's only data movement is the per-shard partial rows the
    caller's aggregation emits — the postings and the corpus are never
    read (the one scanned input is the |exclude|-term slice, usually
    nothing)."""
    spark = index.spark
    width = index.shard_width
    n_docs = int(index.n_docs)
    n_ids = int(getattr(index, "n_ids", 0) or 0)
    if n_ids > n_docs:
        raise ValueError(
            "match-all ('*') is undefined after purge_deletes: purged "
            "doc_ids leave gaps a dense scan cannot see — aggregate "
            "with an explicit query, or reindex")
    if n_docs == 0:
        return None
    acfg = index.cfg.analyzer
    neg = sorted(set(tokenize_py(exclude, acfg))) if exclude else []
    lex = index.lookup_terms(neg) if neg else {}
    neg = [t for t in neg if t in lex]
    n_shards = (n_docs + width - 1) // width
    base = spark.createDataFrame([(s,) for s in range(n_shards)],
                                 "shard int")
    if neg:
        buckets = sorted({lex[t]["bucket"] for t in neg})
        negpost = (index.postings()
                   .filter(F.col("bucket").isin(buckets)
                           & F.col("term").isin(sorted(neg)))
                   .select("shard", "term", "doc_ids", "tfs"))
        post = base.join(negpost, "shard", "left")
    else:
        post = (base.withColumn("term", F.lit(None).cast("string"))
                .withColumn("doc_ids", F.lit(None).cast("binary"))
                .withColumn("tfs", F.lit(None).cast("binary")))
    _require_dv(index, dv_filter)
    dv_dir, dv_gen = index.index_dir, int(index.n_docs)
    del_locs = _del_closure(index)

    def hits(post_pdf, allowed_loc=None):
        import numpy as np
        from . import codec as C
        shard = int(post_pdf["shard"].iloc[0])
        start = shard * width
        valid = min(width, n_docs - start)
        cnt = np.zeros(width, dtype=np.int32)
        cnt[:valid] = 1
        for i in range(len(post_pdf)):
            if post_pdf["doc_ids"].iloc[i] is None:
                continue
            ids, _ = C.decode_postings(post_pdf["doc_ids"].iloc[i],
                                       post_pdf["tfs"].iloc[i])
            cnt[ids - start] = -1
        if del_locs is not None:
            dl_ = del_locs(shard)
            if dl_ is not None:
                cnt[dl_] = -1
        if dv_filter is not None:
            from .docvalues import eval_filter
            allow = np.zeros(width, dtype=bool)
            allow[eval_filter(dv_dir, shard, dv_gen, dv_filter)] = True
            cnt[~allow] = -1
        if allowed_loc is not None:
            allow = np.zeros(width, dtype=bool)
            allow[allowed_loc] = True
            cnt[~allow] = -1
        return np.flatnonzero(cnt > 0)

    return post, hits, width


def _prep_match(index, query: str, mode: str, exclude, dv_filter):
    """Shared query->kernel dispatch for every match-set aggregation:
    ``"*"`` routes to the match-all kernel (no positive postings scan),
    anything else analyzes and routes to _match_kernel; None = provably
    empty."""
    if (query or "").strip() == "*":
        return _match_all_kernel(index, exclude, dv_filter)
    qtf = query_terms(query, index.cfg.analyzer)
    return _match_kernel(index, qtf, mode, exclude, dv_filter) \
        if qtf else None


def match_count(index, query: str, mode: str = "OR",
                exclude: str | None = None,
                doc_filter: str | None = None,
                dv_filter: str | None = None) -> DataFrame:
    """Exact match count for a boolean query — the `_count` endpoint.

    Returns a single-row DataFrame ``(n_docs:long)``. Match semantics
    are IDENTICAL to ``search``'s (AND arity over distinct terms; NOT
    via ``exclude``; ``doc_filter``/``dv_filter`` candidate
    restriction; tombstones excluded) — search and count can never
    disagree, because the arity/mask logic is one shared kernel shape.

    Plan (the 100 TB argument): the same pruned postings scan as
    ``search`` reading ONLY the doc_ids/tfs streams (no dls, no WAND
    columns), then each shard task emits ONE int64 — a count moves the
    least data any exact answer can. No corpus scan unless
    ``doc_filter`` asks for one (same cogrouped allowed-set plan as
    search, predicate pushed into the corpus read).
    """
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    key = ("mc", query, mode, exclude, doc_filter, dv_filter)

    def build():
        spark = index.spark
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:  # empty match set: a driver-only LocalRelation
            return spark.range(1).select(
                F.lit(0).cast("long").alias("n_docs"))
        post, hits, width = prep

        if doc_filter is not None:
            allowed = _allowed_shards(index, doc_filter, width)

            def fnf(key_, post_pdf, allowed_pdf):
                import numpy as np
                import pandas as pd
                if len(post_pdf) == 0 or len(allowed_pdf) == 0:
                    return pd.DataFrame({"n": []})
                shard = int(post_pdf["shard"].iloc[0])
                loc = (allowed_pdf["doc_id"].to_numpy(np.int64)
                       - shard * width)
                return pd.DataFrame({"n": [int(hits(post_pdf, loc).size)]})

            partial = (post.groupBy("shard")
                       .cogroup(allowed.groupBy("shard"))
                       .applyInPandas(fnf, "n long"))
        else:
            def fn(key_, post_pdf):
                import pandas as pd
                if len(post_pdf) == 0:
                    return pd.DataFrame({"n": []})
                return pd.DataFrame({"n": [int(hits(post_pdf).size)]})

            partial = post.groupBy("shard").applyInPandas(fn, "n long")
        return partial.agg(F.coalesce(F.sum("n"), F.lit(0))
                           .cast("long").alias("n_docs"))

    return _plan_cached(index, key, build)


def match_stats(index, query: str, field: str, mode: str = "OR",
                exclude: str | None = None,
                dv_filter: str | None = None) -> DataFrame:
    """Metric aggregation over the match set: count / min / max / sum /
    avg of a STORED docvalue column for the docs matching a boolean
    query (the ES `aggs: {stats: {field: ...}}` pattern — e.g. "date
    range and volume of turns mentioning X").

    Returns one row: ``(n_docs, n_with_value, min_val, max_val,
    sum_val, avg_val)``. Timestamp columns aggregate at WHOLE-SECOND
    precision (epoch micros floor-divided to seconds — the frozen
    granularity; sub-second fractions would force float partial sums).
    NULL/absent values are excluded from the value stats but counted in
    ``n_docs``. Only timestamp/integer docvalue columns are accepted: a
    float column's cross-shard sum would depend on Spark's reduction
    order — the engine's results are bit-reproducible everywhere else,
    and a nondeterministic aggregate would be the one liar in the API.
    The whole pipeline reduces exact int64s (epoch-seconds x docs stays
    within int64 up to ~5e9 matched docs); the DuckDB oracle twin
    reduces the identical integers, and the final avg is one identical
    int/int double division on both sides.

    Plan: pruned postings scan -> per-shard kernel resolves the match
    set and gathers values from its OWN shard's cached docvalue slice
    (no corpus scan, no cogroup, no extra shuffle) -> each task emits
    ONE partial row (count/min/max/sum as int64) -> a single tiny final
    aggregation.
    """
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"stats field {field!r} is not a docvalue column of this "
            f"index (stored: {list(index.doc_values or ())}; build with "
            f"IndexConfig(doc_values=...))")
    # type gate from the store's parquet schema (driver-side metadata)
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    ftype = schema.field(field).type
    is_ts = pa.types.is_timestamp(ftype)
    if not (is_ts or pa.types.is_integer(ftype)):
        raise ValueError(
            f"match_stats({field!r}): only timestamp/integer docvalue "
            f"columns are supported — a float column's cross-shard sum "
            f"would depend on reduction order (non-reproducible); "
            f"stored type is {ftype}")
    key = ("ms", query, field, mode, exclude, dv_filter)

    def build():
        spark = index.spark
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        empty = spark.range(1).select(
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_with_value"),
            *[F.lit(None).cast("double").alias(c)
              for c in ("min_val", "max_val", "sum_val", "avg_val")])
        if prep is None:
            return empty
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            import pyarrow.compute as pc
            from .docvalues import _load_shard
            cols = ["n", "nv", "mn", "mx", "sm"]
            if len(post_pdf) == 0:
                return pd.DataFrame({c: [] for c in cols})
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return pd.DataFrame({c: [] for c in cols})
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                return pd.DataFrame({"n": [int(hit.size)], "nv": [0],
                                     "mn": [0], "mx": [0], "sm": [0]})
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            col = slice_tbl.column(field)
            nulls = col.is_null().to_numpy(zero_copy_only=False)
            if is_ts:
                # fill_null BEFORE to_numpy keeps the array int64 (a
                # nullable cast would surface as lossy float64); whole
                # seconds via floor division — exact
                micros = pc.fill_null(
                    pc.cast(col, _pa.timestamp("us")).cast(_pa.int64()),
                    0).to_numpy(zero_copy_only=False)
                vals = np.floor_divide(micros, 1_000_000)
            else:
                vals = pc.fill_null(col, 0).to_numpy(
                    zero_copy_only=False).astype(np.int64)
            # hit loc -> slice row (sloc is written sorted)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            rows = idx_[ok]
            rows = rows[~nulls[rows]]
            if rows.size == 0:
                return pd.DataFrame({"n": [int(hit.size)], "nv": [0],
                                     "mn": [0], "mx": [0], "sm": [0]})
            v = vals[rows]
            return pd.DataFrame({"n": [int(hit.size)],
                                 "nv": [int(v.size)],
                                 "mn": [int(v.min())],
                                 "mx": [int(v.max())],
                                 "sm": [int(v.sum())]})

        partial = post.groupBy("shard").applyInPandas(
            fn, "n long, nv long, mn long, mx long, sm long")
        agg = partial.agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("nv"), F.lit(0)).cast("long").alias("_nv"),
            F.min(F.when(F.col("nv") > 0, F.col("mn"))).alias("_mn"),
            F.max(F.when(F.col("nv") > 0, F.col("mx"))).alias("_mx"),
            F.sum(F.when(F.col("nv") > 0, F.col("sm"))).alias("_sm"))
        return agg.select(
            "n_docs", F.col("_nv").alias("n_with_value"),
            F.col("_mn").cast("double").alias("min_val"),
            F.col("_mx").cast("double").alias("max_val"),
            F.col("_sm").cast("double").alias("sum_val"),
            F.when(F.col("_nv") > 0,
                   F.col("_sm").cast("double") / F.col("_nv"))
            .alias("avg_val"))

    return _plan_cached(index, key, build)


def match_cardinality(index, query: str, field: str, mode: str = "OR",
                      exclude: str | None = None,
                      dv_filter: str | None = None) -> DataFrame:
    """EXACT distinct-value count of a STORED docvalue column over the
    match set (the ES `cardinality` aggregation, exact instead of HLL —
    e.g. "how many distinct conversations mention X").

    Returns one row ``(n_values:long)`` — the number of distinct
    non-NULL values of ``field`` among docs matching the boolean query
    (same shared arity/NOT/dv_filter/tombstone kernel as match_count,
    so count surfaces can never disagree on membership). The oracle
    twin is ``COUNT(DISTINCT field)`` over the matching docs.

    Plan (the 100 TB argument): pruned postings scan -> each shard task
    resolves its match set and emits its OWN shard's DISTINCT values
    (np.unique over the gathered docvalue slice — in-task, the map-side
    combine of a distinct) -> one hash-distinct exchange over per-shard
    distinct values -> count. Shuffle volume is bounded by
    sum(per-shard distinct values): for low-cardinality fields it is
    shards x values; for unique-per-doc fields it degrades to the match
    set size — the information-theoretic floor for an EXACT distinct
    (Spark's own COUNT DISTINCT moves the same), which is why engines
    offer HLL when approximation is acceptable. Exactness keeps the
    result bit-reproducible (the engine's contract) and DuckDB-checkable.
    """
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"cardinality field {field!r} is not a docvalue column of "
            f"this index (stored: {list(index.doc_values or ())})")
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    ftype = schema.field(field).type
    is_ts = pa.types.is_timestamp(ftype)
    key = ("mcard", query, field, mode, exclude, dv_filter)

    def build():
        spark = index.spark
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return spark.range(1).select(
                F.lit(0).cast("long").alias("n_values"))
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)
        out_t = "v string" if pa.types.is_string(ftype) else "v long"

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            import pyarrow.compute as pc
            from .docvalues import _load_shard
            empty = pd.DataFrame({"v": []})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                return empty
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            col = slice_tbl.column(field)
            nulls = col.is_null().to_numpy(zero_copy_only=False)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            rows = idx_[ok]
            rows = rows[~nulls[rows]]
            if rows.size == 0:
                return empty
            if is_ts:
                # whole-second epoch — the same frozen granularity as
                # match_stats/match_histogram (the twin uses epoch(ts))
                micros = pc.fill_null(
                    pc.cast(col, _pa.timestamp("us")).cast(_pa.int64()),
                    0).to_numpy(zero_copy_only=False)
                vals = np.unique(np.floor_divide(micros[rows], 1_000_000))
                return pd.DataFrame({"v": vals.astype(np.int64)})
            arr = col.take(_pa.array(rows, _pa.int64()))
            uniq = pc.unique(arr)
            return pd.DataFrame({"v": uniq.to_pandas()})

        partial = post.groupBy("shard").applyInPandas(fn, out_t)
        return partial.agg(
            F.count_distinct("v").cast("long").alias("n_values"))

    return _plan_cached(index, key, build)


def match_missing(index, query: str, field: str, mode: str = "OR",
                  exclude: str | None = None,
                  dv_filter: str | None = None) -> DataFrame:
    """ES ``missing`` aggregation: how many docs in the match set have
    NO value for a stored docvalue column (NULL value or no docvalue
    row at all — both mean "the attribute is unknown", the same rule
    every docvalue consumer here uses: boosts treat them as 1.0,
    collapse/sort exclude them, stats skip them).

    Returns one row ``(n_docs:long, n_missing:long)`` — match-set size
    and its missing-value count; works for ANY stored column type
    (unlike match_stats, which is numeric-only — a missing count has no
    reduction-order hazard).

    Plan: the shared match kernel; each shard task counts its own
    missing offsets against its cached docvalue slice (two searchsorted
    passes, no value materialization) and emits ONE partial row; a tiny
    final sum. Shuffle volume = one row per shard."""
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"missing-agg field {field!r} is not a docvalue column of "
            f"this index (stored: {list(index.doc_values or ())})")
    key = ("mmiss", query, field, mode, exclude, dv_filter)

    def build():
        spark = index.spark
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return spark.range(1).select(
                F.lit(0).cast("long").alias("n_docs"),
                F.lit(0).cast("long").alias("n_missing"))
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            from .docvalues import _load_shard
            empty = pd.DataFrame({"n": [], "miss": []})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                # no docvalue rows in this shard: everything is missing
                return pd.DataFrame({"n": [int(hit.size)],
                                     "miss": [int(hit.size)]})
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            nulls = slice_tbl.column(field).is_null() \
                .to_numpy(zero_copy_only=False)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            n_present = int(np.count_nonzero(~nulls[idx_[ok]]))
            return pd.DataFrame({"n": [int(hit.size)],
                                 "miss": [int(hit.size) - n_present]})

        partial = post.groupBy("shard").applyInPandas(
            fn, "n long, miss long")
        return partial.agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("miss"), F.lit(0)).cast("long")
            .alias("n_missing"))

    return _plan_cached(index, key, build)


def match_string_stats(index, query: str, field: str, mode: str = "OR",
                       exclude: str | None = None,
                       dv_filter: str | None = None) -> DataFrame:
    """ES ``string_stats`` aggregation over a stored keyword docvalue:
    ``(n_docs, n_with_value, min_len, max_len, avg_len, entropy)``.
    Lengths are Python-``len`` code points (== DuckDB ``length``);
    ``entropy`` is the Shannon entropy of the CHARACTER distribution
    across all non-NULL values (the published ES contract). All
    reductions are exact int64s (char counts, length sum); the only
    float math is the final entropy/avg division, computed ONCE
    driver-side over the globally-merged counts in frozen char-asc
    order — bit-reproducible regardless of shard count.

    Plan: shared match kernel; each shard emits its length partial (one
    row) plus its own char-count rows (bounded by its alphabet, never
    docs); one tiny hash agg merges counts; the alphabet-sized result is
    collected driver-side (metadata-sized) for the frozen-order entropy
    sum. The returned single row is a LocalRelation — no further job."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"string_stats field {field!r} is not a docvalue column of "
            f"this index (stored: {list(index.doc_values or ())})")
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    if not pa.types.is_string(schema.field(field).type):
        raise ValueError(
            f"match_string_stats({field!r}) wants a string docvalue "
            f"(stored type: {schema.field(field).type}); use match_stats "
            f"for numeric/timestamp columns")
    key = ("msstr", query, field, mode, exclude, dv_filter)

    def build():
        import math
        spark = index.spark

        def _result(n, nv, mn, mx, sm, ent):
            return spark.range(1).select(
                F.lit(n).cast("long").alias("n_docs"),
                F.lit(nv).cast("long").alias("n_with_value"),
                F.lit(mn).cast("long").alias("min_len"),
                F.lit(mx).cast("long").alias("max_len"),
                (F.lit(float(sm) / nv) if nv else F.lit(None))
                .cast("double").alias("avg_len"),
                F.lit(ent).cast("double").alias("entropy"))

        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return _result(0, 0, None, None, 0, 0.0)
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            from .docvalues import _load_shard
            cols = ("c", "cnt", "n", "nv", "mn", "mx", "sm")
            empty = pd.DataFrame({k: [] for k in cols})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                return pd.DataFrame(
                    {"c": [None], "cnt": [0], "n": [int(hit.size)],
                     "nv": [0], "mn": [0], "mx": [0], "sm": [0]})
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            col = slice_tbl.column(field)
            nulls = col.is_null().to_numpy(zero_copy_only=False)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            rows = idx_[ok]
            rows = rows[~nulls[rows]]
            if rows.size == 0:
                return pd.DataFrame(
                    {"c": [None], "cnt": [0], "n": [int(hit.size)],
                     "nv": [0], "mn": [0], "mx": [0], "sm": [0]})
            vals = col.take(_pa.array(rows, _pa.int64())) \
                .to_pandas().tolist()
            lens = [len(v) for v in vals]
            from collections import Counter
            cc = Counter("".join(vals))
            out = pd.DataFrame({"c": list(cc.keys()),
                                "cnt": list(cc.values())})
            out["n"] = 0
            out["nv"] = 0
            out["mn"] = 0
            out["mx"] = 0
            out["sm"] = 0
            head = pd.DataFrame(
                {"c": [None], "cnt": [0], "n": [int(hit.size)],
                 "nv": [int(len(lens))], "mn": [int(min(lens))],
                 "mx": [int(max(lens))], "sm": [int(sum(lens))]})
            return pd.concat([head, out], ignore_index=True)

        partial = post.groupBy("shard").applyInPandas(
            fn, "c string, cnt long, n long, nv long, mn long, mx long, "
                "sm long")
        merged = partial.groupBy("c").agg(
            F.sum("cnt").alias("cnt"), F.sum("n").alias("n"),
            F.sum("nv").alias("nv"),
            F.min(F.when(F.col("nv") > 0, F.col("mn"))).alias("mn"),
            F.max(F.when(F.col("nv") > 0, F.col("mx"))).alias("mx"),
            F.sum("sm").alias("sm")).collect()  # alphabet-sized
        n = nv = sm = 0
        mn = mx = None
        counts = {}
        for r in merged:
            if r.c is None:
                n, nv, sm = int(r.n), int(r.nv), int(r.sm)
                mn = None if r.mn is None else int(r.mn)
                mx = None if r.mx is None else int(r.mx)
            elif r.cnt:
                counts[r.c] = counts.get(r.c, 0) + int(r.cnt)
        if not merged:
            return _result(0, 0, None, None, 0, 0.0)
        total = sum(counts.values())
        ent = 0.0
        for ch in sorted(counts):  # frozen order: char asc
            p = counts[ch] / total
            ent -= p * math.log2(p)
        return _result(n, nv, mn, mx, sm, ent)

    return _plan_cached(index, key, build)


HISTOGRAM_SCHEMA = "bucket_start long, n_docs long"


def match_histogram(index, query: str, field: str, interval_s: int,
                    mode: str = "OR", exclude: str | None = None,
                    dv_filter: str | None = None) -> DataFrame:
    """Date-histogram aggregation over the match set (the ES
    `date_histogram` pattern — "matching turns per day/week over
    time"): doc counts per fixed-width time bucket of a STORED
    timestamp/integer docvalue column.

    Returns ``(bucket_start:long, n_docs:long)`` rows ordered by
    bucket_start, where ``bucket_start = floor(value / interval_s) *
    interval_s`` in epoch seconds (timestamps at whole-second
    precision, floor semantics — the frozen rule the SQL twin
    replicates with integer division). Docs with NULL/absent values
    contribute no bucket (count them via ``match_count`` if needed).

    Plan: the same pruned postings scan + shared arity kernel as
    ``match_count``; each shard task histograms its OWN docvalue slice
    in-task (np.unique over int64 bucket ids) and emits one
    (bucket, partial-count) row per NON-EMPTY bucket — shuffle volume
    is bounded by buckets-per-shard, never docs. One narrow hash
    aggregation finishes; everything reduced is an exact int64.
    """
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    interval_s = int(interval_s)
    if interval_s <= 0:
        raise ValueError("interval_s must be a positive whole number "
                         "of seconds")
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"histogram field {field!r} is not a docvalue column of this "
            f"index (stored: {list(index.doc_values or ())})")
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    ftype = schema.field(field).type
    is_ts = pa.types.is_timestamp(ftype)
    if not (is_ts or pa.types.is_integer(ftype)):
        raise ValueError(
            f"match_histogram({field!r}): only timestamp/integer "
            f"docvalue columns are supported; stored type is {ftype}")
    key = ("mh", query, field, interval_s, mode, exclude, dv_filter)

    def build():
        spark = index.spark
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return spark.createDataFrame([], HISTOGRAM_SCHEMA)
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            import pyarrow.compute as pc
            from .docvalues import _load_shard
            empty = pd.DataFrame({"b": [], "n": []})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                return empty
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            col = slice_tbl.column(field)
            nulls = col.is_null().to_numpy(zero_copy_only=False)
            if is_ts:
                micros = pc.fill_null(
                    pc.cast(col, _pa.timestamp("us")).cast(_pa.int64()),
                    0).to_numpy(zero_copy_only=False)
                vals = np.floor_divide(micros, 1_000_000)
            else:
                vals = pc.fill_null(col, 0).to_numpy(
                    zero_copy_only=False).astype(np.int64)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            rows = idx_[ok]
            rows = rows[~nulls[rows]]
            if rows.size == 0:
                return empty
            buckets = np.floor_divide(vals[rows], interval_s) * interval_s
            ub, cnt = np.unique(buckets, return_counts=True)
            return pd.DataFrame({"b": ub.astype(np.int64),
                                 "n": cnt.astype(np.int64)})

        partial = post.groupBy("shard").applyInPandas(fn, "b long, n long")
        return (partial.groupBy("b")
                .agg(F.sum("n").cast("long").alias("n_docs"))
                .select(F.col("b").alias("bucket_start"), "n_docs")
                .orderBy("bucket_start"))

    return _plan_cached(index, key, build)


PIPELINE_SCHEMA = ("bucket_start long, n_docs long, cum_docs long, "
                   "delta_docs long")


def match_histogram_pipeline(index, query: str, field: str, interval_s: int,
                             mode: str = "OR", exclude: str | None = None,
                             dv_filter: str | None = None) -> DataFrame:
    """Pipeline aggregations over the date histogram (the ES
    ``cumulative_sum`` + ``derivative`` pipeline aggs, with the parent
    ``date_histogram``'s empty-bucket densification): every bucket from
    the first to the last NON-EMPTY bucket is emitted (``n_docs = 0``
    fills the gaps — ES ``min_doc_count: 0``), plus ``cum_docs`` (the
    running total of ``n_docs``) and ``delta_docs`` (``n_docs`` minus
    the previous bucket's; NULL on the first bucket — the ES derivative
    contract, which is only well-defined over a gap-free bucket axis).

    Returns ``(bucket_start, n_docs, cum_docs, delta_docs)`` ordered by
    ``bucket_start``; all counts exact int64.

    Plan (the 100 TB argument): the heavy work is ``match_histogram``'s
    unchanged one-job plan — pruned postings scan, per-shard IN-TASK
    histogramming, shuffle bounded by buckets-per-shard. Densification
    and the two window columns run over that RESULT, a relation bounded
    by ``(max - min) / interval_s`` rows — the queried time range, never
    the corpus — so the ``sequence``/``explode`` grid and the
    single-partition window cost metadata. (A corpus 100x larger with
    the same time span yields the same number of bucket rows.)
    """
    h = match_histogram(index, query, field, interval_s, mode, exclude,
                        dv_filter)
    key = ("mhp", query, field, int(interval_s), mode.upper(), exclude,
           dv_filter)

    def build():
        from pyspark.sql import Window
        step = int(interval_s)
        grid = (h.agg(F.min("bucket_start").alias("lo"),
                      F.max("bucket_start").alias("hi"))
                .where(F.col("lo").isNotNull())
                .select(F.explode(F.sequence("lo", "hi", F.lit(step)))
                        .alias("bucket_start")))
        dense = (grid.join(h, "bucket_start", "left")
                 .select("bucket_start",
                         F.coalesce("n_docs", F.lit(0)).cast("long")
                         .alias("n_docs")))
        w = Window.orderBy("bucket_start")
        return (dense
                .withColumn("cum_docs",
                            F.sum("n_docs").over(w).cast("long"))
                .withColumn("delta_docs",
                            (F.col("n_docs") - F.lag("n_docs").over(w))
                            .cast("long"))
                .orderBy("bucket_start"))

    return _plan_cached(index, key, build)


def match_histogram_having(index, query: str, field: str, interval_s: int,
                           having: str, mode: str = "OR",
                           exclude: str | None = None,
                           dv_filter: str | None = None) -> DataFrame:
    """ES ``bucket_selector`` pipeline agg: keep only the histogram
    buckets passing an ANSI-SQL predicate over the bucket columns
    (``bucket_start``, ``n_docs``, ``cum_docs``, ``delta_docs`` — the
    densified ``match_histogram_pipeline`` axis, so running-total and
    derivative predicates work; ``delta_docs`` is NULL on the first
    bucket, and a predicate over NULL drops the bucket — standard SQL
    three-valued logic, the frozen rule the DuckDB twin shares).

    Keep the predicate to the ANSI subset Spark SQL and DuckDB parse
    identically (the dv_filter rule) so the oracle twin is the literal
    same string. Plan: the parent pipeline's unchanged one-job plan +
    a Filter over the bucket-bounded result — selection never touches
    the corpus, exactly like the ES pipeline agg (which runs driver-side
    over the reduced buckets)."""
    h = match_histogram_pipeline(index, query, field, interval_s, mode,
                                 exclude, dv_filter)
    key = ("mhh", query, field, int(interval_s), having, mode.upper(),
           exclude, dv_filter)
    return _plan_cached(index, key,
                        lambda: h.where(F.expr(having))
                        .orderBy("bucket_start"))


def match_histogram_top(index, query: str, field: str, interval_s: int,
                        n: int = 5, asc: bool = False,
                        mode: str = "OR", exclude: str | None = None,
                        dv_filter: str | None = None) -> DataFrame:
    """ES ``bucket_sort`` pipeline agg: the parent date-histogram's
    buckets re-ranked by doc count and truncated — "the N busiest
    (or quietest) weeks of the match set". Frozen order:
    ``n_docs`` desc (asc when ``asc=True``), ``bucket_start`` asc as
    the tiebreak; only NON-EMPTY parent buckets participate (the ES
    contract — bucket_sort runs over the parent's emitted buckets, and
    the parent emits min_doc_count >= 1 here).

    Returns ``(bucket_start, n_docs)``, ordered by the sort above.
    Plan: the parent histogram's one-job plan + TakeOrderedAndProject
    over the bucket-bounded result — the sort input is |buckets| rows,
    never docs (the 100 TB argument is the parent's)."""
    h = match_histogram(index, query, field, interval_s, mode, exclude,
                        dv_filter)
    n = int(n)
    if n <= 0:
        raise ValueError("n must be >= 1")
    key = ("mht", query, field, int(interval_s), n, bool(asc),
           mode.upper(), exclude, dv_filter)
    order = [F.col("n_docs").asc() if asc else F.col("n_docs").desc(),
             F.col("bucket_start").asc()]
    return _plan_cached(index, key, lambda: h.orderBy(*order).limit(n))


def match_ranges(index, query: str, field: str, edges,
                 mode: str = "OR", exclude: str | None = None,
                 dv_filter: str | None = None) -> DataFrame:
    """Range aggregation over the match set (the ES `range` agg —
    arbitrary bucket boundaries where ``match_histogram`` is
    fixed-interval): doc counts per half-open bucket of a STORED
    timestamp/integer docvalue column.

    ``edges``: sorted distinct ints (epoch SECONDS for timestamp
    columns). n edges define n+1 buckets: ``(-inf, e0), [e0, e1), ...,
    [e_{n-1}, +inf)`` — the frozen half-open rule (value v lands in
    bucket ``searchsorted(edges, v, right)``; the SQL twin replicates it
    with a CASE chain of ``v < e`` tests). Returns ``(lo, hi, n_docs)``
    ordered by bucket position, NULL lo/hi on the unbounded ends; empty
    buckets emit no row; NULL/absent values contribute nothing.

    Plan: identical to ``match_histogram`` — pruned scan + shared arity
    kernel, each shard bincounts its OWN docvalue slice in-task and
    emits one (bucket, partial) row per non-empty bucket (shuffle volume
    <= n+1 rows per shard), one narrow final aggregation, then a
    broadcast join against the <= n+1-row driver-built edge table."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    edges = [int(e) for e in edges]
    if not edges or sorted(set(edges)) != edges:
        raise ValueError("edges must be a non-empty sorted list of "
                         "distinct integers")
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"range field {field!r} is not a docvalue column of this "
            f"index (stored: {list(index.doc_values or ())})")
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    ftype = schema.field(field).type
    is_ts = pa.types.is_timestamp(ftype)
    if not (is_ts or pa.types.is_integer(ftype)):
        raise ValueError(
            f"match_ranges({field!r}): only timestamp/integer docvalue "
            f"columns are supported; stored type is {ftype}")
    key = ("mr", query, field, tuple(edges), mode, exclude, dv_filter)

    def build():
        spark = index.spark
        out_schema = "lo long, hi long, n_docs long"
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return spark.createDataFrame([], out_schema)
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)
        n_edges = len(edges)

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            import pyarrow.compute as pc
            from .docvalues import _load_shard
            empty = pd.DataFrame({"b": [], "n": []})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                return empty
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            col = slice_tbl.column(field)
            nulls = col.is_null().to_numpy(zero_copy_only=False)
            if is_ts:
                micros = pc.fill_null(
                    pc.cast(col, _pa.timestamp("us")).cast(_pa.int64()),
                    0).to_numpy(zero_copy_only=False)
                vals = np.floor_divide(micros, 1_000_000)
            else:
                vals = pc.fill_null(col, 0).to_numpy(
                    zero_copy_only=False).astype(np.int64)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            rows = idx_[ok]
            rows = rows[~nulls[rows]]
            if rows.size == 0:
                return empty
            b = np.searchsorted(np.asarray(edges, dtype=np.int64),
                                vals[rows], side="right")
            cnt = np.bincount(b, minlength=n_edges + 1)
            nz = np.flatnonzero(cnt)
            return pd.DataFrame({"b": nz.astype(np.int64),
                                 "n": cnt[nz].astype(np.int64)})

        partial = post.groupBy("shard").applyInPandas(fn, "b long, n long")
        # <= n+1-row driver-built edge table; the broadcast join decorates
        # bucket ids with their bounds (NULL on the unbounded ends)
        bounds = spark.createDataFrame(
            [(i,
              edges[i - 1] if i > 0 else None,
              edges[i] if i < n_edges else None)
             for i in range(n_edges + 1)],
            "b long, lo long, hi long")
        return (partial.groupBy("b")
                .agg(F.sum("n").cast("long").alias("n_docs"))
                .join(F.broadcast(bounds), "b")
                .orderBy("b").select("lo", "hi", "n_docs"))

    return _plan_cached(index, key, build)


def facet_stats(index, query: str, group_field: str, stat_field: str,
                mode: str = "OR", exclude: str | None = None,
                dv_filter: str | None = None,
                order_by: str = "count", ascending: bool = False,
                n: int | None = None) -> DataFrame:
    """Terms aggregation with a stats sub-aggregation (the ES
    ``aggs: {terms: {field: g}, aggs: {stats: {field: v}}}`` pattern —
    "per language: how many matching turns, and their time range"):
    for each distinct value of ``group_field`` among the matching docs,
    the count plus min/max/sum/avg of ``stat_field``.

    Returns ``(facet_value, n_docs, n_with_value, min_val, max_val,
    sum_val, avg_val)`` ordered (n_docs desc, facet_value asc) — the
    facets() presentation order. ``facet_value`` is the group value cast
    to string; docs with a NULL group value aggregate into a NULL row
    (SQL GROUP BY semantics, the facets() rule); NULL stat values are
    excluded from the value stats but counted in ``n_docs``. Stat
    columns are gated to timestamp/integer exactly like ``match_stats``
    (exact int64 reduction; timestamps at whole-second precision).

    Plan: pruned scan + shared arity kernel; each shard task reduces its
    OWN docvalue slice per group in-task (pandas groupby over <= |shard
    hits| rows) and emits one partial row per (group, shard) — shuffle
    volume is groups-per-shard, never docs; one narrow final hash
    aggregation over group values."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    for f_ in (group_field, stat_field):
        if f_ not in (index.doc_values or ()):
            raise ValueError(
                f"{f_!r} is not a docvalue column of this index "
                f"(stored: {list(index.doc_values or ())})")
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    stype = schema.field(stat_field).type
    is_ts = pa.types.is_timestamp(stype)
    if not (is_ts or pa.types.is_integer(stype)):
        raise ValueError(
            f"facet_stats(stat_field={stat_field!r}): only timestamp/"
            f"integer docvalue columns are supported; stored type is "
            f"{stype}")
    order_by = order_by.lower()
    if order_by not in ("count", "min", "max", "sum", "avg"):
        raise ValueError(f"order_by must be count/min/max/sum/avg "
                         f"(got {order_by!r})")
    if n is not None and int(n) <= 0:
        raise ValueError("n must be >= 1")
    key = ("fs", query, group_field, stat_field, mode, exclude, dv_filter,
           order_by, bool(ascending), None if n is None else int(n))

    def build():
        spark = index.spark
        out_schema = ("facet_value string, n_docs long, n_with_value long, "
                      "min_val double, max_val double, sum_val double, "
                      "avg_val double")
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return spark.createDataFrame([], out_schema)
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)
        cols = ["g", "n", "nv", "mn", "mx", "sm"]

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            import pyarrow.compute as pc
            from .docvalues import _load_shard
            empty = pd.DataFrame({c: [] for c in cols})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                return empty
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            gcol = pc.cast(slice_tbl.column(group_field), _pa.string())
            scol = slice_tbl.column(stat_field)
            snull = scol.is_null().to_numpy(zero_copy_only=False)
            if is_ts:
                micros = pc.fill_null(
                    pc.cast(scol, _pa.timestamp("us")).cast(_pa.int64()),
                    0).to_numpy(zero_copy_only=False)
                vals = np.floor_divide(micros, 1_000_000)
            else:
                vals = pc.fill_null(scol, 0).to_numpy(
                    zero_copy_only=False).astype(np.int64)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            rows = idx_[ok]
            if rows.size == 0:
                return empty
            pdf = pd.DataFrame({
                "g": gcol.take(_pa.array(rows)).to_pandas().astype(object),
                "v": vals[rows],
                "has": ~snull[rows]})
            # per-(group, shard) partials; dropna=False keeps the NULL
            # group row (SQL GROUP BY semantics, the facets() rule)
            out = []
            for g, grp in pdf.groupby("g", dropna=False, sort=False):
                v = grp["v"][grp["has"]]
                out.append((None if pd.isna(g) else g, len(grp), len(v),
                            int(v.min()) if len(v) else 0,
                            int(v.max()) if len(v) else 0,
                            int(v.sum()) if len(v) else 0))
            return pd.DataFrame(out, columns=cols)

        partial = post.groupBy("shard").applyInPandas(
            fn, "g string, n long, nv long, mn long, mx long, sm long")
        agg = (partial.groupBy("g")
               .agg(F.sum("n").cast("long").alias("n_docs"),
                    F.sum("nv").cast("long").alias("_nv"),
                    F.min(F.when(F.col("nv") > 0, F.col("mn"))).alias("_mn"),
                    F.max(F.when(F.col("nv") > 0, F.col("mx"))).alias("_mx"),
                    F.sum(F.when(F.col("nv") > 0, F.col("sm"))).alias("_sm")))
        out = (agg.select(
            F.col("g").alias("facet_value"), "n_docs",
            F.col("_nv").alias("n_with_value"),
            F.col("_mn").cast("double").alias("min_val"),
            F.col("_mx").cast("double").alias("max_val"),
            F.col("_sm").cast("double").alias("sum_val"),
            F.when(F.col("_nv") > 0,
                   F.col("_sm").cast("double") / F.col("_nv"))
            .alias("avg_val")))
        # ES terms-agg ordering: by doc count (default) or by a stats
        # sub-agg metric (_order_: {"stats.avg": ...}); frozen rule —
        # metric NULLs (groups with no stat values) rank LAST either
        # direction, tiebreak facet_value asc (NULL group first, the
        # facets() rule)
        col = {"count": "n_docs", "min": "min_val", "max": "max_val",
               "sum": "sum_val", "avg": "avg_val"}[order_by]
        primary = (F.asc_nulls_last(col) if ascending
                   else F.desc_nulls_last(col))
        out = out.orderBy(primary, F.asc_nulls_first("facet_value"))
        return out.limit(int(n)) if n is not None else out

    return _plan_cached(index, key, build)


def rare_terms(index, query: str, field: str, max_doc_count: int = 1,
               n: int = 10, mode: str = "OR",
               exclude: str | None = None,
               dv_filter: str | None = None) -> DataFrame:
    """ES ``rare_terms`` aggregation, exact (ES uses a CuckooFilter
    approximation): the distinct values of a stored docvalue column
    whose GLOBAL doc count over the match set is <= ``max_doc_count``
    — the long-tail complement of the terms agg ("which sources appear
    at most twice among turns mentioning X"). NULL values never form a
    bucket (the ES contract: rare_terms skips missing).

    Returns ``(facet_value:string, n_docs:long)`` ordered
    (n_docs asc, facet_value asc), limited to ``n`` rows.

    Plan: the shared match kernel; each shard emits its OWN distinct
    (value, count) rows (map-side combine, shuffle bounded by per-shard
    distinct values — the same exact-answer floor as
    match_cardinality); one hash agg merges counts; the rarity filter
    runs AFTER the global merge (a value can be locally rare but
    globally common), then TakeOrderedAndProject."""
    import pyarrow as pa
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    max_doc_count = int(max_doc_count)
    if max_doc_count < 1:
        raise ValueError("max_doc_count must be >= 1")
    n = int(n)
    if n < 1:
        raise ValueError("n must be >= 1")
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"rare_terms field {field!r} is not a docvalue column of "
            f"this index (stored: {list(index.doc_values or ())})")
    key = ("rare", query, field, max_doc_count, n, mode, exclude,
           dv_filter)

    def build():
        spark = index.spark
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return spark.createDataFrame(
                [], "facet_value string, n_docs long")
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            import pyarrow.compute as pc
            from .docvalues import _load_shard
            empty = pd.DataFrame({"v": [], "cnt": []})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                return empty
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            col = slice_tbl.column(field)
            nulls = col.is_null().to_numpy(zero_copy_only=False)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            rows = idx_[ok]
            rows = rows[~nulls[rows]]
            if rows.size == 0:
                return empty
            vals = pc.cast(col.take(_pa.array(rows, _pa.int64())),
                           _pa.string())
            vc = pc.value_counts(vals)
            return pd.DataFrame(
                {"v": vc.field("values").to_pandas(),
                 "cnt": vc.field("counts").to_pandas()})

        partial = post.groupBy("shard").applyInPandas(
            fn, "v string, cnt long")
        return (partial.groupBy("v")
                .agg(F.sum("cnt").cast("long").alias("n_docs"))
                .where(F.col("n_docs") <= max_doc_count)
                .select(F.col("v").alias("facet_value"), "n_docs")
                .orderBy(F.asc("n_docs"), F.asc("facet_value"))
                .limit(n))

    return _plan_cached(index, key, build)


def match_composite(index, query: str, fields, size: int = 10,
                    after=None, mode: str = "OR",
                    exclude: str | None = None,
                    dv_filter: str | None = None) -> DataFrame:
    """Composite aggregation over the match set — the ES ``composite``
    agg: paginated iteration over the FULL bucket space of one or more
    key sources, ordered by the key tuple, resumable from an
    ``after`` key. Where ``facets``/``facet_stats`` present the top of
    one dimension, composite walks EVERY (k1, k2, ...) combination in
    deterministic pages — the building block for exporting a complete
    aggregation without ever materializing it driver-side.

    Frozen contract (mirrored by the DuckDB twin in
    ``__spark_entry__._composite_sql``):

    * ``fields``: 1..N STORED docvalue columns (string / integer /
      timestamp). Key emission: strings as-is, integers as int64,
      timestamps at the engine's frozen whole-second grain (epoch
      seconds, int64) — so key ordering is exact on both sides;
    * docs with a NULL value in ANY key column are EXCLUDED (the
      collapse / search_sorted NULL rule);
    * buckets are ordered (k1 asc, k2 asc, ...) — codepoint order for
      strings — and a page is the first ``size`` buckets whose key
      tuple is LEXICOGRAPHICALLY GREATER than ``after`` (pass the
      previous page's last row's key values back verbatim; None = the
      first page). Pages are disjoint and complete: walking until
      empty enumerates every bucket exactly once;
    * counts are exact int64 over ``search``'s exact match set
      (AND/OR arity, NOT via ``exclude``, ``dv_filter``, tombstones).

    Plan (the 100 TB argument): the same pruned postings scan + shared
    arity kernel as ``match_count``; each shard task reduces its OWN
    docvalue slice to per-(tuple, shard) partial counts in-task
    (pandas groupby over <= |shard hits| rows), so shuffle volume is
    distinct-tuples-per-shard, never docs; the after-key predicate is
    applied INSIDE the shard task (already-walked buckets never leave
    it — page N's shuffle volume shrinks as the walk advances, the
    property that makes a full walk of a 10^9-bucket axis
    O(total buckets) in shuffled rows, not O(pages x buckets)) and
    again on the aggregated axis as a guard; the page cut is one
    TakeOrderedAndProject. Page N never rescans pages 1..N-1's docs.
    """
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    fields = list(fields)
    if not fields:
        raise ValueError("match_composite needs at least one key field")
    size = int(size)
    if size <= 0:
        raise ValueError("size must be a positive page size")
    if after is not None:
        after = list(after)
        if len(after) != len(fields):
            raise ValueError(
                f"after key has {len(after)} values for {len(fields)} "
                f"fields — pass the previous page's last row's keys")
    for f_ in fields:
        if f_ not in (index.doc_values or ()):
            raise ValueError(
                f"{f_!r} is not a docvalue column of this index "
                f"(stored: {list(index.doc_values or ())})")
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    kinds = []  # per field: "str" | "int" | "ts"
    for f_ in fields:
        t = schema.field(f_).type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            kinds.append("str")
        elif pa.types.is_timestamp(t):
            kinds.append("ts")
        elif pa.types.is_integer(t):
            kinds.append("int")
        else:
            raise ValueError(
                f"match_composite({f_!r}): only string/integer/"
                f"timestamp key columns are supported; stored type "
                f"is {t}")
    key = ("cmp", query, tuple(fields), size,
           tuple(after) if after is not None else None, mode, exclude,
           dv_filter)

    def build():
        spark = index.spark
        sql_t = {"str": "string", "int": "long", "ts": "long"}
        out_schema = ", ".join(
            [f"{f_} {sql_t[k_]}" for f_, k_ in zip(fields, kinds)]
            + ["n_docs long"])
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return spark.createDataFrame([], out_schema)
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)
        part_schema = ", ".join(
            [f"{f_} {sql_t[k_]}" for f_, k_ in zip(fields, kinds)]
            + ["n long"])

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            import pyarrow.compute as pc
            from .docvalues import _load_shard
            empty = pd.DataFrame({c: [] for c in fields + ["n"]})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            slice_tbl = _load_shard(dv_dir, shard, dv_gen)
            if slice_tbl is None or slice_tbl.num_rows == 0:
                return empty
            sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
            idx_ = np.searchsorted(sloc, hit)
            ok = idx_ < sloc.size
            ok[ok] &= sloc[idx_[ok]] == hit[ok]
            rows = idx_[ok]
            if rows.size == 0:
                return empty
            take = _pa.array(rows)
            data, keep = {}, np.ones(rows.size, dtype=bool)
            for f_, k_ in zip(fields, kinds):
                col = slice_tbl.column(f_).take(take)
                keep &= ~col.is_null().to_numpy(zero_copy_only=False)
                if k_ == "ts":
                    micros = pc.fill_null(
                        pc.cast(col, _pa.timestamp("us"))
                        .cast(_pa.int64()), 0).to_numpy(
                            zero_copy_only=False)
                    data[f_] = np.floor_divide(micros, 1_000_000)
                elif k_ == "int":
                    data[f_] = pc.fill_null(col, 0).to_numpy(
                        zero_copy_only=False).astype(np.int64)
                else:
                    data[f_] = col.to_pandas().astype(object)
            if not keep.any():
                return empty
            pdf = pd.DataFrame(data)[keep]
            out = pdf.groupby(fields, sort=False).size().reset_index()
            out.columns = fields + ["n"]
            if after is not None:
                # after-key filter applied AT THE SOURCE: partial rows
                # for already-walked buckets never leave the shard
                # task, so page N's shuffle volume SHRINKS as the walk
                # advances (the final-agg filter below stays as a
                # belt-and-braces guard)
                import numpy as np
                gt = np.zeros(len(out), dtype=bool)
                eq = np.ones(len(out), dtype=bool)
                for f_, av in zip(fields, after):
                    col = out[f_]
                    gt |= eq & (col > av).to_numpy(dtype=bool)
                    eq &= (col == av).to_numpy(dtype=bool)
                out = out[gt]
            return out

        partial = post.groupBy("shard").applyInPandas(fn, part_schema)
        agg = (partial.groupBy(*fields)
               .agg(F.sum("n").cast("long").alias("n_docs")))
        if after is not None:
            lits = [F.lit(v).cast(sql_t[k_]).alias(f_)
                    for v, k_, f_ in zip(after, kinds, fields)]
            agg = agg.filter(F.struct(*[F.col(f_) for f_ in fields])
                             > F.struct(*lits))
        return (agg.orderBy(*[F.asc(f_) for f_ in fields])
                .limit(size))

    return _plan_cached(index, key, build)


# frozen auto_date_histogram interval ladder (seconds) — the ES rounding
# ladder's shape: second/minute/hour/day/week/month/quarter/year grains
AUTO_HISTOGRAM_LADDER = (1, 5, 10, 30, 60, 300, 600, 1800, 3600,
                         3 * 3600, 12 * 3600, 86400, 7 * 86400,
                         30 * 86400, 90 * 86400, 365 * 86400)


def match_auto_histogram(index, query: str, field: str,
                         target_buckets: int = 10,
                         mode: str = "OR", exclude: str | None = None,
                         dv_filter: str | None = None) -> DataFrame:
    """Auto date-histogram — the ES ``auto_date_histogram`` agg: pick
    the interval FOR the caller so the histogram lands at or under
    ``target_buckets`` buckets, from a frozen grain ladder
    (``AUTO_HISTOGRAM_LADDER``, seconds).

    Frozen rule (mirrored by the DuckDB twin in ``__spark_entry__``):
    with ``mn``/``mx`` the match set's min/max value at the whole-second
    grain, the chosen interval is the SMALLEST ladder entry ``i`` with
    ``(mx // i) - (mn // i) + 1 <= target_buckets``, falling back to the
    largest entry when none qualifies. Returns ``(bucket_start:long,
    n_docs:long, interval_s:long)`` — ``match_histogram``'s exact rows
    (floor semantics, empty buckets omitted) plus the constant chosen
    interval; an empty match set returns no rows.

    Plan: one ``match_stats`` job for (min, max) — per-shard int64
    partials, one row per task — then ``match_histogram``'s unchanged
    one-job plan at the chosen grain. The interval choice itself is
    driver arithmetic over two ints."""
    from .query import _warn_if_stale
    _warn_if_stale(index)
    if int(target_buckets) < 1:
        raise ValueError("target_buckets must be >= 1")
    target = int(target_buckets)
    stats = match_stats(index, query, field, mode=mode, exclude=exclude,
                        dv_filter=dv_filter).collect()[0]
    spark = index.spark
    out_schema = "bucket_start long, n_docs long, interval_s long"
    if stats["n_with_value"] == 0:
        return spark.createDataFrame([], out_schema)
    mn, mx = int(stats["min_val"]), int(stats["max_val"])
    interval = AUTO_HISTOGRAM_LADDER[-1]
    for i in AUTO_HISTOGRAM_LADDER:
        if (mx // i) - (mn // i) + 1 <= target:
            interval = i
            break
    h = match_histogram(index, query, field, interval, mode=mode,
                        exclude=exclude, dv_filter=dv_filter)
    return h.select("bucket_start", "n_docs",
                    F.lit(int(interval)).cast("long").alias("interval_s"))


def match_filters(index, query: str, filters: dict,
                  mode: str = "OR", exclude: str | None = None,
                  dv_filter: str | None = None) -> DataFrame:
    """Filters aggregation — the ES ``filters`` agg: named predicate
    buckets over ONE boolean query's match set ("of the turns matching
    Q: how many are user turns, how many tool turns, how many from this
    week"). Each bucket is an independent ANSI-SQL predicate over the
    STORED docvalue columns; buckets overlap freely (a doc can count in
    several) — unlike ``facets``, which partitions by a column's values.

    Frozen contract (mirrored by the DuckDB twin in
    ``__spark_entry__``): returns ``(bucket:string, n_docs:long)`` with
    ONE row per named filter — zero-count buckets included (the ES
    behavior) — ordered by bucket name ascending. Match semantics are
    ``search``'s exact set (AND/OR arity, NOT via ``exclude``,
    ``dv_filter`` restriction, tombstones).

    Plan: the shared pruned-scan arity kernel; each shard task
    evaluates every named predicate ONCE over its own cached docvalue
    slice (embedded DuckDB, the dv_filter machinery) and emits one
    (bucket, partial-count) row per filter — shuffle volume is
    |filters| rows per shard, never docs; a tiny final aggregation
    LEFT-joins the driver-built name table so empty buckets survive.
    """
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    filters = {str(n): str(p) for n, p in filters.items()}
    if not filters:
        raise ValueError("match_filters needs at least one named filter")
    if not (index.doc_values or ()):
        raise ValueError("this index has no docvalue store — build with "
                         "IndexConfig(doc_values=...)")
    key = ("mf", query, tuple(sorted(filters.items())), mode, exclude,
           dv_filter)

    def build():
        spark = index.spark
        names = sorted(filters)
        name_df = spark.createDataFrame([(n,) for n in names],
                                        "bucket string")
        zero = name_df.select(
            "bucket", F.lit(0).cast("long").alias("n_docs"))
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:  # empty match set: every bucket counts 0
            return zero.orderBy("bucket")
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)
        preds = [(n, filters[n]) for n in names]

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            from .docvalues import eval_filter
            empty = pd.DataFrame({"bucket": [], "n": []})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            out = []
            for n, p in preds:
                locs = eval_filter(dv_dir, shard, dv_gen, p)
                c = int(np.intersect1d(hit, locs,
                                       assume_unique=True).size)
                if c:
                    out.append((n, c))
            return pd.DataFrame(out, columns=["bucket", "n"])

        partial = post.groupBy("shard").applyInPandas(
            fn, "bucket string, n long")
        agg = partial.groupBy("bucket").agg(
            F.sum("n").cast("long").alias("_n"))
        return (name_df.join(agg, "bucket", "left")
                .select("bucket",
                        F.coalesce(F.col("_n"), F.lit(0))
                        .cast("long").alias("n_docs"))
                .orderBy("bucket"))

    return _plan_cached(index, key, build)


def match_adjacency(index, query: str, filters: dict,
                    mode: str = "OR", exclude: str | None = None,
                    dv_filter: str | None = None) -> DataFrame:
    """Adjacency-matrix aggregation — the ES ``adjacency_matrix`` agg:
    doc counts for every named filter AND every pairwise INTERSECTION
    of named filters over one query's match set ("how often do the
    'python' and 'browser' tool buckets co-occur among matching
    conversations"). The co-occurrence-matrix primitive.

    Frozen contract (mirrored by the DuckDB twin in
    ``__spark_entry__``): returns ``(a:string, b:string, n_docs:long)``
    for every name pair ``a <= b`` (diagonal = the filter's own count),
    ZERO-count pairs omitted (the ES behavior — unlike
    ``match_filters``, which keeps empty named buckets), ordered
    (a asc, b asc). Match semantics are ``search``'s exact set.

    Plan: the shared pruned-scan arity kernel; each shard evaluates
    every named predicate ONCE over its cached docvalue slice, builds
    |filters| boolean masks over its hits, and emits one partial row
    per non-empty pair — shuffle volume <= |filters|^2/2 rows per
    shard (ES caps the agg at 100 filters for the same quadratic
    reason), never docs."""
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    filters = {str(n): str(p) for n, p in filters.items()}
    if not filters:
        raise ValueError("match_adjacency needs at least one named "
                         "filter")
    if len(filters) > 100:
        raise ValueError("match_adjacency caps at 100 filters (the "
                         "pair count is quadratic)")
    if not (index.doc_values or ()):
        raise ValueError("this index has no docvalue store — build with "
                         "IndexConfig(doc_values=...)")
    key = ("madj", query, tuple(sorted(filters.items())), mode, exclude,
           dv_filter)

    def build():
        spark = index.spark
        out_schema = "a string, b string, n_docs long"
        prep = _prep_match(index, query, mode, exclude, dv_filter)
        if prep is None:
            return spark.createDataFrame([], out_schema)
        post, hits, width = prep
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)
        names = sorted(filters)
        preds = [(n, filters[n]) for n in names]

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            from .docvalues import eval_filter
            empty = pd.DataFrame({"a": [], "b": [], "n": []})
            if len(post_pdf) == 0:
                return empty
            shard = int(post_pdf["shard"].iloc[0])
            hit = hits(post_pdf)
            if hit.size == 0:
                return empty
            masks = []
            for n, p in preds:
                locs = eval_filter(dv_dir, shard, dv_gen, p)
                m = np.zeros(width, dtype=bool)
                m[locs] = True
                masks.append(m[hit])
            out = []
            for i, a in enumerate(names):
                for j in range(i, len(names)):
                    c = int(np.count_nonzero(masks[i] & masks[j]))
                    if c:
                        out.append((a, names[j], c))
            return pd.DataFrame(out, columns=["a", "b", "n"])

        partial = post.groupBy("shard").applyInPandas(
            fn, "a string, b string, n long")
        return (partial.groupBy("a", "b")
                .agg(F.sum("n").cast("long").alias("n_docs"))
                .orderBy("a", "b"))

    return _plan_cached(index, key, build)


def mlt_terms(index, doc_id: int, max_terms: int = 16) -> list[str]:
    """The frozen more-like-this term selection: the source doc's
    distinct analyzer terms scored tf x idf (corpus-global idf, the
    index's frozen variant), top ``max_terms`` kept under the
    deterministic cap (tf*idf desc, term asc on ties — the same
    cap-rule pattern as search_prefix, replicated by the SQL twin).
    Driver-side and metadata-sized: ONE pruned corpus-row read + one
    memoized lexicon lookup."""
    from collections import Counter
    from .query import _corpus_pruned
    rows = _corpus_pruned(index, [int(doc_id)]).select("text").collect()
    if not rows:
        raise ValueError(f"more_like_this: no document with doc_id "
                         f"{doc_id} in {index.index_dir}")
    tf = Counter(tokenize_py(rows[0]["text"], index.cfg.analyzer))
    lex = index.lookup_terms(sorted(tf))
    scored = sorted(((-(tf[t] * float(lex[t]["idf"])), t)
                     for t in tf if t in lex))
    return [t for _, t in scored[:max_terms]]


def more_like_this(index, doc_id: int, k: int = 10, max_terms: int = 16,
                   doc_filter: str | None = None,
                   dv_filter: str | None = None) -> DataFrame:
    """Documents most similar to ``doc_id`` — the Lucene/ES MLT query.

    The frozen contract: ``mlt_terms`` selects the source doc's top
    ``max_terms`` terms by tf x idf (deterministic cap), the selection
    scores as a standard BM25 OR query with qtf=1 per term (each term
    keeping its corpus-global idf — identical semantics to typing the
    terms out, exactly like search_prefix's expansion), and the source
    document itself is excluded from the results. ``doc_filter`` /
    ``dv_filter`` compose unchanged.

    Plan: term selection is driver-side metadata work; the scoring job
    is ``search``'s unchanged single-job plan asked for k+1 rows, with
    the source doc dropped by a trivial post-filter over the <= k+1
    collected candidates (re-sorted — the sort is over <= k+1 rows).
    """
    from .query import _search_impl, _warn_if_stale
    _warn_if_stale(index)
    doc_id = int(doc_id)
    key = ("mlt", doc_id, k, max_terms, doc_filter, dv_filter)

    def build():
        terms = mlt_terms(index, doc_id, max_terms)
        if not terms:
            from .query import _empty_topk
            return _empty_topk(index.spark)
        top = _search_impl(index, "", k + 1, "OR", "auto",
                           doc_filter=doc_filter, dv_filter=dv_filter,
                           qtf_override={t: 1 for t in terms})
        return (top.filter(F.col("doc_id") != F.lit(doc_id))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(_doc_limit(index, k)))

    return _plan_cached(index, key, build)


SIG_SCHEMA = "term string, fg_count long, bg_count long, score double"


def significant_terms(index, query: str, n: int = 10, sample: int = 100,
                      mode: str = "OR", exclude: str | None = None,
                      doc_filter: str | None = None,
                      dv_filter: str | None = None,
                      min_fg: int = 1) -> DataFrame:
    """Significant-terms aggregation (the ES `significant_terms` /
    "uncommonly common" pattern): terms over-represented in the match
    set's top-``sample`` documents (the FOREGROUND) relative to the
    whole corpus (the BACKGROUND), scored with the JLH heuristic

        score = (fg_rate - bg_rate) * (fg_rate / bg_rate)

    where ``fg_rate = fg_count / |sample|`` (share of foreground docs
    containing the term) and ``bg_rate = df / N`` (corpus-global
    document frequency from the lexicon). The query's own analyzed
    terms are excluded (they trivially top any foreground); terms with
    ``fg_count < min_fg`` are dropped; the top ``n`` survive under
    (score DESC, term ASC). Returns ``(term, fg_count, bg_count,
    score)``.

    Frozen contract: the foreground is the SAME frozen ranking
    ``search`` returns (score desc, doc_id asc — so the sample set is
    deterministic and the DuckDB twin reproduces it with its BM25 CTE);
    foreground terms come from re-analyzing the sample docs' stored
    text with the index analyzer (hooks included — identical to the
    indexed token stream); bg df is the lexicon's corpus-global value
    (like BM25 stats, it stays the last build's under tombstones until
    ``purge_deletes``). The score arithmetic is the literal expression
    above over exact integers — IEEE-identical on both sides of the
    oracle gate.

    Plan (the 100 TB argument — ES samples for the same reason): job 1
    is ``search``'s unchanged single-job plan; job 2 re-reads ONLY the
    <= sample matched rows via stored-column predicates
    (query._corpus_pruned — parquet row-group pruning, never a corpus
    scan) and token-counts them with the JVM-side analyzer expression;
    the foreground vocabulary is metadata-sized, so bg lookup is one
    term-pushed lexicon read (lookup_terms memo) and the JLH ranking is
    driver arithmetic. Nothing corpus-scaled moves anywhere.
    """
    from .analyzer import tokenize_expr
    from .query import _corpus_pruned, _warn_if_stale, search
    _warn_if_stale(index)
    mode = mode.upper()
    key = ("sig", query, n, sample, mode, exclude, doc_filter, dv_filter,
           min_fg)

    def build():
        spark = index.spark
        empty = spark.range(0).select(
            F.lit("").alias("term"),
            F.lit(0).cast("long").alias("fg_count"),
            F.lit(0).cast("long").alias("bg_count"),
            F.lit(0.0).cast("double").alias("score"))
        top = search(index, query, k=sample, mode=mode, exclude=exclude,
                     doc_filter=doc_filter, dv_filter=dv_filter)
        rows = top.collect()
        if not rows:
            return empty
        s_n = len(rows)
        n_docs = int(index.n_docs)
        acfg = index.cfg.analyzer
        corpus = _corpus_pruned(index, [r["doc_id"] for r in rows])
        fg = (corpus
              .select(F.explode(F.array_distinct(
                  tokenize_expr(F.col("text"), acfg))).alias("term"))
              .groupBy("term").count().collect())
        qterms = set(tokenize_py(query, acfg))
        cand = {r["term"]: int(r["count"]) for r in fg
                if r["term"] not in qterms and int(r["count"]) >= min_fg}
        if not cand:
            return empty
        lex = index.lookup_terms(sorted(cand))
        scored = []
        for t in sorted(cand):
            info = lex.get(t)
            if info is None:  # not indexed (can't happen for stored docs)
                continue
            fgc, bgc = cand[t], int(info["df"])
            fr = fgc / s_n
            br = bgc / n_docs
            scored.append(((fr - br) * (fr / br), t, fgc, bgc))
        scored.sort(key=lambda x: (-x[0], x[1]))
        out = [(t, fgc, bgc, float(sc)) for sc, t, fgc, bgc in scored[:n]]
        if not out:
            return empty
        return spark.createDataFrame(out, SIG_SCHEMA)

    return _plan_cached(index, key, build)


def export_matches(index, query: str, out_dir: str, mode: str = "OR",
                   exclude: str | None = None,
                   doc_filter: str | None = None,
                   dv_filter: str | None = None,
                   columns: "tuple | None" = None) -> DataFrame:
    """Match-set export sink (the ES scroll-and-dump / point-in-time
    export pattern): write EVERY document matching a boolean query —
    not a top-k — to ``out_dir`` as parquet, fully distributed, and
    return a DataFrame handle over the written data.

    Match semantics are ``search``'s exactly (same shared kernel as
    match_count: AND/OR arity, NOT via ``exclude``, ``doc_filter``/
    ``dv_filter`` restriction, tombstones excluded). ``columns`` picks
    the exported corpus columns (default: all stored columns); doc_id
    is always included.

    Plan (the 100 TB argument): the pruned postings scan resolves the
    match set per shard and each task emits bare int64 doc_ids — the
    minimum any exact match set can move. The ids join back to the
    stored corpus COLUMN-PRUNED to the requested fields; with AQE on,
    a selective match set broadcasts (the corpus side then streams
    scan->write with no shuffle), while a huge one degrades to a
    sort-merge join — either way nothing wider than the exported rows
    themselves crosses the cluster, and the parquet write is the
    dominant cost at scale, as an export should be. Driver memory
    never holds the match set.
    """
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    spark = index.spark
    corpus = index.corpus()
    if columns:
        missing = [c for c in columns if c not in corpus.columns]
        if missing:
            raise ValueError(f"export columns {missing} not in the "
                             f"stored corpus ({corpus.columns})")
        corpus = corpus.select(
            "doc_id", *[c for c in columns if c != "doc_id"])
    prep = _prep_match(index, query, mode, exclude, dv_filter)
    if prep is None:  # provably empty: write just the schema
        corpus.limit(0).write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    post, hits, width = prep

    if doc_filter is not None:
        allowed = _allowed_shards(index, doc_filter, width)

        def fnf(key_, post_pdf, allowed_pdf):
            import pandas as pd
            if len(post_pdf) == 0 or len(allowed_pdf) == 0:
                return pd.DataFrame({"doc_id": []})
            shard = int(post_pdf["shard"].iloc[0])
            import numpy as np
            loc = (allowed_pdf["doc_id"].to_numpy(np.int64)
                   - shard * width)
            return pd.DataFrame(
                {"doc_id": hits(post_pdf, loc) + shard * width})

        ids = (post.groupBy("shard")
               .cogroup(allowed.groupBy("shard"))
               .applyInPandas(fnf, "doc_id long"))
    else:
        def fn(key_, post_pdf):
            import pandas as pd
            if len(post_pdf) == 0:
                return pd.DataFrame({"doc_id": []})
            shard = int(post_pdf["shard"].iloc[0])
            return pd.DataFrame(
                {"doc_id": hits(post_pdf) + shard * width})

        ids = post.groupBy("shard").applyInPandas(fn, "doc_id long")
    (corpus.join(ids, "doc_id")
     .write.mode("overwrite").parquet(out_dir))
    return spark.read.parquet(out_dir)


PCT_SCHEMA = "p double, value long"


def _shard_field_vals(post_pdf, hits, field: str, is_ts: bool,
                      dv_dir: str, dv_gen: int):
    """Worker-side shared extractor for the value-distribution kernels:
    the int64 values (timestamps at the frozen whole-second grain) of
    docvalue ``field`` for this shard's match set, NULLs dropped.
    Returns an np.int64 array (possibly empty)."""
    import numpy as np
    import pyarrow as _pa
    import pyarrow.compute as pc

    from .docvalues import _load_shard
    empty = np.empty(0, dtype=np.int64)
    if len(post_pdf) == 0:
        return empty
    shard = int(post_pdf["shard"].iloc[0])
    hit = hits(post_pdf)
    if hit.size == 0:
        return empty
    slice_tbl = _load_shard(dv_dir, shard, dv_gen)
    if slice_tbl is None or slice_tbl.num_rows == 0:
        return empty
    sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
    col = slice_tbl.column(field)
    nulls = col.is_null().to_numpy(zero_copy_only=False)
    idx_ = np.searchsorted(sloc, hit)
    ok = idx_ < sloc.size
    ok[ok] &= sloc[idx_[ok]] == hit[ok]
    rows = idx_[ok]
    rows = rows[~nulls[rows]]
    if rows.size == 0:
        return empty
    if is_ts:
        micros = pc.fill_null(
            pc.cast(col, _pa.timestamp("us")).cast(_pa.int64()),
            0).to_numpy(zero_copy_only=False)
        return np.floor_divide(micros[rows], 1_000_000)
    return pc.fill_null(col, 0).to_numpy(
        zero_copy_only=False).astype(np.int64)[rows]


def _gather_value_hist(index, query: str, field: str, is_ts: bool,
                       mode: str, exclude, dv_filter):
    """Driver-side sorted (value, count) histogram of a stored int64/
    timestamp docvalue over the match set — the shared reduction under
    match_percentiles and match_mad. One job: pruned scan + shared
    arity kernel, each shard emits its OWN distinct (value, count) rows
    (shuffle bounded by per-shard distinct values — the exact-answer
    floor), one hash agg, then an ordered metadata-sized collect.
    Returns a list of Rows (possibly empty)."""
    prep = _prep_match(index, query, mode, exclude, dv_filter)
    if prep is None:
        return []
    post, hits, width = prep
    dv_dir, dv_gen = index.index_dir, int(index.n_docs)

    def fn(key_, post_pdf):
        import numpy as np
        import pandas as pd
        vals = _shard_field_vals(post_pdf, hits, field, is_ts,
                                 dv_dir, dv_gen)
        if vals.size == 0:
            return pd.DataFrame({"v": [], "cnt": []})
        uv, cnt = np.unique(vals, return_counts=True)
        return pd.DataFrame({"v": uv.astype(np.int64),
                             "cnt": cnt.astype(np.int64)})

    return (post.groupBy("shard").applyInPandas(fn, "v long, cnt long")
            .groupBy("v").agg(F.sum("cnt").alias("cnt"))
            .orderBy("v").collect())


def _gather_field_bounds(index, query: str, field: str, is_ts: bool,
                         mode: str, exclude, dv_filter):
    """The guard/edges job shared by the binned percentile family: ONE
    job where each shard task emits a single row
    ``(n, vmin, vmax, n_distinct)`` over its own match-set values —
    four int64s per shard, the metadata-sized floor. Returns
    ``(n, vmin, vmax, distinct_bound)`` or None for an empty match
    set. ``distinct_bound`` is the SUM of per-shard distinct counts —
    an upper bound on the global distinct count, which is exactly the
    quantity that bounds the exact path's driver collect (global
    distinct <= sum over shards), so it is the right guard signal."""
    prep = _prep_match(index, query, mode, exclude, dv_filter)
    if prep is None:
        return None
    post, hits, width = prep
    dv_dir, dv_gen = index.index_dir, int(index.n_docs)

    def fn(key_, post_pdf):
        import numpy as np
        import pandas as pd
        vals = _shard_field_vals(post_pdf, hits, field, is_ts,
                                 dv_dir, dv_gen)
        if vals.size == 0:
            return pd.DataFrame(
                {"n": [], "vmin": [], "vmax": [], "nd": []})
        return pd.DataFrame(
            {"n": [int(vals.size)], "vmin": [int(vals.min())],
             "vmax": [int(vals.max())],
             "nd": [int(np.unique(vals).size)]})

    row = (post.groupBy("shard")
           .applyInPandas(fn, "n long, vmin long, vmax long, nd long")
           .agg(F.sum("n").alias("n"), F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"), F.sum("nd").alias("nd"))
           .collect()[0])
    if row["n"] is None or row["n"] == 0:
        return None
    return (int(row["n"]), int(row["vmin"]), int(row["vmax"]),
            int(row["nd"]))


def _bin_width(vmin: int, vmax: int, n_bins: int) -> int:
    """Frozen integer binning rule (identical in the DuckDB twin):
    ``width = max(1, ceil((vmax - vmin + 1) / n_bins))`` — pure int64
    arithmetic, so both sides compute bit-identical bin ids with no
    float edge cases. ``bin(v) = (v - vmin) // width`` lies in
    [0, n_bins-1]."""
    span = vmax - vmin + 1
    return max(1, -(-span // n_bins))


def _gather_binned_hist(index, query: str, field: str, is_ts: bool,
                        mode: str, exclude, dv_filter,
                        vmin: int, width_b: int):
    """Bounded-state sibling of _gather_value_hist (VERDICT r4 #2/#3):
    the same one-job pruned-scan kernel, but each shard bins its values
    with the frozen integer rule BEFORE the distinct-count — shuffle
    rows and the driver collect are bounded by n_bins regardless of
    field cardinality (the 100 TB fix for near-unique fields, where the
    exact path's driver histogram grows with the match set). Returns a
    sorted list of (bin, count) Rows."""
    prep = _prep_match(index, query, mode, exclude, dv_filter)
    if prep is None:
        return []
    post, hits, width = prep
    dv_dir, dv_gen = index.index_dir, int(index.n_docs)

    def fn(key_, post_pdf):
        import numpy as np
        import pandas as pd
        vals = _shard_field_vals(post_pdf, hits, field, is_ts,
                                 dv_dir, dv_gen)
        if vals.size == 0:
            return pd.DataFrame({"b": [], "cnt": []})
        bins = (vals - vmin) // width_b
        ub, cnt = np.unique(bins, return_counts=True)
        return pd.DataFrame({"b": ub.astype(np.int64),
                             "cnt": cnt.astype(np.int64)})

    return (post.groupBy("shard").applyInPandas(fn, "b long, cnt long")
            .groupBy("b").agg(F.sum("cnt").alias("cnt"))
            .orderBy("b").collect())


def _disc_value(hist, p: float, n: int):
    """Frozen PERCENTILE_DISC walk over a sorted (v, cnt) histogram:
    min v with cum_count(v) >= ceil(p * n)."""
    import math
    need = math.ceil(p * n)
    cum = 0
    for v, cnt in hist:
        cum += cnt
        if cum >= need:
            return int(v)
    return int(hist[-1][0])


def match_mad(index, query: str, field: str, mode: str = "OR",
              exclude: str | None = None,
              dv_filter: str | None = None, method: str = "auto",
              n_bins: int = 4096,
              binned_threshold: int = 65536) -> DataFrame:
    """ES ``median_absolute_deviation`` aggregation, EXACT (the ES one
    is t-digest-approximate): ``MAD = median(|x - median(x)|)`` over
    the non-NULL values of a stored timestamp/integer docvalue in the
    match set — the robust dispersion measure ("how spread out are the
    timestamps of turns mentioning X").

    Both medians use the frozen PERCENTILE_DISC rule shared with
    match_percentiles (min v with cum_count >= ceil(0.5 n)), written
    out identically in the DuckDB twin — so every returned number is an
    exact int64 and bit-reproducible. Returns one row
    ``(n_values, median, mad)``, NULLs when the match set has no
    values.

    Plan: the same shared distinct-value histogram reduction as
    match_percentiles; the deviation histogram is derived driver-side
    from the collected value histogram (|v - median| merges symmetric
    values), so MAD costs no second pass over the data.

    ``method`` (r5, VERDICT r4 #2): ``"exact"`` = the one-job
    distinct-value path above (driver state grows with field
    cardinality); ``"binned"`` = bounded-state fixed-width-histogram
    path (one metadata-sized bounds job for the frozen integer bin
    edges, one <= n_bins-row histogram job; both medians DISC-walk the
    bin histogram with each value represented by its bin's lower edge
    — median off by <= one bin width, MAD by <= two); ``"auto"``
    (default) = run the cheap bounds job and pick exact while the
    per-shard-distinct-sum stays <= ``binned_threshold``, binned above
    it — the guard that closes the one unbounded-driver-state path at
    100 TB."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"mad field {field!r} is not a docvalue column of this "
            f"index (stored: {list(index.doc_values or ())})")
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    ftype = schema.field(field).type
    is_ts = pa.types.is_timestamp(ftype)
    if not (is_ts or pa.types.is_integer(ftype)):
        raise ValueError(
            f"match_mad({field!r}): only timestamp/integer docvalue "
            f"columns are supported (stored type {ftype})")
    if method not in ("auto", "exact", "binned"):
        raise ValueError(f"match_mad method must be auto|exact|binned, "
                         f"got {method!r}")
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    key = ("mmad", query, field, mode, exclude, dv_filter, method,
           n_bins, binned_threshold)

    def build():
        spark = index.spark

        def _result(n, med, mad):
            return spark.range(1).select(
                F.lit(n).cast("long").alias("n_values"),
                F.lit(med).cast("long").alias("median"),
                F.lit(mad).cast("long").alias("mad"))

        use_binned, bounds = False, None
        if method != "exact":
            bounds = _gather_field_bounds(index, query, field, is_ts,
                                          mode, exclude, dv_filter)
            if bounds is None:
                return _result(0, None, None)
            use_binned = (method == "binned"
                          or bounds[3] > binned_threshold)
        if not use_binned:
            hist = _gather_value_hist(index, query, field, is_ts, mode,
                                      exclude, dv_filter)
            if not hist:
                return _result(0, None, None)
            pairs = [(int(r["v"]), int(r["cnt"])) for r in hist]
            n = sum(c for _, c in pairs)
            med = _disc_value(pairs, 0.5, n)
            devs = {}
            for v, c in pairs:
                d = abs(v - med)
                devs[d] = devs.get(d, 0) + c
            dev_hist = sorted(devs.items())
            return _result(n, med, _disc_value(dev_hist, 0.5, n))
        # bounded-state path (VERDICT r4 #2/#3): both medians run the
        # SAME frozen DISC rule over the fixed-width bin histogram,
        # every value represented by its bin's LOWER EDGE — driver
        # state is <= n_bins rows regardless of field cardinality, and
        # each reported number is off by at most one bin width (the
        # deviation median by at most two). The rule is pure int64
        # arithmetic, so the DuckDB twin reproduces it bit-exactly.
        n, vmin, vmax, _nd = bounds
        wd = _bin_width(vmin, vmax, n_bins)
        hist = _gather_binned_hist(index, query, field, is_ts, mode,
                                   exclude, dv_filter, vmin, wd)
        if not hist:
            return _result(0, None, None)
        pairs = [(int(r["b"]), int(r["cnt"])) for r in hist]
        med = vmin + wd * _disc_value(pairs, 0.5, n)
        devs = {}
        for b, c in pairs:
            d = abs(vmin + wd * b - med)
            devs[d] = devs.get(d, 0) + c
        dev_hist = sorted(devs.items())
        return _result(n, med, _disc_value(dev_hist, 0.5, n))

    return _plan_cached(index, key, build)


def match_percentiles(index, query: str, field: str, ps=(0.5, 0.9, 0.99),
                      mode: str = "OR", exclude: str | None = None,
                      dv_filter: str | None = None, method: str = "auto",
                      n_bins: int = 4096,
                      binned_threshold: int = 65536) -> DataFrame:
    """EXACT discrete percentiles of a STORED docvalue column over the
    match set (the ES `percentiles` aggregation, exact instead of
    t-digest — e.g. "median / p99 turn timestamp among turns mentioning
    X").

    Frozen PERCENTILE_DISC rule, written out identically on both sides
    of the oracle gate (never a built-in quantile whose indexing rule
    might differ by dialect): for each ``p`` in (0, 1],

        value(p) = min v such that cum_count(v) >= ceil(p * n)

    over the sorted non-NULL value multiset (timestamps at the frozen
    whole-second grain, like every docvalue aggregate). Returns one row
    ``(p, value)`` per requested percentile, value NULL when the match
    set has no values. Only timestamp/integer columns (exact int64s —
    the engine's bit-reproducibility contract).

    Plan: the same pruned-scan + shared-arity kernel as match_count;
    each shard task emits its OWN (value, count) histogram rows
    (shuffle bounded by distinct values per shard — the exact-answer
    floor, same as match_cardinality); one hash aggregation merges, and
    the cumulative walk runs driver-side over the DISTINCT-VALUE
    histogram (metadata-sized for bounded-cardinality fields).

    ``method`` (r5, VERDICT r4 #2 — the cardinality guard): ``"exact"``
    = the path above; ``"binned"`` = bounded-state fixed-width
    histogram — one bounds job freezes integer bin edges
    (``width = max(1, ceil(span / n_bins))``, ``bin = (v - vmin) //
    width``), one job collects <= n_bins (bin, count) rows, and the
    DISC walk reports the containing bin's LOWER EDGE (error <= one
    bin width, exact when width == 1); ``"auto"`` (default) runs the
    cheap bounds job and picks exact while the per-shard-distinct-sum
    guard stays <= ``binned_threshold``, binned above it — driver
    state is bounded by n_bins on near-unique fields instead of the
    match-set size.
    """
    import pyarrow as pa
    import pyarrow.dataset as pads
    from .query import _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    ps = tuple(float(p) for p in ps)
    if not ps or any(not (0.0 < p <= 1.0) for p in ps):
        raise ValueError(f"percentiles must lie in (0, 1]: {ps}")
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"percentile field {field!r} is not a docvalue column of "
            f"this index (stored: {list(index.doc_values or ())})")
    from .docvalues import dv_path
    schema = pads.dataset(dv_path(index.index_dir),
                          format="parquet", partitioning="hive").schema
    ftype = schema.field(field).type
    is_ts = pa.types.is_timestamp(ftype)
    if not (is_ts or pa.types.is_integer(ftype)):
        raise ValueError(
            f"match_percentiles({field!r}): only timestamp/integer "
            f"docvalue columns are supported (stored type {ftype})")
    if method not in ("auto", "exact", "binned"):
        raise ValueError(f"match_percentiles method must be "
                         f"auto|exact|binned, got {method!r}")
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    key = ("mpct", query, field, ps, mode, exclude, dv_filter, method,
           n_bins, binned_threshold)

    def build():
        spark = index.spark
        empty = spark.createDataFrame(
            [(p, None) for p in ps], PCT_SCHEMA)
        use_binned, bounds = False, None
        if method != "exact":
            bounds = _gather_field_bounds(index, query, field, is_ts,
                                          mode, exclude, dv_filter)
            if bounds is None:
                return empty
            use_binned = (method == "binned"
                          or bounds[3] > binned_threshold)
        if not use_binned:
            hist = _gather_value_hist(index, query, field, is_ts, mode,
                                      exclude, dv_filter)
            if not hist:
                return empty
            n = sum(r["cnt"] for r in hist)
            pairs = [(int(r["v"]), int(r["cnt"])) for r in hist]
            out = [(p, _disc_value(pairs, p, n)) for p in ps]
            return spark.createDataFrame(out, PCT_SCHEMA)
        # bounded-state path (VERDICT r4 #2/#3): the DISC walk runs
        # over the fixed-width bin histogram and reports the containing
        # bin's LOWER EDGE (vmin + width * bin) — deterministic int64,
        # error <= one bin width, driver state <= n_bins rows
        # regardless of field cardinality. Engages automatically when
        # the per-shard-distinct-sum guard exceeds binned_threshold.
        n, vmin, vmax, _nd = bounds
        wd = _bin_width(vmin, vmax, n_bins)
        hist = _gather_binned_hist(index, query, field, is_ts, mode,
                                   exclude, dv_filter, vmin, wd)
        if not hist:
            return empty
        pairs = [(int(r["b"]), int(r["cnt"])) for r in hist]
        out = [(p, vmin + wd * _disc_value(pairs, p, n)) for p in ps]
        return spark.createDataFrame(out, PCT_SCHEMA)

    return _plan_cached(index, key, build)


GROUPS_SCHEMA = "group_key string, score double, n_docs long"


def search_groups(index, query: str, field: str, k: int = 10,
                  score_mode: str = "max", mode: str = "OR",
                  exclude: str | None = None,
                  dv_filter: str | None = None) -> DataFrame:
    """Group-level ranked retrieval — the ES parent-child / join-field
    pattern (``has_child`` with ``score_mode``): rank the distinct
    values of a stored docvalue ``field`` (e.g. ``conv_id`` — "find the
    CONVERSATIONS whose turns best match Q") by an aggregate of their
    matching docs' BM25 scores.

    Frozen contract (mirrored by the DuckDB twin in
    ``__spark_entry__._groups_sql``):

    * the match set is ``search``'s exact match set (AND/OR arity, NOT
      via ``exclude``, ``dv_filter``, tombstones); per-doc scores are
      the kernel's frozen per-term-ascending BM25 sums — bit-identical
      to ``search``'s;
    * docs with a NULL/absent group key are EXCLUDED (the collapse /
      search_sorted NULL rule);
    * ``score_mode``: ``max`` = max over the group's matching docs
      (order-free); ``count`` = the match count as double; ``sum`` =
      LEFT-FOLD of the group's doc scores in doc_id order within each
      doc-range shard, then left-fold of the per-shard partials in
      shard order (shards are doc-id ranges, so the two-level fold IS
      a defined, reproducible float64 order); ``avg`` = that sum
      divided once by the count;
    * result: top-``k`` groups under (score desc, group_key asc),
      columns (group_key, score, n_docs).

    Plan (the 100 TB argument): ``search``'s pruned postings scan (same
    buckets/terms pushdown, dls stream included), ONE kernel pass per
    doc-range shard through ``search``'s kernel ``_score_shard_batch``
    (called directly as a one-entry set at k=width — every hit's score
    must exist, the collapse argument), then an in-task pandas
    reduction over the shard's OWN docvalue slice emitting one
    partial row per (group, shard) — shuffle volume is
    groups-per-shard, never docs (the ``facet_stats`` emission class).
    One narrow final hash aggregation; the shard-ordered sum fold is a
    deterministic ``aggregate(array_sort(collect_list(...)))``
    expression over those partials."""
    from .query import _score_shard_batch, _warn_if_stale
    _warn_if_stale(index)
    mode = mode.upper()
    score_mode = score_mode.lower()
    if score_mode not in ("max", "sum", "avg", "count"):
        raise ValueError(f"unknown score_mode {score_mode!r} "
                         "(max | sum | avg | count)")
    if field not in (index.doc_values or ()):
        raise ValueError(
            f"group field {field!r} is not a docvalue column of this "
            f"index (stored: {list(index.doc_values or ())}; build with "
            f"IndexConfig(doc_values=...))")
    _require_dv(index, dv_filter)
    key = ("sg", query, field, k, score_mode, mode, exclude, dv_filter)

    def build():
        spark = index.spark
        empty = spark.createDataFrame([], GROUPS_SCHEMA)
        acfg = index.cfg.analyzer
        qtf = query_terms(query, acfg)
        if not qtf:
            return empty
        neg = sorted(set(tokenize_py(exclude, acfg)) - set(qtf)) \
            if exclude else []
        terms = sorted(qtf)
        lex = index.lookup_terms(sorted(set(terms) | set(neg)))
        known = [t for t in terms if t in lex]
        if not known or (mode == "AND" and len(known) < len(terms)):
            return empty
        neg = [t for t in neg if t in lex]
        qtfs = {t: float(qtf[t]) for t in known}
        idfs = {t: float(lex[t]["idf"]) for t in known}
        scan_terms = sorted(set(known) | set(neg))
        buckets = sorted({lex[t]["bucket"] for t in scan_terms})
        post = (index.postings()
                .filter(F.col("bucket").isin(buckets)
                        & F.col("term").isin(scan_terms))
                .select("term", "shard", "df", "doc_ids", "tfs", "dls"))
        width = index.shard_width
        cfgd = {"k1": index.cfg.bm25.k1, "b": index.cfg.bm25.b,
                "avgdl": index.avgdl}
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)
        del_locs = _del_closure(index)
        pcols = ["g", "shard", "n", "sm", "mx"]

        def fn(key_, post_pdf):
            import numpy as np
            import pandas as pd
            from .docvalues import eval_filter, group_values
            empty_r = pd.DataFrame({c: [] for c in pcols})
            if len(post_pdf) == 0:
                return empty_r
            shard = int(post_pdf["shard"].iloc[0])
            dvl = (eval_filter(dv_dir, shard, dv_gen, dv_filter)
                   if dv_filter is not None else None)
            dl_ = del_locs(shard) if del_locs is not None else None
            r = _score_shard_batch(
                post_pdf, {"": qtfs}, {"": mode}, idfs, cfgd, width, width,
                False, allowed_loc=dvl, denied_loc=dl_, negs={"": neg})
            if r is None or len(r) == 0:
                return empty_r
            ids = r["doc_id"].to_numpy(np.int64)
            sc = r["score"].to_numpy(np.float64)
            o = np.argsort(ids)  # doc_id order: the frozen fold order
            ids, sc = ids[o], sc[o]
            vals = group_values(dv_dir, shard, dv_gen, field, ids - shard
                                * width)
            ok = np.asarray(vals != None, dtype=bool)  # noqa: E711
            if not ok.any():
                return empty_r
            sc, vals = sc[ok], vals[ok]
            out = []
            pdf = pd.DataFrame({"g": vals, "s": sc})
            for g, grp in pdf.groupby("g", sort=False):
                v = grp["s"].to_numpy(np.float64)
                # np.add.accumulate is a strict sequential left-fold
                # (unlike np.sum's pairwise blocking) — the contract
                out.append((g, shard, v.size,
                            float(np.add.accumulate(v)[-1]),
                            float(v.max())))
            return pd.DataFrame(out, columns=pcols)

        partial = post.groupBy("shard").applyInPandas(
            fn, "g string, shard int, n long, sm double, mx double")
        agg = (partial.groupBy("g")
               .agg(F.sum("n").cast("long").alias("n_docs"),
                    F.max("mx").alias("_mx"),
                    F.aggregate(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("shard"), F.col("sm")))),
                        F.lit(0.0),
                        lambda a, x: a + x["sm"]).alias("_sm")))
        score = {"max": F.col("_mx"), "sum": F.col("_sm"),
                 "avg": F.col("_sm") / F.col("n_docs"),
                 "count": F.col("n_docs").cast("double")}[score_mode]
        return (agg.select(F.col("g").alias("group_key"),
                           score.alias("score"), "n_docs")
                .orderBy(F.desc("score"), F.asc("group_key"))
                .limit(_doc_limit(index, k)))

    return _plan_cached(index, key, build)
