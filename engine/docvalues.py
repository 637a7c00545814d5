"""Docvalue columns: a per-shard columnar doc-attribute store (the
Lucene "doc values" / columnar-fast-fields pattern), written at build
time and read INSIDE the scorer task.

Why (the 100 TB argument): the query-time ``doc_filter`` path is the
right tool for arbitrary predicates over arbitrary corpus columns, but
it costs a pushed-down corpus scan plus a shuffle of one int64 per
matching doc on EVERY query. For the attributes a deployment filters or
boosts on constantly (language, source, recency), that per-query cost is
avoidable: store those columns once, partitioned by the scorer's OWN
doc-range shard key, and each scorer task reads its own shard's column
slice directly — zero corpus scan, zero extra shuffle, no cogroup. The
slice is narrow (a few bytes/doc/column), written sorted, and cached in
the Python worker across queries, so steady-state filtered/boosted
queries touch no corpus bytes at all.

Layout: ``<index_dir>/docvalues/dv_shard=<shard>/*.parquet`` with
columns ``(loc:int64, <attr columns...>)`` where ``loc = doc_id -
shard * width`` is the shard-local dense offset the scorers already
accumulate on. The batch build's corpus is doc-range sorted, so the
partitioned write needs NO shuffle (each input partition covers ~1
shard); streaming appends write their new docs' rows the same way.

Predicate evaluation (``dv_filter``): the shard slice is handed to an
embedded DuckDB connection as an Arrow table and the predicate runs as
ANSI SQL (``SELECT loc FROM slice WHERE <pred>``) — vectorized, zero
row-at-a-time Python, and dialect-identical to the external DuckDB
oracle gate by construction. Keep predicates to the ANSI subset both
Spark SQL and DuckDB parse identically (=, <>, <, >=, AND/OR/NOT, IN,
LIKE, timestamp literals) so ``dv_filter`` and ``doc_filter`` stay
interchangeable (tested equivalence).

Recency boost: ``multiplier = 0.5 ** (max(0, now - ts) / half_life)``
over epoch SECONDS as float64 — frozen formula, mirrored by the DuckDB
oracle twin and the pure-Python oracle. NULL timestamps boost 1.0
(no information, no penalty).
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, functions as F

DV_DIRNAME = "docvalues"

# Worker-global LRU of shard slices: (index_dir, shard, gen) -> pyarrow
# Table. ``gen`` is the index generation (n_docs at plan time) so a
# handle refreshed after appends never serves a stale slice. Slices are
# narrow (bytes/doc/column) but width-sized; the cap bounds worker
# memory (env-tunable for wide deployments).
_DV_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_DV_CACHE_CAP = int(os.environ.get("SPARK_GRAFT_DV_CACHE_SHARDS", "8"))

_DUCK = None  # worker-global embedded connection (created on first use)


def dv_path(index_dir: str) -> str:
    return os.path.join(index_dir, DV_DIRNAME)


def write_doc_values(docs: DataFrame, index_dir: str, columns,
                     width: int, mode: str = "append") -> None:
    """Write (or append) the docvalue store from a doc_id-bearing corpus
    DataFrame. One narrow projection + partitioned write; the batch
    build's input is doc-range sorted already, so rows land in their
    shard partition without any shuffle (each task touches the 1-2
    shards its doc range spans). Rows are written loc-sorted so the
    kernel-side gather is a sequential columnar read."""
    width = int(width)
    (docs.select(
        F.expr(f"CAST(doc_id DIV {width} AS INT)").alias("dv_shard"),
        F.expr(f"doc_id - (doc_id DIV {width}) * {width}").alias("loc"),
        *[F.col(c) for c in columns])
        .sortWithinPartitions("dv_shard", "loc")
        .write.partitionBy("dv_shard").mode(mode).parquet(dv_path(index_dir)))


def _load_shard(index_dir: str, shard: int, gen: int):
    """Worker-side read of one shard's docvalue slice (all files of the
    shard's partition dir — batch + any appended), loc-sorted, cached.
    Returns a pyarrow Table with ``loc`` plus the attribute columns, or
    None when the shard has no docvalue rows."""
    key = (index_dir, int(shard), int(gen))
    t = _DV_CACHE.get(key)
    if t is not None:
        _DV_CACHE.move_to_end(key)
        return t
    import pyarrow.dataset as pads
    part_dir = os.path.join(dv_path(index_dir), f"dv_shard={int(shard)}")
    if not os.path.isdir(part_dir):
        return None
    t = pads.dataset(part_dir, format="parquet").to_table()
    t = t.sort_by("loc")
    _DV_CACHE[key] = t
    while len(_DV_CACHE) > _DV_CACHE_CAP:
        _DV_CACHE.popitem(last=False)
    return t


def _con():
    global _DUCK
    if _DUCK is None:
        import duckdb
        _DUCK = duckdb.connect()
    return _DUCK


def where(pred: str) -> str:
    """``WHERE pred`` for the embedded DuckDB, refusing a predicate that
    would run a second statement (DuckDB's ``execute`` runs every
    ';'-separated statement, so ``x = 1; COPY t TO 'f'`` writes a
    file)."""
    if len(_con().extract_statements(f"SELECT 1 WHERE {pred}")) != 1:
        raise ValueError(f"a docvalue predicate must be one SQL "
                         f"expression, not several statements: {pred!r}")
    return f"WHERE {pred}"


def eval_filter(index_dir: str, shard: int, gen: int, pred: str):
    """Shard-local offsets of docs passing the ANSI-SQL predicate over
    the shard's docvalue columns — evaluated in-task by embedded DuckDB
    over the cached Arrow slice. Returns an int64 numpy array (empty
    when no doc passes or the shard has no docvalue rows)."""
    import numpy as np
    slice_tbl = _load_shard(index_dir, shard, gen)
    if slice_tbl is None or slice_tbl.num_rows == 0:
        return np.empty(0, dtype=np.int64)
    out = _con().execute(
        f"SELECT loc FROM slice_tbl {where(pred)}").fetchnumpy()
    return out["loc"].astype(np.int64)


def recency_multiplier(index_dir: str, shard: int, gen: int, width: int,
                       field: str, now_s: float, half_life_s: float):
    """Width-sized float64 multiplier vector for the recency boost:
    ``0.5 ** (max(0, now - ts) / half_life)`` in epoch seconds. Offsets
    with no docvalue row (or NULL ts) get 1.0 — absent information never
    penalizes. The frozen formula is mirrored by the DuckDB oracle twin
    (power(0.5, greatest(0, now - epoch(ts)) / half_life))."""
    import numpy as np
    m = np.ones(int(width), dtype=np.float64)
    slice_tbl = _load_shard(index_dir, shard, gen)
    if slice_tbl is None or slice_tbl.num_rows == 0:
        return m
    loc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
    col = slice_tbl.column(field)
    import pyarrow as pa
    import pyarrow.compute as pc
    if pa.types.is_timestamp(col.type):
        # epoch seconds as float64 (sub-second precision preserved)
        ts = pc.cast(col, pa.timestamp("us")).cast(pa.int64())
        vals = ts.to_numpy(zero_copy_only=False).astype(np.float64) / 1e6
    else:
        vals = pc.cast(col, pa.float64()).to_numpy(zero_copy_only=False)
    valid = ~np.isnan(vals)
    age = np.maximum(0.0, now_s - vals[valid])
    m[loc[valid]] = np.power(0.5, age / half_life_s)
    return m


def _field_as_epoch_f64(slice_tbl, field: str):
    """(loc:int64[], value:float64[]) for a shard slice's column —
    timestamps as epoch seconds (sub-second precision kept), NULLs as
    NaN. Shared by the decay/recency multiplier kernels."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    loc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
    col = slice_tbl.column(field)
    if pa.types.is_timestamp(col.type):
        ts = pc.cast(col, pa.timestamp("us")).cast(pa.int64())
        vals = ts.to_numpy(zero_copy_only=False).astype(np.float64) / 1e6
        vals = np.where(col.is_null().to_numpy(zero_copy_only=False),
                        np.nan, vals)
    else:
        vals = pc.cast(col, pa.float64()).to_numpy(zero_copy_only=False)
    return loc, vals


def decay_multiplier(index_dir: str, shard: int, gen: int, width: int,
                     field: str, kind: str, origin_s: float,
                     scale_s: float, decay: float, offset_s: float):
    """Width-sized float64 multiplier vector for the ES decay-function
    family (``function_score`` ``gauss`` / ``exp`` / ``linear`` — the
    published Elasticsearch formulas, frozen here and mirrored by the
    DuckDB oracle twins):

        dist   = max(0, |value - origin| - offset)      # two-sided
        gauss  : exp(-dist^2 / (2*sigma^2)),  sigma^2 = -scale^2 / (2*ln d)
        exp    : exp(lambda * dist),          lambda  = ln(d) / scale
        linear : max(0, (s - dist) / s),      s       = scale / (1 - d)

    where ``d = decay`` is the multiplier AT distance ``scale`` (ES
    default 0.5). All three are <= 1 everywhere and 1.0 at/inside the
    offset radius. Offsets with no docvalue row (or NULL value) get 1.0
    — absent information never penalizes (the recency_multiplier rule).
    One-sided recency (max(0, now - ts)) remains the separate legacy
    ``recency_multiplier`` — both stay frozen."""
    import math

    import numpy as np
    m = np.ones(int(width), dtype=np.float64)
    slice_tbl = _load_shard(index_dir, shard, gen)
    if slice_tbl is None or slice_tbl.num_rows == 0:
        return m
    loc, vals = _field_as_epoch_f64(slice_tbl, field)
    valid = ~np.isnan(vals)
    dist = np.maximum(0.0, np.abs(vals[valid] - origin_s) - offset_s)
    if kind == "gauss":
        sigma2 = -(scale_s * scale_s) / (2.0 * math.log(decay))
        mult = np.exp(-(dist * dist) / (2.0 * sigma2))
    elif kind == "exp":
        lam = math.log(decay) / scale_s
        mult = np.exp(lam * dist)
    else:  # linear
        s = scale_s / (1.0 - decay)
        mult = np.maximum(0.0, (s - dist) / s)
    m[loc[valid]] = mult
    return m


def group_values(index_dir: str, shard: int, gen: int, field: str,
                 loc):
    """Collapse-key values for the given shard-local offsets: object
    ndarray of STRINGS aligned with ``loc`` (the field's Arrow string
    rendering — collapse keys are categorical by design), None where the
    offset has no docvalue row or a NULL value (collapse EXCLUDES those
    docs — grouping by unknown key is undefined, the search_sorted NULL
    rule). Used by search_collapsed's per-shard best-per-group gather."""
    import numpy as np
    out = np.full(len(loc), None, dtype=object)
    slice_tbl = _load_shard(index_dir, shard, gen)
    if slice_tbl is None or slice_tbl.num_rows == 0:
        return out
    import pyarrow as pa
    import pyarrow.compute as pc
    sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
    vals = pc.cast(slice_tbl.column(field),
                   pa.string()).to_numpy(zero_copy_only=False)
    # sloc is written sorted; map loc -> value via searchsorted
    idx = np.searchsorted(sloc, loc)
    ok = (idx < sloc.size)
    ok[ok] &= sloc[idx[ok]] == np.asarray(loc)[ok]
    out[ok] = vals[idx[ok]]
    return out


def sort_values(index_dir: str, shard: int, gen: int, field: str,
                loc):
    """Sort-key values for the given shard-local offsets: float64 array
    aligned with ``loc`` (timestamps as epoch seconds; NaN where the
    offset has no docvalue row or a NULL value — callers rank NaN last).
    Used by search_sorted's per-shard top-k gather."""
    import numpy as np
    out = np.full(len(loc), np.nan, dtype=np.float64)
    slice_tbl = _load_shard(index_dir, shard, gen)
    if slice_tbl is None or slice_tbl.num_rows == 0:
        return out
    import pyarrow as pa
    import pyarrow.compute as pc
    sloc = slice_tbl.column("loc").to_numpy(zero_copy_only=False)
    col = slice_tbl.column(field)
    if pa.types.is_timestamp(col.type):
        ts = pc.cast(col, pa.timestamp("us")).cast(pa.int64())
        vals = ts.to_numpy(zero_copy_only=False).astype(np.float64) / 1e6
    else:
        vals = pc.cast(col, pa.float64()).to_numpy(zero_copy_only=False)
    # sloc is written sorted; map loc -> value via searchsorted
    idx = np.searchsorted(sloc, loc)
    ok = (idx < sloc.size)
    ok[ok] &= sloc[idx[ok]] == np.asarray(loc)[ok]
    out[ok] = vals[idx[ok]]
    return out
