"""Match-set operators beyond ranked retrieval: the exact count, docvalue
aggregations over the match set (stats, cardinality, missing, string
stats, histograms and their pipelines, ranges, facet stats, rare terms,
composite, filters, adjacency, percentiles, MAD), group-level ranking,
the match-set export, more-like-this and significant terms.

Every aggregation runs through one scaffold, ``_aggregate``, built from
three parts:

* the match set (``_prep_match``): the query's terms for the pruned
  postings scan and one ``hits(shard, post_pdf)`` closure with
  ``search``'s exact match semantics (AND/OR arity, NOT via ``exclude``,
  ``dv_filter``, tombstones). ``"*"`` (the ES ``match_all``) is every
  live doc, zero-token docs included, and reads no positive postings;
* a per-shard ``partial(shard, hit_locs, gather)`` that reduces one
  shard's hits to a small pandas frame, reading docvalues only through
  ``gather`` (``_gatherer``: values aligned with the hits, from the
  shard's own cached docvalue slice — no corpus scan);
* one pandas ``combine(partials)`` that turns every shard's partial
  rows into the answer. An empty match set is the case with no partial
  rows, so no surface builds its empty result by hand.

The route is the one search takes (``query._driver_route``), with the
match set's posting mass (``n_docs`` for ``"*"``) as the work:

* at most ``LOCAL_MAX_POSTINGS``: ``partial`` runs on the driver over a
  pyarrow read of the pruned postings (``query._driver_shards``, the
  loop the driver scorer uses) and no Spark job runs;
* above it: one ``groupBy("shard").applyInPandas`` job runs ``partial``
  in the shard tasks, and its partial rows are collected (``toArrow``).
  A ``doc_filter`` count is always this job, cogrouped with the
  filtered corpus side.

Partial rows are one per shard, or one per bucket, group or distinct
value of a shard — never one per doc. What the driver collects is
bounded by the answer: a surface whose answer holds every key of its
partial rows (a count, stats, histogram buckets, ranges, filters)
collects at most shards x answer rows; a surface whose answer is a cut
or a reduction of its keys (cardinality, rare terms, histogram top,
facet stats, percentiles' value histogram, group ranking) passes a
``merge`` that the distributed route runs on the executors, over hash
groups of the partial rows' keys, so it collects at most one answer
per hash group; composite cuts each shard to its page. Every reduction
is exact int64
(timestamps at the frozen whole-second grain) or a float fold in a
frozen order, so both routes give identical rows, and each surface's
DuckDB twin in ``__spark_entry__`` reduces the same integers.

Aggregations are eager: they run when called, and the answer is a
driver-held ``VALUES`` relation (``query._values_relation``) whose
``collect()`` runs nothing. Repeated identical calls return the same
answer (``_plan_cached``) until the index changes.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from . import query as Q
from .analyzer import tokenize_py
from .query import (_allowed_shards, _del_closure, _doc_limit, _plan_cached,
                    _require_dv, _values_relation, _warn_if_stale,
                    query_terms)

COUNT_SCHEMA = "n_docs long"
STATS_SCHEMA = ("n_docs long, n_with_value long, min_val double, "
                "max_val double, sum_val double, avg_val double")
HISTOGRAM_SCHEMA = "bucket_start long, n_docs long"
PIPELINE_SCHEMA = ("bucket_start long, n_docs long, cum_docs long, "
                   "delta_docs long")
PCT_SCHEMA = "p double, value long"
GROUPS_SCHEMA = "group_key string, score double, n_docs long"

_SPARK_T = {"long": T.LongType(), "double": T.DoubleType(),
            "string": T.StringType(), "int": T.IntegerType()}
_ARROW_T = {"long": pa.int64(), "double": pa.float64(),
            "string": pa.string(), "int": pa.int32()}
_POST_COLS = ["term", "shard", "df", "doc_ids", "tfs"]


def _columns(ddl: str) -> list:
    """``"a long, b string"`` -> ``[("a", "long"), ("b", "string")]``."""
    return [tuple(c.split()) for c in ddl.split(",")]


def _schema(ddl: str) -> pa.Schema:
    return pa.schema([(n, _ARROW_T[t]) for n, t in _columns(ddl)])


def _held(index, ddl: str, rows) -> DataFrame:
    """The answer: ``rows`` (Python values, None for NULL) as a held
    VALUES relation with schema ``ddl``."""
    return _values_relation(
        index.spark, [T.StructField(n, _SPARK_T[t]) for n, t in
                      _columns(ddl)], [tuple(r) for r in rows])


@dataclasses.dataclass
class _MatchSet:
    """What the scaffold runs over: the pruned postings scan and the
    shard function's membership rule."""
    lex: dict          # lexicon rows of the scan terms
    scan_terms: list   # every term the postings scan reads
    cols: list         # the postings columns the shard function reads
    mass: int          # postings decoded (+ n_docs for "*"): the gate's work
    hits: object       # (shard, post_pdf, allowed_loc=None) -> int64 locs
    n_shards: "int | None" = None  # "*": every shard runs, postings or not


def _hits_closure(index, neg: list, need: "int | None", dv_filter,
                  match_all: bool):
    """``hits(shard, post_pdf, allowed_loc=None)``: the sorted
    shard-local offsets of the matching docs, from the shard's postings
    rows decoded in one ``codec.decode_postings_many`` pass. A doc
    matches when it holds ``need`` positive terms (AND; any one for OR;
    every live offset for ``"*"``) and no ``neg`` term, is not
    tombstoned, passes ``dv_filter`` and is in ``allowed_loc`` (the
    ``doc_filter`` side, when given)."""
    _require_dv(index, dv_filter)
    width, n_docs = index.shard_width, int(index.n_docs)
    dv_dir, neg = index.index_dir, frozenset(neg)
    del_locs = _del_closure(index)

    def hits(shard, post_pdf, allowed_loc=None):
        from . import codec as C
        from .docvalues import eval_filter
        start = shard * width
        cnt = np.zeros(width, dtype=np.int32)
        if match_all:
            cnt[:max(0, min(width, n_docs - start))] = 1
        rows = post_pdf[post_pdf["doc_ids"].notna()]
        if len(rows):
            ids, _, bnd = C.decode_postings_many(
                rows["doc_ids"].tolist(), rows["tfs"].tolist(),
                rows["df"].to_numpy(np.int64))
            loc = ids - start
            is_neg = np.repeat(rows["term"].isin(neg).to_numpy(),
                               np.diff(bnd))
            cnt += np.bincount(loc[~is_neg], minlength=width).astype(
                np.int32)
            cnt[loc[is_neg]] = -1
        gone = None if del_locs is None else del_locs(shard)
        if gone is not None:
            cnt[gone] = -1
        for keep in (None if dv_filter is None else
                     eval_filter(dv_dir, shard, n_docs, dv_filter),
                     allowed_loc):
            if keep is not None:
                allow = np.zeros(width, dtype=bool)
                allow[keep] = True
                cnt[~allow] = -1
        return np.flatnonzero(cnt == need) if need \
            else np.flatnonzero(cnt > 0)

    return hits


def _prep_match(index, query: str, mode: str, exclude, dv_filter):
    """The match set of a boolean query, or None when it is provably
    empty (no analyzable term, an unknown term under AND, no live doc).
    ``"*"`` is every live doc: its shards run whether or not they hold
    postings, and only the ``exclude`` terms are scanned. It is refused
    after ``purge_deletes``, whose doc_id gaps only the postings know
    about (a dense scan would resurrect purged docs)."""
    acfg = index.cfg.analyzer
    n_docs = int(index.n_docs)
    match_all = (query or "").strip() == "*"
    if match_all:
        if int(getattr(index, "n_ids", 0) or 0) > n_docs:
            raise ValueError(
                "match-all ('*') is undefined after purge_deletes: purged "
                "doc_ids leave gaps a dense scan cannot see — aggregate "
                "with an explicit query, or reindex")
        terms = []
    else:
        terms = sorted(query_terms(query, acfg))
        if not terms:
            return None
    neg = sorted(set(tokenize_py(exclude, acfg)) - set(terms)) \
        if exclude else []
    lex = index.lookup_terms(sorted(set(terms) | set(neg))) \
        if terms or neg else {}
    known = [t for t in terms if t in lex]
    if (not match_all and not known) or n_docs == 0 \
            or (mode == "AND" and len(known) < len(terms)):
        return None
    neg = [t for t in neg if t in lex]
    scan = sorted(set(known) | set(neg))
    width = index.shard_width
    return _MatchSet(
        lex, scan, _POST_COLS,
        sum(int(lex[t]["df"]) for t in scan) + (n_docs if match_all else 0),
        _hits_closure(index, neg, len(terms) if mode == "AND" else None,
                      dv_filter, match_all),
        -(-n_docs // width) if match_all else None)


def _shard_job(index, m: _MatchSet, fn, ddl: str,
               doc_filter=None) -> DataFrame:
    """The distributed route's one job: ``fn(key, post_pdf,
    allowed_loc=None)`` in every shard task of the pruned postings scan
    (for ``"*"``: the shard list, left-joined with the negative terms'
    postings), cogrouped with the filtered corpus when ``doc_filter`` is
    given."""
    post = Q._pruned_postings(index, m.lex, m.scan_terms, m.cols) \
        if m.scan_terms else None
    if m.n_shards is not None:
        base = index.spark.range(m.n_shards).select(
            F.col("id").cast("int").alias("shard"))
        post = base.join(post, "shard", "left") if post is not None \
            else base.select("shard", *[
                F.lit(None).cast(t).alias(c) for c, t in (
                    ("term", "string"), ("df", "long"),
                    ("doc_ids", "binary"), ("tfs", "binary"))])
    grouped = post.groupBy("shard")
    if doc_filter is None:  # a grouped map takes exactly (key, data)
        return grouped.applyInPandas(lambda key, pdf: fn(key, pdf), ddl)
    width = index.shard_width

    def fnf(key, post_pdf, allowed_pdf):
        return fn(key, post_pdf, allowed_pdf["doc_id"].to_numpy(np.int64)
                  - int(key[0]) * width)

    allowed = _allowed_shards(index, doc_filter, width)
    return grouped.cogroup(allowed.groupBy("shard")).applyInPandas(fnf, ddl)


def _typed(pdf: "pd.DataFrame | None", ddl: str) -> pd.DataFrame:
    """``pdf`` through the Arrow schema of ``ddl``, as the distributed
    route's collect types it (None: no rows)."""
    schema = _schema(ddl)
    return (schema.empty_table() if pdf is None else pa.Table.from_pandas(
        pdf, schema=schema, preserve_index=False)).to_pandas()


def _partials(index, m: _MatchSet, fn, ddl: str, doc_filter=None,
              merge=None) -> pd.DataFrame:
    """Every shard's ``fn`` rows as one pandas frame typed by ``ddl``
    (through the same Arrow schema on both routes): on the driver when
    ``query._driver_route`` takes the match set's mass and no
    ``doc_filter`` needs the corpus, else collected from one
    ``_shard_job``.

    ``merge = (keys, reduce, out_ddl)``: ``reduce`` maps partial rows
    holding EVERY row of their ``keys`` values to rows typed by
    ``out_ddl``. The distributed route runs it on the executors, once
    per hash group of ``keys`` (one group per shuffle partition), and
    collects only its rows; the driver route runs it once over all the
    partial rows. Either way the rows of one key meet in one call."""
    if doc_filter is None and Q._driver_route(m.mass):
        parts = [p for p in Q._driver_shards(
            index, m.lex, m.scan_terms, m.cols, fn,
            None if m.n_shards is None else range(m.n_shards)) if len(p)]
        out = _typed(pd.concat(parts, ignore_index=True) if parts else None,
                     ddl)
        if merge is None:
            return out
        return _typed(merge[1](out) if len(out) else None, merge[2])
    job = _shard_job(index, m, fn, ddl, doc_filter)
    if merge is not None:
        keys, reduce, out_ddl = merge
        groups = int(index.spark.conf.get("spark.sql.shuffle.partitions"))
        job = job.groupBy(F.pmod(F.hash(*keys), F.lit(groups))) \
            .applyInPandas(reduce, out_ddl)
    return job.toArrow().to_pandas()


def _gatherer(dv_dir: str, dv_gen: int, shard: int, hit):
    """The one docvalue extractor: ``gather(field)`` -> the values of
    ``field`` for the hits ``hit`` of ``shard`` that have one, from the
    shard's cached docvalue slice (read on the first call only, so a
    partial that reads no docvalues reads no slice). A NULL value and a
    doc with no docvalue row both mean "unknown" and are skipped. Values
    are int64 (timestamps at the frozen whole-second grain) or, for a
    string column or with ``as_str`` (any column's Arrow string
    rendering), strings. ``aligned=True`` returns ``(values, present)``
    aligned with ``hit`` instead: ``present`` is False where the value
    is unknown, and a string value there is None."""
    import functools

    import pyarrow.compute as pc

    from .docvalues import _load_shard

    @functools.cache
    def rows():
        tbl = _load_shard(dv_dir, shard, dv_gen)
        if tbl is None or tbl.num_rows == 0:
            return None
        sloc = tbl.column("loc").to_numpy(zero_copy_only=False)
        row = np.minimum(np.searchsorted(sloc, hit), sloc.size - 1)
        return tbl, pa.array(row), sloc[row] == hit

    def values(field, as_str):
        if rows() is None:
            return (np.full(hit.size, None, dtype=object),
                    np.zeros(hit.size, dtype=bool))
        tbl, take, has_row = rows()
        col = tbl.column(field).take(take)
        present = has_row & ~col.is_null().to_numpy(zero_copy_only=False)
        if as_str or pa.types.is_string(col.type) \
                or pa.types.is_large_string(col.type):
            vals = pc.cast(col, pa.string()).to_numpy(zero_copy_only=False)
            return np.where(present, vals, None), present
        if pa.types.is_timestamp(col.type):
            micros = pc.fill_null(pc.cast(col, pa.timestamp("us"))
                                  .cast(pa.int64()), 0)
            return np.floor_divide(micros.to_numpy(zero_copy_only=False),
                                   1_000_000), present
        return pc.fill_null(col, 0).to_numpy(
            zero_copy_only=False).astype(np.int64), present

    def gather(field, as_str=False, aligned=False):
        vals, present = values(field, as_str)
        return (vals, present) if aligned else vals[present]

    return gather


def _aggregate(index, m: "_MatchSet | None", ddl: str, partial, combine,
               doc_filter=None, merge=None):
    """The scaffold: ``combine`` over the partial rows (schema ``ddl``)
    that ``partial(shard, hit_locs, gather)`` makes of each shard's hits
    in match set ``m`` — or, with ``merge`` (``_partials``), over what
    it reduces them to. A shard without hits, or a None ``partial``,
    adds no rows; a None ``m`` (provably empty) gives ``combine`` none
    at all."""
    names = [n for n, _ in _columns(ddl)]
    if m is None:
        return combine(_typed(None, ddl if merge is None else merge[2]))
    hits, dv_dir, dv_gen = m.hits, index.index_dir, int(index.n_docs)

    def fn(key, post_pdf, allowed_loc=None):
        shard = int(key[0])
        hit = hits(shard, post_pdf, allowed_loc)
        out = partial(shard, hit, _gatherer(dv_dir, dv_gen, shard, hit)) \
            if hit.size else None
        return pd.DataFrame({n: [] for n in names}) if out is None else out

    return combine(_partials(index, m, fn, ddl, doc_filter, merge))


def _dv_kind(index, field: str, label: str, kinds=None) -> str:
    """Check that ``field`` is a stored docvalue column and return its
    kind: ``"str"``, ``"ts"``, ``"int"`` or the Arrow type's name. With
    ``kinds``, any other kind is refused. ``label`` names the surface in
    the errors."""
    import pyarrow.dataset as pads

    from .docvalues import dv_path
    stored = list(index.doc_values or ())
    if field not in stored:
        raise ValueError(
            f"{label} field {field!r} is not a docvalue column of this "
            f"index (stored: {stored}; build with "
            f"IndexConfig(doc_values=...))")
    t = pads.dataset(dv_path(index.index_dir), format="parquet",
                     partitioning="hive").schema.field(field).type
    kind = ("str" if pa.types.is_string(t) or pa.types.is_large_string(t)
            else "ts" if pa.types.is_timestamp(t)
            else "int" if pa.types.is_integer(t) else str(t))
    if kinds is not None and kind not in kinds:
        names = {"str": "string", "int": "integer", "ts": "timestamp"}
        raise ValueError(
            f"{label}({field!r}): only "
            f"{'/'.join(names[k] for k in kinds)} docvalue columns are "
            f"supported; stored type is {t}")
    return kind


def _tuples(p: pd.DataFrame) -> list:
    """``p``'s rows as tuples of Python values, None for NULL (which
    pandas reads from Arrow as NaN in a numeric column)."""
    return list(zip(*(p[c].astype(object).where(p[c].notna(), None).tolist()
                      for c in p.columns)))


def _summed(p: pd.DataFrame, keys, col: str = "n") -> pd.DataFrame:
    """``col`` summed per ``keys``, in key order."""
    return p.groupby(keys, sort=True)[col].sum().reset_index()


def _sum_by(p: pd.DataFrame, keys, col: str = "n") -> list:
    """``col`` summed per ``keys`` over every shard's partial rows, as
    ``(*keys, sum)`` tuples in key order."""
    return _tuples(_summed(p, keys, col))


def _stats_partial(n: int, values) -> tuple:
    """(n, nv, mn, mx, sm): ``n`` docs and the count, min, max and exact
    int64 sum of their present ``values``."""
    v = values.astype(np.int64)
    if not v.size:
        return n, 0, 0, 0, 0
    return n, v.size, int(v.min()), int(v.max()), int(v.sum())


def _stats_row(p: pd.DataFrame) -> tuple:
    """(n_docs, n_with_value, min_val, max_val, sum_val, avg_val) over
    partial (n, nv, mn, mx, sm) rows: exact int64 reductions, then one
    int -> double conversion each and one double division for avg."""
    n, has = int(p["n"].sum()), p[p["nv"] > 0]
    nv = int(has["nv"].sum())
    if not nv:
        return n, 0, None, None, None, None
    sm = int(has["sm"].sum())
    return (n, nv, float(has["mn"].min()), float(has["mx"].max()),
            float(sm), float(sm) / nv)


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
    A ``doc_filter`` count runs the cogrouped job (the predicate pushed
    into the corpus read, one int64 per allowed doc shuffled on the
    shard key), whatever its size.
    """
    _warn_if_stale(index)
    mode = mode.upper()

    def build():
        n = _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            "n long", lambda shard, hit, gather: pd.DataFrame(
                {"n": [hit.size]}),
            lambda p: int(p["n"].sum()), doc_filter)
        return _held(index, COUNT_SCHEMA, [(n,)])

    return _plan_cached(
        index, ("mc", query, mode, exclude, doc_filter, dv_filter), build)


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
    float column's cross-shard sum would depend on the reduction order —
    the engine's results are bit-reproducible everywhere else, and a
    nondeterministic aggregate would be the one liar in the API. The
    whole pipeline reduces exact int64s (epoch-seconds x docs stays
    within int64 up to ~5e9 matched docs); the DuckDB oracle twin
    reduces the identical integers, and the final avg is one identical
    int/int double division on both sides.
    """
    _warn_if_stale(index)
    mode = mode.upper()
    _dv_kind(index, field, "match_stats", ("ts", "int"))

    def build():
        row = _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            "n long, nv long, mn long, mx long, sm long",
            lambda shard, hit, gather: pd.DataFrame(
                [_stats_partial(hit.size, gather(field))],
                columns=["n", "nv", "mn", "mx", "sm"]),
            _stats_row)
        return _held(index, STATS_SCHEMA, [row])

    return _plan_cached(
        index, ("ms", query, field, mode, exclude, dv_filter), build)


def match_cardinality(index, query: str, field: str, mode: str = "OR",
                      exclude: str | None = None,
                      dv_filter: str | None = None) -> DataFrame:
    """EXACT distinct-value count of a STORED docvalue column over the
    match set (the ES `cardinality` aggregation, exact instead of HLL —
    e.g. "how many distinct conversations mention X").

    Returns one row ``(n_values:long)`` — the number of distinct
    non-NULL values of ``field`` among docs matching the boolean query
    (timestamps at the whole-second grain), with match_count's
    membership. The oracle twin is ``COUNT(DISTINCT field)`` over the
    matching docs. Each shard emits its own distinct values (for a
    unique-per-doc field, its hits: the floor for an EXACT distinct,
    which is why engines offer HLL when approximation is acceptable);
    the distinct count runs where they meet, so the distributed route
    collects one count per hash group, not the values.
    """
    _warn_if_stale(index)
    mode = mode.upper()
    kind = _dv_kind(index, field, "match_cardinality")

    def build():
        n = _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            "v string" if kind == "str" else "v long",
            lambda shard, hit, gather: pd.DataFrame(
                {"v": np.unique(gather(field))}),
            lambda p: int(p["n"].sum()),
            merge=(["v"], lambda p: pd.DataFrame({"n": [p["v"].nunique()]}),
                   "n long"))
        return _held(index, "n_values long", [(n,)])

    return _plan_cached(
        index, ("mcard", query, field, mode, exclude, dv_filter), build)


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
    reduction-order hazard)."""
    _warn_if_stale(index)
    mode = mode.upper()
    _dv_kind(index, field, "match_missing")

    def partial(shard, hit, gather):
        return pd.DataFrame({"n": [hit.size],
                             "miss": [hit.size - gather(field).size]})

    def build():
        row = _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            "n long, miss long", partial,
            lambda p: (int(p["n"].sum()), int(p["miss"].sum())))
        return _held(index, "n_docs long, n_missing long", [row])

    return _plan_cached(
        index, ("mmiss", query, field, mode, exclude, dv_filter), build)


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
    order — bit-reproducible regardless of shard count. Each shard
    emits one length row (``c`` NULL) plus one row per character it
    holds (bounded by its alphabet, never docs)."""
    import math
    from collections import Counter
    _warn_if_stale(index)
    mode = mode.upper()
    _dv_kind(index, field, "match_string_stats", ("str",))

    def partial(shard, hit, gather):
        vals = gather(field).tolist()
        lens = [len(v) for v in vals]
        chars = Counter("".join(vals))
        return pd.DataFrame(
            [(None, 0, hit.size, len(lens), min(lens, default=0),
              max(lens, default=0), sum(lens))]
            + [(c, n, 0, 0, 0, 0, 0) for c, n in chars.items()],
            columns=["c", "cnt", "n", "nv", "mn", "mx", "sm"])

    def combine(p):
        lens = p[p["c"].isna()]
        n, nv, sm = (int(lens[c].sum()) for c in ("n", "nv", "sm"))
        has = lens[lens["nv"] > 0]
        counts = {c: int(x) for c, x in
                  _sum_by(p[p["c"].notna()], "c", "cnt")}
        total = sum(counts.values())
        ent = 0.0
        for ch in sorted(counts):  # frozen order: char asc
            q = counts[ch] / total
            ent -= q * math.log2(q)
        return (n, nv, int(has["mn"].min()) if nv else None,
                int(has["mx"].max()) if nv else None,
                float(sm) / nv if nv else None, ent)

    def build():
        row = _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            "c string, cnt long, n long, nv long, mn long, mx long, "
            "sm long", partial, combine)
        return _held(index, "n_docs long, n_with_value long, min_len long, "
                            "max_len long, avg_len double, entropy double",
                     [row])

    return _plan_cached(
        index, ("msstr", query, field, mode, exclude, dv_filter), build)


def _histogram_rows(index, query, field, interval_s, mode, exclude,
                    dv_filter, top=None) -> list:
    """Sorted ``(bucket_start, n_docs)`` pairs of ``match_histogram``;
    with ``top = (n, asc)``, only ``match_histogram_top``'s first ``n``
    in its frozen order, cut where each bucket's shard counts meet."""
    def partial(shard, hit, gather):
        b = np.floor_divide(gather(field), interval_s) * interval_s
        ub, cnt = np.unique(b, return_counts=True)
        return pd.DataFrame({"b": ub, "n": cnt})

    def busiest(p):
        return _summed(p, "b").sort_values(
            ["n", "b"], ascending=[top[1], True]).head(top[0])

    m = _prep_match(index, query, mode, exclude, dv_filter)
    if top is None:
        return _aggregate(index, m, "b long, n long", partial,
                          lambda p: _sum_by(p, "b"))
    return _aggregate(index, m, "b long, n long", partial,
                      lambda p: _tuples(busiest(p)),
                      merge=(["b"], busiest, "b long, n long"))


def _histogram_args(index, field: str, interval_s, label: str) -> int:
    interval_s = int(interval_s)
    if interval_s <= 0:
        raise ValueError("interval_s must be a positive whole number "
                         "of seconds")
    _dv_kind(index, field, label, ("ts", "int"))
    return interval_s


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
    Each shard emits one row per NON-EMPTY bucket it holds.
    """
    _warn_if_stale(index)
    mode = mode.upper()
    interval_s = _histogram_args(index, field, interval_s,
                                 "match_histogram")
    return _plan_cached(
        index, ("mh", query, field, interval_s, mode, exclude, dv_filter),
        lambda: _held(index, HISTOGRAM_SCHEMA, _histogram_rows(
            index, query, field, interval_s, mode, exclude, dv_filter)))


def _pipeline_rows(index, query, field, interval_s, mode, exclude,
                   dv_filter) -> list:
    """``match_histogram_pipeline``'s rows: the histogram densified from
    its first to its last bucket, with running total and derivative."""
    counts = dict(_histogram_rows(index, query, field, interval_s, mode,
                                  exclude, dv_filter))
    rows, cum, prev = [], 0, None
    for b in range(min(counts), max(counts) + 1, interval_s) \
            if counts else ():
        n = counts.get(b, 0)
        cum += n
        rows.append((b, n, cum, None if prev is None else n - prev))
        prev = n
    return rows


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
    ``bucket_start``; all counts exact int64. The pipeline runs in
    pandas over ``match_histogram``'s combined rows, which the queried
    time range bounds, never the corpus (the ES pipeline aggs also run
    over the reduced buckets).
    """
    _warn_if_stale(index)
    mode = mode.upper()
    interval_s = _histogram_args(index, field, interval_s,
                                 "match_histogram_pipeline")
    return _plan_cached(
        index, ("mhp", query, field, interval_s, mode, exclude, dv_filter),
        lambda: _held(index, PIPELINE_SCHEMA, _pipeline_rows(
            index, query, field, interval_s, mode, exclude, dv_filter)))


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

    The predicate runs in the embedded DuckDB over the pipeline rows
    (the ``dv_filter`` machinery), so keep it to the ANSI subset Spark
    SQL and DuckDB parse identically; the oracle twin is the literal
    same string. It must be one expression: a ``;`` that would start a
    second statement is refused (``ValueError``)."""
    from .docvalues import _con, where
    _warn_if_stale(index)
    mode = mode.upper()
    interval_s = _histogram_args(index, field, interval_s,
                                 "match_histogram_having")

    def build():
        rows = _pipeline_rows(index, query, field, interval_s, mode,
                              exclude, dv_filter)
        buckets = pa.table(  # noqa: F841 — DuckDB reads it by name
            [pa.array(c, pa.int64()) for c in zip(*rows)] if rows
            else [pa.array([], pa.int64())] * 4,
            names=["bucket_start", "n_docs", "cum_docs", "delta_docs"])
        kept = _con().execute(f"SELECT * FROM buckets {where(having)} "
                              f"ORDER BY bucket_start").fetchall()
        return _held(index, PIPELINE_SCHEMA, kept)

    return _plan_cached(
        index, ("mhh", query, field, interval_s, having, mode, exclude,
                dv_filter), build)


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

    Returns ``(bucket_start, n_docs)``, ordered by the sort above."""
    _warn_if_stale(index)
    mode = mode.upper()
    n = int(n)
    if n <= 0:
        raise ValueError("n must be >= 1")
    interval_s = _histogram_args(index, field, interval_s,
                                 "match_histogram_top")

    return _plan_cached(
        index, ("mht", query, field, interval_s, n, bool(asc), mode,
                exclude, dv_filter),
        lambda: _held(index, HISTOGRAM_SCHEMA, _histogram_rows(
            index, query, field, interval_s, mode, exclude, dv_filter,
            top=(n, bool(asc)))))


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
    buckets emit no row; NULL/absent values contribute nothing."""
    _warn_if_stale(index)
    mode = mode.upper()
    edges = [int(e) for e in edges]
    if not edges or sorted(set(edges)) != edges:
        raise ValueError("edges must be a non-empty sorted list of "
                         "distinct integers")
    _dv_kind(index, field, "match_ranges", ("ts", "int"))
    bounds = [None] + edges + [None]

    def partial(shard, hit, gather):
        b = np.searchsorted(np.asarray(edges, dtype=np.int64),
                            gather(field).astype(np.int64),
                            side="right")
        cnt = np.bincount(b, minlength=len(edges) + 1)
        nz = np.flatnonzero(cnt)
        return pd.DataFrame({"b": nz, "n": cnt[nz]})

    def build():
        rows = _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            "b long, n long", partial, lambda p: _sum_by(p, "b"))
        return _held(index, "lo long, hi long, n_docs long",
                     [(bounds[b], bounds[b + 1], n) for b, n in rows])

    return _plan_cached(
        index, ("mr", query, field, tuple(edges), mode, exclude, dv_filter),
        build)


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

    ``order_by`` (the ES terms-agg ``_order_`` on a stats sub-agg
    metric): ``count`` (default), ``min``, ``max``, ``sum`` or ``avg``,
    descending unless ``ascending``. Frozen rule: a NULL metric (a group
    with no stat values) ranks LAST either direction, ties break on
    facet_value asc with the NULL group first; ``n`` keeps the first n
    groups."""
    _warn_if_stale(index)
    mode = mode.upper()
    _dv_kind(index, group_field, "facet_stats")
    _dv_kind(index, stat_field, "facet_stats", ("ts", "int"))
    order_by = order_by.lower()
    metrics = ("count", "min", "max", "sum", "avg")
    if order_by not in metrics:
        raise ValueError(f"order_by must be count/min/max/sum/avg "
                         f"(got {order_by!r})")
    if n is not None and int(n) <= 0:
        raise ValueError("n must be >= 1")
    pos = {"count": 1, "min": 3, "max": 4, "sum": 5, "avg": 6}[order_by]
    cut = None if n is None else int(n)
    out = ("facet_value string, n_docs long, n_with_value long, "
           "min_val double, max_val double, sum_val double, avg_val double")

    def partial(shard, hit, gather):
        groups = pd.Series(gather(group_field, as_str=True, aligned=True)[0])
        vals, present = gather(stat_field, aligned=True)
        return pd.DataFrame(
            [(None if pd.isna(g) else g,
              *_stats_partial(idx.size, vals[idx][present[idx]]))
             for g, idx in groups.groupby(groups, dropna=False,
                                          sort=False).indices.items()],
            columns=["g", "n", "nv", "mn", "mx", "sm"])

    def order(row):
        m = row[pos]
        return (m is None, 0 if m is None else m if ascending else -m,
                row[0] is not None, row[0] or "")

    def facets(p):  # exact over rows holding every row of their groups
        rows = sorted(((None if pd.isna(g) else g, *_stats_row(grp))
                       for g, grp in p.groupby("g", dropna=False,
                                               sort=False)), key=order)
        return pd.DataFrame(rows[:cut], columns=[c for c, _ in _columns(out)])

    def build():
        rows = _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            "g string, n long, nv long, mn long, mx long, sm long", partial,
            lambda p: sorted(_tuples(p), key=order)[:cut],
            merge=(["g"], facets, out))
        return _held(index, out, rows)

    return _plan_cached(
        index, ("fs", query, group_field, stat_field, mode, exclude,
                dv_filter, order_by, bool(ascending),
                None if n is None else int(n)), build)


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
    (n_docs asc, facet_value asc), limited to ``n`` rows. The rarity
    filter and the cut run where a value's shard counts meet (a value
    can be rare in one shard and common overall): on the executors on
    the distributed route, which collects at most ``n`` rows per hash
    group."""
    _warn_if_stale(index)
    mode = mode.upper()
    max_doc_count = int(max_doc_count)
    if max_doc_count < 1:
        raise ValueError("max_doc_count must be >= 1")
    n = int(n)
    if n < 1:
        raise ValueError("n must be >= 1")
    _dv_kind(index, field, "rare_terms")

    def partial(shard, hit, gather):
        v, cnt = np.unique(gather(field, as_str=True).astype(str),
                           return_counts=True)
        return pd.DataFrame({"v": v, "cnt": cnt})

    def rarest(p):  # exact over rows holding every row of their values
        c = p.groupby("v", sort=False)["cnt"].sum().reset_index()
        return c[c["cnt"] <= max_doc_count].sort_values(["cnt", "v"]).head(n)

    def build():
        rows = _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            "v string, cnt long", partial,
            lambda p: _tuples(rarest(p)),
            merge=(["v"], rarest, "v string, cnt long"))
        return _held(index, "facet_value string, n_docs long", rows)

    return _plan_cached(
        index, ("rare", query, field, max_doc_count, n, mode, exclude,
                dv_filter), build)


def match_composite(index, query: str, fields, size: int = 10,
                    after=None, mode: str = "OR",
                    exclude: str | None = None,
                    dv_filter: str | None = None) -> DataFrame:
    """Composite aggregation over the match set — the ES ``composite``
    agg: paginated iteration over the FULL bucket space of one or more
    key sources, ordered by the key tuple, resumable from an
    ``after`` key. Where ``facets``/``facet_stats`` present the top of
    one dimension, composite walks EVERY (k1, k2, ...) combination in
    deterministic pages.

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

    Each shard emits only its first ``size`` buckets past ``after``,
    in key order. That is exact: a bucket among the page's ``size`` has
    fewer than ``size`` smaller keys past ``after`` in any shard, so
    every shard holding it sends it. What a page collects is at most
    shards x ``size`` rows, however many buckets the match set holds,
    and a page never reads the buckets of earlier pages back.
    """
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
    kinds = [_dv_kind(index, f_, "match_composite", ("str", "int", "ts"))
             for f_ in fields]
    if after is not None:
        after = tuple(str(v) if k_ == "str" else int(v)
                      for v, k_ in zip(after, kinds))
    ddl = ", ".join(f"{f_} {'string' if k_ == 'str' else 'long'}"
                    for f_, k_ in zip(fields, kinds))

    def partial(shard, hit, gather):
        cols = [gather(f_, aligned=True) for f_ in fields]
        keep = np.logical_and.reduce([present for _, present in cols])
        keys = pd.DataFrame({f_: vals[keep] for f_, (vals, _) in
                             zip(fields, cols)})
        if after is not None:  # key tuple > after, lexicographically
            past = np.zeros(len(keys), dtype=bool)
            tied = ~past
            for f_, a in zip(fields, after):
                v = keys[f_].to_numpy()
                past |= tied & (v > a)
                tied &= v == a
            keys = keys[past]
        if not len(keys):
            return None
        return keys.groupby(fields, sort=True).size().head(size) \
            .reset_index(name="n")

    def build():
        return _held(index, ddl + ", n_docs long", _aggregate(
            index, _prep_match(index, query, mode, exclude, dv_filter),
            ddl + ", n long", partial,
            lambda p: _sum_by(p, fields)[:size]))

    return _plan_cached(
        index, ("cmp", query, tuple(fields), size, after, mode, exclude,
                dv_filter), build)


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
    interval; an empty match set returns no rows. Two passes over the
    match set: ``match_stats`` for (min, max), then ``match_histogram``
    at the chosen grain."""
    _warn_if_stale(index)
    if int(target_buckets) < 1:
        raise ValueError("target_buckets must be >= 1")
    target = int(target_buckets)
    stats = match_stats(index, query, field, mode=mode, exclude=exclude,
                        dv_filter=dv_filter).collect()[0]
    out = "bucket_start long, n_docs long, interval_s long"
    if stats["n_with_value"] == 0:
        return _held(index, out, [])
    mn, mx = int(stats["min_val"]), int(stats["max_val"])
    interval = next((i for i in AUTO_HISTOGRAM_LADDER
                     if (mx // i) - (mn // i) + 1 <= target),
                    AUTO_HISTOGRAM_LADDER[-1])
    h = match_histogram(index, query, field, interval, mode=mode,
                        exclude=exclude, dv_filter=dv_filter).collect()
    return _held(index, out, [(*r, interval) for r in h])


def _named_filters(index, filters: dict, what: str) -> list:
    filters = sorted((str(n), str(p)) for n, p in filters.items())
    if not filters:
        raise ValueError(f"{what} needs at least one named filter")
    if not (index.doc_values or ()):
        raise ValueError("this index has no docvalue store — build with "
                         "IndexConfig(doc_values=...)")
    return filters


def _filtered_match(index, query, mode, exclude, dv_filter, preds):
    """``_prep_match`` for a surface that evaluates each of ``preds``
    over every docvalue row of each shard with hits. That work joins the
    gate's posting mass at a third of a posting per doc and predicate:
    forcing both routes over a sweep (the table next to
    ``query.LOCAL_MAX_POSTINGS``), the driver lost past ~3.5M postings
    with 3 predicates and past ~2M with 10, against ~4.2M with none."""
    m = _prep_match(index, query, mode, exclude, dv_filter)
    return m if m is None else dataclasses.replace(
        m, mass=m.mass + len(preds) * int(index.n_docs) // 3)


def match_filters(index, query: str, filters: dict,
                  mode: str = "OR", exclude: str | None = None,
                  dv_filter: str | None = None) -> DataFrame:
    """Filters aggregation — the ES ``filters`` agg: named predicate
    buckets over ONE boolean query's match set ("of the turns matching
    Q: how many are user turns, how many tool turns, how many from this
    week"). Each bucket is an independent ANSI-SQL predicate over the
    STORED docvalue columns, evaluated per shard by the embedded DuckDB
    (the dv_filter machinery); buckets overlap freely (a doc can count
    in several) — unlike ``facets``, which partitions by a column's
    values.

    Frozen contract (mirrored by the DuckDB twin in
    ``__spark_entry__``): returns ``(bucket:string, n_docs:long)`` with
    ONE row per named filter — zero-count buckets included (the ES
    behavior) — ordered by bucket name ascending. Match semantics are
    ``search``'s exact set (AND/OR arity, NOT via ``exclude``,
    ``dv_filter`` restriction, tombstones).
    """
    from .docvalues import eval_filter
    _warn_if_stale(index)
    mode = mode.upper()
    preds = _named_filters(index, filters, "match_filters")
    dv_dir, dv_gen = index.index_dir, int(index.n_docs)

    def partial(shard, hit, gather):
        return pd.DataFrame(
            [(n, np.intersect1d(hit, eval_filter(dv_dir, shard, dv_gen, p),
                                assume_unique=True).size) for n, p in preds],
            columns=["bucket", "n"])

    def build():
        counts = dict(_aggregate(
            index, _filtered_match(index, query, mode, exclude, dv_filter,
                                   preds),
            "bucket string, n long", partial,
            lambda p: _sum_by(p, "bucket")))
        return _held(index, "bucket string, n_docs long",
                     [(n, counts.get(n, 0)) for n, _ in preds])

    return _plan_cached(
        index, ("mf", query, tuple(preds), mode, exclude, dv_filter), build)


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
    (a asc, b asc). Match semantics are ``search``'s exact set. Each
    shard emits at most |filters|^2/2 rows (ES caps the agg at 100
    filters for the same quadratic reason)."""
    from .docvalues import eval_filter
    _warn_if_stale(index)
    mode = mode.upper()
    preds = _named_filters(index, filters, "match_adjacency")
    if len(preds) > 100:
        raise ValueError("match_adjacency caps at 100 filters (the "
                         "pair count is quadratic)")
    dv_dir, dv_gen = index.index_dir, int(index.n_docs)

    def partial(shard, hit, gather):
        masks = [np.isin(hit, eval_filter(dv_dir, shard, dv_gen, p))
                 for _, p in preds]
        out = [(a, preds[j][0], int(np.count_nonzero(masks[i] & masks[j])))
               for i, (a, _) in enumerate(preds)
               for j in range(i, len(preds))]
        return pd.DataFrame([r for r in out if r[2]],
                            columns=["a", "b", "n"])

    def build():
        return _held(index, "a string, b string, n_docs long", _aggregate(
            index, _filtered_match(index, query, mode, exclude, dv_filter,
                                   preds),
            "a string, b string, n long", partial,
            lambda p: _sum_by(p, ["a", "b"])))

    return _plan_cached(
        index, ("madj", query, tuple(preds), mode, exclude, dv_filter),
        build)


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

    Match semantics are ``search``'s exactly (the shared ``hits``:
    AND/OR arity, NOT via ``exclude``, ``doc_filter``/``dv_filter``
    restriction, tombstones excluded). ``columns`` picks the exported
    corpus columns (default: all stored columns); doc_id is always
    included.

    Plan: ``_shard_job`` resolves the match set per shard and each task
    emits bare int64 doc_ids — the minimum any exact match set can move.
    The ids join back to the stored corpus COLUMN-PRUNED to the
    requested fields; with AQE on, a selective match set broadcasts (the
    corpus side then streams scan->write with no shuffle), while a huge
    one degrades to a sort-merge join — either way nothing wider than
    the exported rows themselves crosses the cluster, and the parquet
    write is the dominant cost at scale, as an export should be. Driver
    memory never holds the match set.
    """
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
    m = _prep_match(index, query, mode, exclude, dv_filter)
    if m is None:  # provably empty: write just the schema
        corpus.limit(0).write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    hits, width = m.hits, index.shard_width

    def fn(key, post_pdf, allowed_loc=None):
        shard = int(key[0])
        return pd.DataFrame(
            {"doc_id": hits(shard, post_pdf, allowed_loc) + shard * width})

    ids = _shard_job(index, m, fn, "doc_id long", doc_filter)
    (corpus.join(ids, "doc_id")
     .write.mode("overwrite").parquet(out_dir))
    return spark.read.parquet(out_dir)


def _bin_width(vmin: int, vmax: int, n_bins: int) -> int:
    """Frozen integer binning rule (identical in the DuckDB twin):
    ``width = max(1, ceil((vmax - vmin + 1) / n_bins))`` — pure int64
    arithmetic, so both sides compute bit-identical bin ids with no
    float edge cases. ``bin(v) = (v - vmin) // width`` lies in
    [0, n_bins-1]."""
    span = vmax - vmin + 1
    return max(1, -(-span // n_bins))


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


def _value_args(index, field: str, label: str, method: str,
                n_bins: int) -> None:
    _dv_kind(index, field, label, ("ts", "int"))
    if method not in ("auto", "exact", "binned"):
        raise ValueError(f"{label} method must be auto|exact|binned, "
                         f"got {method!r}")
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")


def _value_hist(index, query: str, field: str, mode: str, exclude,
                dv_filter, method: str, n_bins: int,
                binned_threshold: int) -> list:
    """The shared reduction under match_percentiles and match_mad: the
    sorted ``(value, count)`` histogram of a timestamp/integer docvalue
    over the match set, [] when it has no values.

    ``"exact"``: one pass, each shard emitting its distinct values with
    counts — the exact-answer floor, but the driver holds one row per
    distinct value. ``"binned"``: a bounds pass (four int64s per shard:
    count, min, max, distinct count) freezes the integer bin edges
    (``_bin_width``), then each value counts under its bin's LOWER EDGE
    ``vmin + width * bin`` — at most n_bins rows, each reported value
    off by less than one bin width (exact when the width is 1). Either
    way the counts are summed where a value's shard counts meet, so the
    distributed route collects the histogram, not shards x histogram.
    ``"auto"`` runs the bounds pass and bins only when the sum of the
    per-shard distinct counts (an upper bound on the global distinct
    count, so on the exact histogram's size) exceeds
    ``binned_threshold``."""
    m = _prep_match(index, query, mode, exclude, dv_filter)
    vmin, wd = 0, 1
    if method != "exact":
        def bounds(shard, hit, gather):
            v = gather(field).astype(np.int64)
            return pd.DataFrame(
                [(v.size, v.min(), v.max(), np.unique(v).size)],
                columns=["n", "vmin", "vmax", "nd"]) if v.size else None

        b = _aggregate(
            index, m, "n long, vmin long, vmax long, nd long", bounds,
            lambda p: (int(p["vmin"].min()), int(p["vmax"].max()),
                       int(p["nd"].sum())) if len(p) else None)
        if b is None:
            return []
        if method == "binned" or b[2] > binned_threshold:
            vmin, wd = b[0], _bin_width(b[0], b[1], n_bins)

    def partial(shard, hit, gather):
        v = gather(field).astype(np.int64)
        ub, cnt = np.unique((v - vmin) // wd, return_counts=True)
        return pd.DataFrame({"b": ub, "cnt": cnt})

    return [(vmin + wd * b, c) for b, c in _aggregate(
        index, m, "b long, cnt long", partial,
        lambda p: _sum_by(p, "b", "cnt"),
        merge=(["b"], lambda p: _summed(p, "b", "cnt"), "b long, cnt long"))]


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
    values. The deviation histogram is derived from the value
    histogram (|v - median| merges symmetric values), so MAD costs no
    second pass over the data.

    ``method`` (``_value_hist``): ``"exact"``, ``"binned"`` (both
    medians walk the bin histogram with lower-edge representatives —
    the median off by less than one bin width, MAD by less than two) or
    ``"auto"`` (default: exact while the per-shard-distinct sum stays
    <= ``binned_threshold``)."""
    _warn_if_stale(index)
    mode = mode.upper()
    _value_args(index, field, "match_mad", method, n_bins)

    def build():
        pairs = _value_hist(index, query, field, mode, exclude, dv_filter,
                            method, n_bins, binned_threshold)
        if not pairs:
            return _held(index, "n_values long, median long, mad long",
                         [(0, None, None)])
        n = sum(c for _, c in pairs)
        med = _disc_value(pairs, 0.5, n)
        devs = {}
        for v, c in pairs:
            devs[abs(v - med)] = devs.get(abs(v - med), 0) + c
        mad = _disc_value(sorted(devs.items()), 0.5, n)
        return _held(index, "n_values long, median long, mad long",
                     [(n, med, mad)])

    return _plan_cached(
        index, ("mmad", query, field, mode, exclude, dv_filter, method,
                n_bins, binned_threshold), build)


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

    ``method`` (``_value_hist``): ``"exact"``; ``"binned"`` — the walk
    reports the containing bin's LOWER EDGE (error < one bin width,
    exact when the width is 1), driver state <= n_bins rows whatever
    the field's cardinality; ``"auto"`` (default) — exact while the
    per-shard-distinct sum stays <= ``binned_threshold``, binned above.
    """
    _warn_if_stale(index)
    mode = mode.upper()
    ps = tuple(float(p) for p in ps)
    if not ps or any(not (0.0 < p <= 1.0) for p in ps):
        raise ValueError(f"percentiles must lie in (0, 1]: {ps}")
    _value_args(index, field, "match_percentiles", method, n_bins)

    def build():
        pairs = _value_hist(index, query, field, mode, exclude, dv_filter,
                            method, n_bins, binned_threshold)
        n = sum(c for _, c in pairs)
        return _held(index, PCT_SCHEMA, [
            (p, _disc_value(pairs, p, n) if pairs else None) for p in ps])

    return _plan_cached(
        index, ("mpct", query, field, ps, mode, exclude, dv_filter, method,
                n_bins, binned_threshold), build)


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

    It runs on the aggregation scaffold's routes (``_partials``) with a
    scoring shard function in place of ``hits``: ``search``'s kernel
    ``_score_shard_batch`` scores every hit of the shard (a one-entry
    set at k=width), and the shard emits one partial row per group.
    Each group's fold and the top-k cut run where its shard rows meet
    (on the executors on the distributed route, which collects at most
    ``k`` groups per hash group).
    """
    from .query import _score_shard_batch
    _warn_if_stale(index)
    mode = mode.upper()
    score_mode = score_mode.lower()
    if score_mode not in ("max", "sum", "avg", "count"):
        raise ValueError(f"unknown score_mode {score_mode!r} "
                         "(max | sum | avg | count)")
    _dv_kind(index, field, "search_groups")
    _require_dv(index, dv_filter)
    ddl = "g string, shard int, n long, sm double, mx double"
    limit = _doc_limit(index, k)

    def best(rows):
        return sorted(rows, key=lambda r: (-r[1], r[0]))[:limit]

    def groups(p):  # exact over rows holding every row of their groups
        rows = []
        for g, grp in p.sort_values("shard").groupby("g", sort=False):
            n, sm = int(grp["n"].sum()), 0.0
            for x in grp["sm"].tolist():  # shard order: the frozen fold
                sm += x
            rows.append((g, {"max": float(grp["mx"].max()), "sum": sm,
                             "avg": sm / n, "count": float(n)}[score_mode],
                         n))
        return pd.DataFrame(best(rows),
                            columns=["group_key", "score", "n_docs"])

    def build():
        acfg = index.cfg.analyzer
        qtf = query_terms(query, acfg)
        neg = sorted(set(tokenize_py(exclude, acfg)) - set(qtf)) \
            if exclude else []
        terms = sorted(qtf)
        lex = index.lookup_terms(sorted(set(terms) | set(neg)))
        known = [t for t in terms if t in lex]
        if not known or (mode == "AND" and len(known) < len(terms)):
            return _held(index, GROUPS_SCHEMA, [])
        neg = [t for t in neg if t in lex]
        qtfs = {t: float(qtf[t]) for t in known}
        idfs = {t: float(lex[t]["idf"]) for t in known}
        scan = sorted(set(known) | set(neg))
        width = index.shard_width
        cfgd = {"k1": index.cfg.bm25.k1, "b": index.cfg.bm25.b,
                "avgdl": index.avgdl}
        dv_dir, dv_gen = index.index_dir, int(index.n_docs)
        del_locs = _del_closure(index)

        def fn(key, post_pdf, allowed_loc=None):
            from .docvalues import eval_filter, group_values
            shard = int(key[0])
            r = _score_shard_batch(
                post_pdf, {"": qtfs}, {"": mode}, idfs, cfgd, width, width,
                False, allowed_loc=None if dv_filter is None else
                eval_filter(dv_dir, shard, dv_gen, dv_filter),
                denied_loc=None if del_locs is None else del_locs(shard),
                negs={"": neg})
            if r is None or len(r) == 0:
                return pd.DataFrame({n: [] for n, _ in _columns(ddl)})
            r = r.sort_values("doc_id")  # doc_id order: the frozen fold
            sc = r["score"].to_numpy(np.float64)
            vals = group_values(dv_dir, shard, dv_gen, field,
                                r["doc_id"].to_numpy(np.int64)
                                - shard * width)
            out = []
            for g, idx in pd.Series(vals).groupby(vals).indices.items():
                v = sc[idx]  # None keys never form a group
                # np.add.accumulate is a strict sequential left-fold
                # (unlike np.sum's pairwise blocking) — the contract
                out.append((g, shard, v.size,
                            float(np.add.accumulate(v)[-1]),
                            float(v.max())))
            return pd.DataFrame(out, columns=["g", "shard", "n", "sm",
                                              "mx"])

        m = _MatchSet(lex, scan, _POST_COLS + ["dls"],
                      sum(int(lex[t]["df"]) for t in scan), None)
        return _held(index, GROUPS_SCHEMA, best(_tuples(_partials(
            index, m, fn, ddl, merge=(["g"], groups, GROUPS_SCHEMA)))))

    return _plan_cached(
        index, ("sg", query, field, k, score_mode, mode, exclude, dv_filter),
        build)
