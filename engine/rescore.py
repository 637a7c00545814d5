"""Query rescoring — the Elasticsearch ``rescore`` window (score_mode
``total``, the ES default): re-rank the primary query's top-``window``
docs by adding a secondary query's BM25 score, each side weighted.

Frozen contract (mirrored by the DuckDB oracle twin in
``__spark_entry__._rescore_sql``):

* the rescore WINDOW is the primary query's top-``window`` under its
  own frozen (score desc, doc_id asc) order — docs outside the window
  are never rescored and never appear in the result (``k <= window``
  is enforced);
* the secondary query is scored ONLY over the window docs, with
  corpus-GLOBAL stats (N, avgdl, idf — the same frozen filter
  semantics as ``doc_filter``); a window doc that does not match the
  secondary query contributes ``0.0`` (the ES
  ``query_weight``-only degenerate case);
* ``final = query_weight * primary + rescore_weight * secondary`` —
  one float64 fma-free expression per doc, evaluated in that literal
  order (multiply, multiply, add) so engine and oracle agree bitwise
  before the round-6 gate comparison;
* the result is the top-``k`` of the window under
  (final desc, doc_id asc).

Plan shape (the 100 TB argument): the primary is ``search`` at
``k = window``; its <= window collected ids (metadata-sized, the
``_collect_topk`` class) become a per-shard candidate mask held on the
driver for the secondary — ``search``'s own plan, masked like
``dv_filter``, with ZERO corpus scan — so the secondary reads only the
rescore query's own pruned postings buckets, and takes the driver-local
route (no Spark job) when its posting mass is small. ``k = window`` on
the secondary guarantees every matching window doc survives its top-k
cut (<= window candidates exist by construction). The weighted combine
is driver-side over <= window rows; the result is a jobless literal
relation. Nothing corpus-sized moves at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import query as Q

RESCORE_SCHEMA = "doc_id long, score double"


def search_rescore(index, query: str, rescore_query: str, k: int = 10,
                   window: int = 50, query_weight: float = 1.0,
                   rescore_weight: float = 1.0, mode: str = "OR",
                   exclude: str | None = None,
                   doc_filter: str | None = None) -> DataFrame:
    """Rescored top-k (see the frozen contract above). ``mode`` /
    ``exclude`` / ``doc_filter`` apply to the PRIMARY query (they define
    the window); the secondary query is always OR (the ES rescore query
    is a scoring query, not a filter). Returns (doc_id, score) where
    ``score`` is the weighted combination — not a raw BM25 value."""
    Q._warn_if_stale(index)
    if int(k) > int(window):
        raise ValueError(f"k ({k}) must be <= window ({window}): docs "
                         "outside the rescore window are never rescored")
    wq, wr = float(query_weight), float(rescore_weight)
    primary = Q.search(index, query, k=int(window), mode=mode,
                       exclude=exclude, doc_filter=doc_filter).collect()
    if not primary:
        return Q._empty_topk(index.spark)
    ids = [int(r["doc_id"]) for r in primary]
    sec = Q._search_impl(index, rescore_query, k=int(window),
                         mode="OR", allowed_ids=ids).collect()
    smap = {int(r["doc_id"]): float(r["score"]) for r in sec}
    fused = [(d, wq * float(r["score"]) + wr * smap.get(d, 0.0))
             for d, r in zip(ids, primary)]
    top = sorted(fused, key=lambda t: (-t[1], t[0]))[:int(k)]
    return Q._values_relation(index.spark, Q._TOPK_FIELDS, top)


def search_rescore_vector(index, query: str, emb: DataFrame, query_vec,
                          k: int = 10, window: int = 50,
                          query_weight: float = 1.0,
                          vector_weight: float = 1.0, mode: str = "OR",
                          exclude: str | None = None,
                          doc_filter: str | None = None,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Hybrid text+vector rescoring — the ES ``rescore``-with-knn /
    RRF-alternative hybrid pattern, score-combined instead of
    rank-combined: the BM25 top-``window`` re-ranked by

        final = query_weight * bm25 + vector_weight * cosine(q, emb)

    with the SAME frozen window/weights/tiebreak contract as
    ``search_rescore``. The cosine is the engine's frozen expression
    (similarity.cosine_expr: double-cast left-fold dot / norms — the
    ann_cosine-gated formula); a window doc with NO embedding row (or a
    zero-norm vector -> NULL cosine) contributes ``0.0``, the unknown-
    never-penalizes rule.

    ``emb`` is any DataFrame carrying (``id_col``, ``vec_col``) with
    ids in the index's doc_id space (the driver's embeddings table:
    vec_id == doc_id).

    Plan shape (the 100 TB argument): the primary is one unchanged
    pruned-scan job; the <= window collected ids become an ``isin``
    predicate PUSHED INTO the embeddings parquet scan (row-group
    pruning — the table is never fully read); cosine runs JVM-side
    over <= window rows; the weighted combine is driver-side; the
    result is a jobless local relation."""
    import math

    from pyspark.sql import functions as F

    from .similarity import _query_lit, dot_expr, norm_expr
    Q._warn_if_stale(index)
    if int(k) > int(window):
        raise ValueError(f"k ({k}) must be <= window ({window}): docs "
                         "outside the rescore window are never rescored")
    wq, wv = float(query_weight), float(vector_weight)
    qv = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in qv))
    if qn == 0.0:
        raise ValueError("query_vec must be non-zero")
    primary = Q.search(index, query, k=int(window), mode=mode,
                       exclude=exclude, doc_filter=doc_filter).collect()
    if not primary:
        return Q._empty_topk(index.spark)
    ids = [int(r["doc_id"]) for r in primary]
    vd = F.col(vec_col).cast("array<double>")
    cos_rows = (emb.filter(F.col(id_col).isin(ids))
                .select(F.col(id_col).cast("long").alias("doc_id"),
                        (dot_expr(vd, _query_lit(qv))
                         / (norm_expr(vd) * F.lit(qn))).alias("cos"))
                .collect())
    cmap = {int(r["doc_id"]): float(r["cos"])
            for r in cos_rows if r["cos"] is not None}
    fused = [(d, wq * float(r["score"]) + wv * cmap.get(d, 0.0))
             for d, r in zip(ids, primary)]
    top = sorted(fused, key=lambda t: (-t[1], t[0]))[:int(k)]
    return index.spark.createDataFrame(top, RESCORE_SCHEMA)
