"""Document deletes: tombstone sets + physical purge compaction.

Completes the index lifecycle (build -> streaming append -> DELETE ->
compact/purge) with the standard two-phase contract of production
engines (Lucene/ES "delete-by-query" + segment merge):

* ``delete_docs`` / ``delete_ids`` mark documents deleted by writing
  their shard-local offsets into a per-shard TOMBSTONE store
  (``<index_dir>/deletes/del_shard=<n>/``, same physical layout idea as
  the docvalue store). Deleted docs disappear from every query surface
  IMMEDIATELY — search, batch, phrase, prefix, sorted, facets — via the
  same per-shard mask machinery doc_filter/dv_filter already use (one
  cached, sorted offset array per scorer task; zero corpus scan, zero
  extra shuffle per query).
* corpus statistics (N, avgdl, idf) stay those of the last build/compact
  until ``purge_deletes`` runs — the frozen Lucene semantic: tombstoned
  docs can't match, but they still count in the BM25 denominator until a
  physical rewrite. This is exactly the contract the SQL oracle twin
  mirrors (stats over the full corpus, deleted docs excluded from
  results), so the gate compares bit-for-bit.
* ``purge_deletes`` is the physical compaction: ONE pass over the final
  segment (mapInArrow, no shuffle — each posting row is rewritten in
  place minus its deleted postings), then the lexicon rebuild + exact
  stats identity (sum_dl == sum(cf)) the batch build already uses.
  After purge, scores equal a fresh build over the surviving docs with
  the SAME doc_ids (tested); doc ids are never renumbered, so external
  references and the docvalue/corpus stores stay valid.

The 100 TB argument: deletes never touch the corpus-sized data — a
delete writes |matching docs| int32 offsets partitioned by the scorer's
own shard key; queries intersect a cached per-shard array (tombstone
sets are a few % of a shard at worst); purge is a single
embarrassingly-parallel segment rewrite whose output is strictly
smaller than its input. Nothing is ever re-tokenized.

ID-space note: the manifest tracks ``n_ids`` (the doc_id ceiling) apart
from ``n_docs`` (live docs, the BM25 N). Purge lowers n_docs but never
n_ids, so streaming appends after a purge keep allocating fresh ids and
shard geometry stays stable.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import OrderedDict

from pyspark.sql import functions as F

DEL_DIRNAME = "deletes"

# Worker-global LRU of per-shard tombstone sets:
# (index_dir, shard, del_epoch) -> sorted int64 numpy array of shard-local
# offsets. Epoch-keyed so a new delete batch never serves a stale set.
_TOMB_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_TOMB_CACHE_CAP = int(os.environ.get("SPARK_GRAFT_TOMB_CACHE_SHARDS", "64"))


def del_path(index_dir: str) -> str:
    return os.path.join(index_dir, DEL_DIRNAME)


def deleted_locs(index_dir: str, shard: int, epoch: int):
    """Sorted, unique shard-local offsets of tombstoned docs for one
    scoring shard — read worker-side from the shard's tombstone
    partition and cached per (index_dir, shard, epoch). Returns None
    when the shard has no tombstones (the common case: zero overhead)."""
    key = (index_dir, int(shard), int(epoch))
    if key in _TOMB_CACHE:
        _TOMB_CACHE.move_to_end(key)
        return _TOMB_CACHE[key]
    import numpy as np
    import pyarrow.dataset as pads
    part_dir = os.path.join(del_path(index_dir), f"del_shard={int(shard)}")
    if not os.path.isdir(part_dir):
        locs = None
    else:
        t = pads.dataset(part_dir, format="parquet").to_table(
            columns=["loc"])
        locs = np.unique(t.column("loc").to_numpy(zero_copy_only=False)
                         .astype(np.int64))
        if locs.size == 0:
            locs = None
    _TOMB_CACHE[key] = locs
    while len(_TOMB_CACHE) > _TOMB_CACHE_CAP:
        _TOMB_CACHE.popitem(last=False)
    return locs


def _write_tombstones(index, marked_df) -> int:
    """Append (del_shard, loc) rows, recount the distinct tombstone set,
    bump the delete epoch, and sync the live handle. Returns the number
    of NEWLY deleted docs."""
    from .manifest import Manifest
    spark = index.spark
    width = int(index.shard_width)
    (marked_df
     .select(F.expr(f"CAST(doc_id DIV {width} AS INT)").alias("del_shard"),
             F.expr(f"CAST(doc_id - (doc_id DIV {width}) * {width} "
                    f"AS BIGINT)").alias("loc"))
     .sortWithinPartitions("del_shard", "loc")
     .write.partitionBy("del_shard").mode("append")
     .parquet(del_path(index.index_dir)))
    man = Manifest.load(index.index_dir)
    before = int(man.n_deleted)
    # exact distinct recount — the tombstone store is offsets-only
    # (int32 + int64 per marked doc), so this scan is tombstone-sized,
    # not corpus-sized
    total = (spark.read.parquet(del_path(index.index_dir))
             .select("del_shard", "loc").distinct().count())
    man.n_deleted = int(total)
    man.del_epoch = int(man.del_epoch) + 1
    man.save(index.index_dir)
    index.n_deleted = man.n_deleted
    index.del_epoch = man.del_epoch
    # prepared plans embed the old epoch in their task closures
    index._plan_cache = {}
    return int(total - before)


def delete_docs(index, predicate: str) -> int:
    """Delete-by-query: tombstone every doc matching an SQL predicate
    over the stored corpus columns (same pushed-down corpus scan as
    doc_filter — predicate and column pruning reach the parquet read).
    Returns the number of newly deleted docs. Stats (N/avgdl/idf) are
    unchanged until purge_deletes — the documented two-phase contract."""
    return _write_tombstones(index, index.corpus().filter(predicate))


def delete_ids(index, doc_ids) -> int:
    """Tombstone an explicit id list (driver-side, metadata-sized — the
    'user clicked delete' path). Ids outside [0, n_ids) are rejected."""
    ids = sorted({int(d) for d in doc_ids})
    if not ids:
        return 0
    ceiling = int(getattr(index, "n_ids", 0) or index.n_docs)
    bad = [d for d in ids if d < 0 or d >= ceiling]
    if bad:
        raise ValueError(f"doc_ids out of range [0, {ceiling}): {bad[:5]}")
    df = index.spark.createDataFrame([(d,) for d in ids], "doc_id long")
    return _write_tombstones(index, df)


def purge_deletes(index, cfg=None):
    """Physically drop tombstoned docs from the index: rewrite the final
    segment minus deleted postings (one mapInArrow pass, no shuffle),
    rebuild the lexicon with fresh df/idf over the LIVE doc count, and
    restore the exact stats identity avgdl == sum(cf)/N. Clears the
    tombstone store. Returns a fresh PackedIndex handle.

    Post-conditions (tested): queries against the purged index are
    rank- and score-identical to a fresh batch build over the surviving
    documents re-assigned the SAME doc_ids; n_ids (the append id base)
    is unchanged, so future appends never collide."""
    import numpy as np
    import pyarrow as pa

    from . import codec
    from .build import load_index, write_lexicon
    from .manifest import Manifest, Segment
    from .pack import PACKED_SCHEMA, _ARROW_BLOCKS, write_segment

    spark = index.spark
    index_dir = index.index_dir
    man = Manifest.load(index_dir)
    assert man is not None, index_dir
    if not man.n_deleted:
        return index  # nothing to purge
    if not man.completed:
        raise ValueError(
            f"purge_deletes({index_dir}): streaming increments are "
            f"pending compaction — run streaming.compact() first (purge "
            f"rewrites only the final segment, so it would silently drop "
            f"tombstones from uncompacted increments)")
    cfg = cfg or index.cfg
    width = int(man.shard_width)
    epoch = int(man.del_epoch)
    block_size = int(man.block_size or cfg.block_size)
    has_positions = bool(man.positions)
    final = man.segment(man.final_segment)
    assert final is not None, "purge needs a compacted final segment"
    seg = spark.read.parquet(final.path).drop("bucket")

    def rewrite(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            terms = b.column("term").to_pylist()
            shards = b.column("shard").to_numpy(zero_copy_only=False)
            dfs = b.column("df").to_numpy(zero_copy_only=False)
            doc_pl = b.column("doc_ids").to_pylist()
            tf_pl = b.column("tfs").to_pylist()
            pos_pl = b.column("poss").to_pylist()
            doc_ids, tfs, bounds = codec.decode_postings_many(doc_pl, tf_pl,
                                                              dfs)
            dls, _ = codec.decode_many(b.column("dls").to_pylist(), dfs)
            dls = dls.astype(np.int64)
            # per-posting keep mask: membership test against the row's
            # shard tombstone set (sorted -> searchsorted)
            keep = np.ones(doc_ids.size, dtype=bool)
            tomb_by_shard = {int(s): deleted_locs(index_dir, int(s), epoch)
                             for s in np.unique(shards)}
            for i in range(n):
                tomb = tomb_by_shard[int(shards[i])]
                if tomb is None:
                    continue
                s, e = bounds[i], bounds[i + 1]
                loc = doc_ids[s:e] - int(shards[i]) * width
                j = np.searchsorted(tomb, loc)
                in_tomb = j < tomb.size
                in_tomb[in_tomb] = tomb[j[in_tomb]] == loc[in_tomb]
                keep[s:e] &= ~in_tomb
            new_df = np.add.reduceat(keep.astype(np.int64), bounds[:-1]) \
                if doc_ids.size else np.zeros(n, dtype=np.int64)
            new_df[dfs == 0] = 0
            live_rows = np.flatnonzero(new_df > 0)
            if live_rows.size == 0:
                continue
            k_docs, k_tfs, k_dls = doc_ids[keep], tfs[keep], dls[keep]
            new_bounds = np.zeros(live_rows.size + 1, dtype=np.int64)
            np.cumsum(new_df[live_rows], out=new_bounds[1:])
            cf = np.add.reduceat(k_tfs, new_bounds[:-1])
            max_tf = np.maximum.reduceat(k_tfs, new_bounds[:-1]) \
                .astype(np.int32)
            dpl, tpl, lpl, blk = codec.pack_lists(new_bounds, k_docs,
                                                  k_tfs, k_dls, block_size)
            if has_positions:
                ppl = []
                for r in live_rows:
                    s, e = bounds[r], bounds[r + 1]
                    pos, pb = codec.decode_positions(
                        pos_pl[r], tfs[s:e])
                    krow = keep[s:e]
                    kt = tfs[s:e][krow].astype(np.int64)
                    occ_keep = np.repeat(krow, np.diff(pb))
                    kpos = pos[occ_keep]
                    pstarts = np.zeros(kt.size + 1, dtype=np.int64)
                    np.cumsum(kt, out=pstarts[1:])
                    ppl.append(codec.encode_positions_groups(
                        np.array([0, kpos.size], dtype=np.int64),
                        pstarts, kpos)[0])
            else:
                ppl = [b""] * live_rows.size
            yield pa.RecordBatch.from_arrays([
                pa.array([terms[int(r)] for r in live_rows], pa.string()),
                pa.array(shards[live_rows].astype(np.int32), pa.int32()),
                pa.array(new_df[live_rows], pa.int64()),
                pa.array(cf, pa.int64()),
                pa.array(max_tf, pa.int32()),
                pa.array(dpl, pa.binary()),
                pa.array(tpl, pa.binary()),
                pa.array(lpl, pa.binary()),
                pa.array(blk, _ARROW_BLOCKS),
                pa.array(ppl, pa.binary()),
            ], names=[f.name for f in PACKED_SCHEMA.fields])

    t0 = time.perf_counter()
    out_id = "seg_d%03d" % sum(1 for s in man.segments
                               if s.segment_id.startswith("seg_d"))
    out_path = os.path.join(index_dir, "segments", out_id)
    write_segment(seg.mapInArrow(rewrite, PACKED_SCHEMA), out_path, cfg)

    n_live = int(man.n_docs) - int(man.n_deleted)
    write_lexicon(spark.read.parquet(out_path),
                  os.path.join(index_dir, "lexicon"), n_live,
                  (man.bm25 or {}).get("idf_variant", "lucene"))
    if int(man.fuzzy_edits or 0) > 0:
        # vocab may have SHRUNK (terms whose every posting was purged):
        # regenerate the neighborhood so fuzzy never resurrects them
        from .fuzzy import write_fuzzy_variants
        write_fuzzy_variants(spark, index_dir, man.n_buckets,
                             int(man.fuzzy_edits))
    if man.extra_fields:
        # multi-field index: split surviving cf by term space so text
        # avgdl and every field_avgdl restore their exact identities
        from .build import lexicon_cf_by_field
        cfs_ = lexicon_cf_by_field(spark.read.parquet(out_path))
        total_cf = cfs_.get("text", 0)
    else:
        total_cf = int(spark.read.parquet(out_path)
                       .agg(F.sum("cf")).first()[0] or 0)

    man.segments.append(Segment(
        out_id, max((s.pass_no for s in man.segments), default=0) + 1,
        out_path, src_segments=[final.segment_id], rows=-1,
        wall_s=time.perf_counter() - t0, status="complete"))
    final.status = "purged"
    man.final_segment = out_id
    if not man.n_ids:
        man.n_ids = int(man.n_docs)  # freeze the id ceiling pre-shrink
    man.n_docs = n_live
    man.sum_dl = total_cf
    man.avgdl = float(total_cf) / n_live if n_live else 0.0
    if man.extra_fields:
        for f_ in man.extra_fields:
            man.field_sum_dl[f_] = cfs_.get(f_, 0)
            man.field_avgdl[f_] = (cfs_.get(f_, 0) / n_live
                                   if n_live else 0.0)
    man.n_deleted = 0
    man.del_epoch = int(man.del_epoch) + 1  # invalidate tombstone caches
    man.save(index_dir)
    shutil.rmtree(del_path(index_dir), ignore_errors=True)
    # revalidate the CALLER's handle too (stats changed; prepared plans
    # embed the old avgdl/idf closures) — the returned fresh handle stays
    # the recommended pattern
    index.refresh()
    return load_index(spark, index_dir)
