"""Multi-pass segment merge (SURVEY.md D5) — resumable, bounded-memory.

The initial pack stage slices the corpus into ``n_slices * fanin^passes``
fine doc-range slices (each packed posting row covers one slice). Each
merge pass coarsens the slice grain by ``fanin``: the fanin sub-lists of a
(term, new_shard) group have disjoint, ordered doc ranges, so the merge is
decode -> order runs by first docID -> concatenate -> re-encode — the Spark
analog of the reference's I/O-bounded external merge (pass width bounds
per-task memory; spec: "multi-pass segment merge resumable from
per-partition checkpoints").

Each pass writes a NEW segment directory (bucket-partitioned parquet) and
checkpoints the manifest; resume skips passes whose segment is complete
(manifest entry + on-disk ``_SUCCESS``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from . import codec
from .config import DEFAULT, IndexConfig
from .pack import ARROW_PACKED, PACKED_SCHEMA, _ARROW_BLOCKS


def _merge_batches(batches, block_size: int):
    """Merge one shuffle partition (sorted by term, shard) — rows of the
    same (term, shard) are doc-range-disjoint runs; concat + re-encode."""
    blist = list(batches)
    if not blist:
        return  # empty shuffle partition: no batches at all
    tbl = pa.Table.from_batches(blist)
    if tbl.num_rows == 0:
        return
    tdict = tbl.column("term").combine_chunks().dictionary_encode()
    codes = tdict.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    shards = tbl.column("shard").to_numpy(zero_copy_only=False).astype(np.int32)
    dfs = tbl.column("df").to_numpy(zero_copy_only=False).astype(np.int64)
    doc_pl = tbl.column("doc_ids").to_pylist()
    tf_pl = tbl.column("tfs").to_pylist()
    dl_pl = tbl.column("dls").to_pylist()
    pos_pl = tbl.column("poss").to_pylist()
    n = codes.size
    # decode everything in one vectorized pass
    doc_ids, tfs, row_bounds = codec.decode_postings_many(doc_pl, tf_pl, dfs)
    dls, _ = codec.decode_many(dl_pl, dfs)
    dls = dls.astype(np.int64)
    # group rows by (term, shard)
    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        change[1:] = (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
    gstart = np.flatnonzero(change)
    gbound = np.append(gstart, n)
    # within each group, order runs by first doc_id, then concatenate.
    first_doc = doc_ids[row_bounds[:-1]] if doc_ids.size else np.empty(0, np.int64)
    order = np.arange(n)
    for g in range(gstart.size):  # per-group argsort of a handful of runs
        s, e = gbound[g], gbound[g + 1]
        if e - s > 1:
            order[s:e] = s + np.argsort(first_doc[s:e], kind="stable")
    # gather postings in merged order (vectorized index expansion)
    seg_lens = dfs[order]
    src_starts = row_bounds[:-1][order]
    total = int(seg_lens.sum())
    idx = np.repeat(src_starts, seg_lens) + (
        np.arange(total, dtype=np.int64)
        - np.repeat(np.cumsum(seg_lens) - seg_lens, seg_lens))
    m_docs = doc_ids[idx]
    m_tfs = tfs[idx]
    m_dls = dls[idx]
    out_df = np.add.reduceat(dfs, gstart)
    out_bounds = np.zeros(gstart.size + 1, dtype=np.int64)
    np.cumsum(out_df, out=out_bounds[1:])
    # disjointness contract check: within each merged group doc_ids must
    # be STRICTLY increasing (concat of interval-disjoint sorted runs).
    # A violation means upstream fed overlapping/duplicated runs — fail
    # loudly here instead of letting the delta encoder silently wrap a
    # negative gap into garbage doc_ids (pack.tokenize_pack_partial
    # guarantees the contract by splitting batches at discontinuities).
    if m_docs.size > 1:
        bad = m_docs[1:] <= m_docs[:-1]
        bad[out_bounds[1:-1] - 1] = False  # group boundaries may decrease
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            raise ValueError(
                "merge contract violation: overlapping or duplicate "
                f"posting runs (doc {int(m_docs[i])} -> "
                f"{int(m_docs[i + 1])} within one (term, shard) group)")
    cf = np.add.reduceat(m_tfs, out_bounds[:-1])
    max_tf = np.maximum.reduceat(m_tfs, out_bounds[:-1]).astype(np.int32)
    doc_payloads, tf_payloads, dl_payloads, blocks = codec.pack_lists(
        out_bounds, m_docs, m_tfs, m_dls, block_size)
    # positions: every posting's encoding restarts at an absolute value,
    # so merging runs is byte concatenation in run order — no re-encode
    # (codec.encode_positions_groups contract)
    pos_payloads = [b"".join(pos_pl[order[i]]
                             for i in range(gbound[g], gbound[g + 1]))
                    for g in range(gstart.size)]
    yield pa.RecordBatch.from_arrays([
        tdict.dictionary.take(pa.array(codes[gstart])).cast(pa.string()),
        pa.array(shards[gstart], pa.int32()),
        pa.array(out_df, pa.int64()),
        pa.array(cf, pa.int64()),
        pa.array(max_tf, pa.int32()),
        pa.array(doc_payloads, pa.binary()),
        pa.array(tf_payloads, pa.binary()),
        pa.array(dl_payloads, pa.binary()),
        pa.array(blocks, _ARROW_BLOCKS),
        pa.array(pos_payloads, pa.binary()),
    ], names=[f.name for f in PACKED_SCHEMA.fields])


def merge_pass(segments: DataFrame, fanin: int,
               cfg: IndexConfig = DEFAULT,
               n_parts: int | None = None) -> DataFrame:
    """One merge pass: coarsen shard grain by ``fanin`` and merge runs.

    Explicit shuffle on the NEW (term, shard) key; sort within partitions
    JVM-side so Python only concatenates runs. The merge task decodes its
    whole shuffle partition in one vectorized pass, so ``n_parts`` must
    scale with the data: build_index passes max(pack_partitions,
    post-pass shard count), keeping per-task decoded postings bounded at
    ~fanin runs' worth at any corpus size.
    """
    parts = int(n_parts) if n_parts else cfg.pack_partitions
    coarse = segments.withColumn(
        "shard", (F.col("shard") / F.lit(fanin)).cast("int"))
    part = (coarse.select([f.name for f in PACKED_SCHEMA.fields])
            .repartition(parts, "term", "shard")
            .sortWithinPartitions("term", "shard"))
    return part.mapInArrow(
        lambda it: _merge_batches(it, cfg.block_size), PACKED_SCHEMA)


def merge_arrow(segment: pa.Table, fanin: int,
                cfg: IndexConfig = DEFAULT) -> pa.Table:
    """Driver twin of ``merge_pass`` for a segment held in memory: the
    same shard coarsening, (term, shard) order and ``_merge_batches``,
    over the whole segment as one partition."""
    import pyarrow.compute as pc
    tbl = segment.select(ARROW_PACKED.names)
    if fanin != 1:
        tbl = tbl.set_column(1, "shard", pc.divide(
            tbl.column("shard"), np.int32(fanin)))
    tbl = tbl.take(pc.sort_indices(tbl, [("term", "ascending"),
                                         ("shard", "ascending")]))
    return pa.Table.from_batches(
        list(_merge_batches(tbl.to_batches(), cfg.block_size)),
        schema=ARROW_PACKED)
