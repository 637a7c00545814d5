"""Packed posting-list segments (SURVEY.md D1-D4): term-partitioned
aggregation -> delta+VByte binary payloads + block-max metadata.

Layout decisions (scale rationale):

* **Doc-range shards are the salt.** Posting rows carry
  ``shard = doc_id // shard_width``. The pack shuffle partitions by
  ``(term, shard)``, so a Zipf-head term (hot0 lives in ~97% of fixture
  docs) is split across ``n_slices`` executors instead of landing on one —
  this IS the D8 skew treatment, and because shards are doc-range disjoint
  and ordered, the salted sub-lists are exact sorted runs of the full list
  (merge = concatenation, no re-sort).
* **Shards are also the query-time scoring unit.** All query terms' sublists
  for one doc range co-locate in one group -> DAAT/WAND scoring per shard
  with a dense-offset score accumulator; per-shard top-k means <= k rows
  leave Python per shard.
* **Buckets are the storage partition.** ``bucket = xxhash64(term) % B`` is
  the parquet ``partitionBy`` column -> query-time partition pruning reads
  only the buckets containing query terms.
* The heavy sort runs JVM-side (``sortWithinPartitions`` - Tungsten,
  spillable); Python only detects run boundaries and VByte-encodes, fully
  vectorized (codec.encode_many).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from . import codec
from .config import DEFAULT, IndexConfig

# Block skip metadata rides as ONE binary column: a packed
# codec.BLOCK_DTYPE structured array per (term, shard) row —
# (last_doc_id, max_tf, min_dl, off, n, dbyte, tbyte, lbyte) records.
# r4: the earlier parquet array<struct> form cost one Python dict per
# block in every Arrow->pandas scorer task; np.frombuffer on the binary
# form is free (codec.decode_blocks). min_dl makes the per-block bound
# ub(max_tf, min_dl) tight (BM25 monotone in tf up, dl down); 0 encodes
# the legacy dl->0 bound (engine/wand.py).
BLOCK_T = T.BinaryType()

PACKED_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("cf", T.LongType(), False),
    T.StructField("max_tf", T.IntegerType(), False),
    T.StructField("doc_ids", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
    T.StructField("blocks", BLOCK_T, False),
    # positions stream (phrase queries): per posting, the term's positions
    # in that doc (first absolute, then deltas; split by tf counts).
    # Empty bytes when the index is built without positions
    # (IndexConfig.index_positions=False) — the column always exists so
    # one schema serves both layouts.
    T.StructField("poss", T.BinaryType(), False),
])

_ARROW_BLOCKS = pa.binary()  # packed codec.BLOCK_DTYPE records

# PACKED_SCHEMA as the Arrow schema its batches carry
ARROW_PACKED = pa.schema([
    ("term", pa.string()), ("shard", pa.int32()), ("df", pa.int64()),
    ("cf", pa.int64()), ("max_tf", pa.int32()), ("doc_ids", pa.binary()),
    ("tfs", pa.binary()), ("dls", pa.binary()), ("blocks", _ARROW_BLOCKS),
    ("poss", pa.binary())])


def shard_width(n_docs: int, n_slices: int) -> int:
    return max(1, -(-n_docs // n_slices))  # ceil div


def _pack_batches(batches, block_size: int):
    """Pack one shuffle partition (sorted by term, shard, doc_id) into
    packed posting rows — one output row per (term, shard) run.

    Terms stay Arrow-side as dictionary CODES (int32, zero-copy): run
    boundaries are detected on codes, and only the per-GROUP term strings
    (vocab.take at group starts) ever materialize. The earlier
    object-array form created one Python string per posting row — at 32
    concurrent multi-million-row tasks that dominated DRAM traffic and
    collapsed build throughput at high parallelism."""
    blist = list(batches)
    if not blist:
        return  # empty shuffle partition: no batches at all
    tbl = pa.Table.from_batches(blist)
    if tbl.num_rows == 0:
        return
    tdict = tbl.column("term").combine_chunks().dictionary_encode()
    codes = tdict.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    shards = tbl.column("shard").to_numpy(zero_copy_only=False).astype(np.int32)
    doc_ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    tfs = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
    dls = tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)
    n = codes.size
    # run boundaries where (term, shard) changes (equal strings share a
    # code within the single combined dictionary)
    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        change[1:] = (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
    starts = np.flatnonzero(change)
    bounds = np.append(starts, n).astype(np.int64)  # CSR, len G+1
    g = starts.size
    df_ = (bounds[1:] - bounds[:-1]).astype(np.int64)
    cf = np.add.reduceat(tfs, starts)
    max_tf = np.maximum.reduceat(tfs, starts).astype(np.int32)
    doc_payloads, tf_payloads, dl_payloads, blocks = codec.pack_lists(
        bounds, doc_ids, tfs, dls, block_size)
    yield pa.RecordBatch.from_arrays([
        tdict.dictionary.take(pa.array(codes[starts])).cast(pa.string()),
        pa.array(shards[starts], pa.int32()),
        pa.array(df_, pa.int64()),
        pa.array(cf, pa.int64()),
        pa.array(max_tf, pa.int32()),
        pa.array(doc_payloads, pa.binary()),
        pa.array(tf_payloads, pa.binary()),
        pa.array(dl_payloads, pa.binary()),
        pa.array(blocks, _ARROW_BLOCKS),
        pa.array([b""] * g, pa.binary()),  # raw IR carries no positions
    ], names=[f.name for f in PACKED_SCHEMA.fields])


def tokenize_pack_partial(docs: DataFrame, width: int,
                          cfg: IndexConfig = DEFAULT) -> DataFrame:
    """Map-side run generation (the external-sort classic): tokenize AND
    pack each Arrow batch into per-(term, shard) PARTIAL runs before any
    shuffle.

    The docs input is doc-range sorted (docids.assign_doc_ids, or the
    written sorted corpus re-read via docids.read_with_doc_ids), so each
    batch's (term, shard) sub-lists are exact sorted runs of the final
    posting lists. Merge needs same-(term, shard) runs to cover DISJOINT
    doc-id INTERVALS — and a parquet re-read does NOT guarantee that per
    batch: Spark bin-packs files into scan tasks by size (not range
    order) and re-batches rows across file boundaries, so one Arrow
    batch can hold the tail of one range and the head of a non-adjacent
    one. Each batch is therefore SPLIT at doc-id discontinuities before
    packing (doc_ids are +1-contiguous within any scan split, so a gap
    marks a file/split boundary); every emitted run then covers a single
    contiguous interval, and intervals are globally disjoint because
    every doc appears in exactly one input row. merge._merge_batches
    additionally validates monotonicity and fails loudly. Shuffling the
    VByte-packed runs instead of raw (doc, term, tf, dl) rows moves
    ~10x fewer bytes (measured: 2.5 GB -> ~0.25 GB at 1.95M turns) and
    replaces the corpus-sized JVM shuffle sort with a vocab-sized one —
    shuffle volume is THE scaling bottleneck on real clusters, and
    memory bandwidth is this sandbox's. The reduce side is exactly
    ``merge.merge_pass(fanin=1)``: order runs by first docID per
    (term, shard) group, concatenate, re-encode. Final packed content is
    byte-identical to the raw-shuffle path (tested across parallelism).
    """
    return docs.select("doc_id", "text", *cfg.extra_fields).mapInArrow(
        lambda it: pack_partial_batches(it, width, cfg), PACKED_SCHEMA)


def pack_partial_batches(batches, width: int, cfg: IndexConfig = DEFAULT):
    """The per-batch body of ``tokenize_pack_partial``: Arrow batches of
    (doc_id, text, *extra_fields) -> packed partial runs, one row per
    (term, shard) run of each batch. The distributed build runs it in
    ``mapInArrow`` tasks; the driver build (build.build_index below
    BUILD_LOCAL_MAX_ROWS) calls it on the corpus held in memory."""
    from .analyzer import doc_term_freqs_arrow, doc_token_positions_arrow
    acfg = cfg.analyzer
    block_size = cfg.block_size
    with_pos = cfg.index_positions
    extra_fields = tuple(cfg.extra_fields)
    names = [f.name for f in PACKED_SCHEMA.fields]

    def emit(doc_ids_b, text_arr, prefix=None, use_pos=None):
        if use_pos is None:
            use_pos = with_pos
        if use_pos:
            # occurrence-level kernel: one entry per token occurrence,
            # lexsorted with pos innermost -> postings fall out as
            # (term, doc) runs and positions stay sorted per posting
            rows, terms, pos, dl = doc_token_positions_arrow(text_arr, acfg)
            if rows.size == 0:
                return None
            occ_docs = doc_ids_b[rows].astype(np.int64)
            occ_dls = dl[rows].astype(np.int64)
            occ_shards = (occ_docs // width).astype(np.int64)
            tdict = pa.array(terms, pa.string()).dictionary_encode()
            occ_codes = tdict.indices.to_numpy(
                zero_copy_only=False).astype(np.int64)
            order = np.lexsort((pos, occ_docs, occ_shards, occ_codes))
            occ_codes, occ_shards = occ_codes[order], occ_shards[order]
            occ_docs, occ_dls, pos = (
                occ_docs[order], occ_dls[order], pos[order])
            no = occ_codes.size
            pch = np.empty(no, dtype=bool)
            pch[0] = True
            pch[1:] = ((occ_codes[1:] != occ_codes[:-1])
                       | (occ_docs[1:] != occ_docs[:-1]))
            posting_starts = np.flatnonzero(pch)  # occurrence index
            post_docs = occ_docs[posting_starts]
            post_tfs = np.diff(np.append(posting_starts, no)).astype(np.int64)
            post_dls = occ_dls[posting_starts]
            codes = occ_codes[posting_starts]
            shards = occ_shards[posting_starts]
        else:
            rows, terms, tfs, dl = doc_term_freqs_arrow(text_arr, acfg)
            if rows.size == 0:
                return None
            post_docs = doc_ids_b[rows].astype(np.int64)
            post_dls = dl[rows].astype(np.int64)
            post_tfs = tfs.astype(np.int64)
            shards = (post_docs // width).astype(np.int64)
            tdict = pa.array(terms, pa.string()).dictionary_encode()
            codes = tdict.indices.to_numpy(
                zero_copy_only=False).astype(np.int64)
            order = np.lexsort((post_docs, shards, codes))
            codes, shards = codes[order], shards[order]
            post_docs, post_tfs, post_dls = (
                post_docs[order], post_tfs[order], post_dls[order])
        n = codes.size
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
        starts = np.flatnonzero(change)
        bounds = np.append(starts, n).astype(np.int64)
        df_ = (bounds[1:] - bounds[:-1]).astype(np.int64)
        cf = np.add.reduceat(post_tfs, starts)
        max_tf = np.maximum.reduceat(post_tfs, starts).astype(np.int32)
        doc_pl, tf_pl, dl_pl, blocks = codec.pack_lists(
            bounds, post_docs, post_tfs, post_dls, block_size)
        if use_pos:
            occ_bounds = np.append(posting_starts[starts],
                                   no).astype(np.int64)
            pos_pl = codec.encode_positions_groups(
                occ_bounds, posting_starts, pos)
        else:
            pos_pl = [b""] * starts.size
        term_arr = tdict.dictionary.take(
            pa.array(codes[starts])).cast(pa.string())
        if prefix is not None:
            # field-prefixed term space (IndexConfig.extra_fields):
            # the prefix lands on the GROUP-level term strings only
            # (vocab-sized, never per posting)
            import pyarrow.compute as pc
            term_arr = pc.binary_join_element_wise(
                pa.array([prefix] * len(term_arr), pa.string()),
                term_arr, "")
        return pa.RecordBatch.from_arrays([
            term_arr,
            pa.array(shards[starts].astype(np.int32), pa.int32()),
            pa.array(df_, pa.int64()),
            pa.array(cf, pa.int64()),
            pa.array(max_tf, pa.int32()),
            pa.array(doc_pl, pa.binary()),
            pa.array(tf_pl, pa.binary()),
            pa.array(dl_pl, pa.binary()),
            pa.array(blocks, _ARROW_BLOCKS),
            pa.array(pos_pl, pa.binary()),
        ], names=names)

    for b in batches:
        if b.num_rows == 0:
            continue
        doc_ids_b = b.column("doc_id").to_numpy(
            zero_copy_only=False).astype(np.int64)
        # (field_column, term_prefix, positions?) — extra fields
        # index without positions (phrase is a text-field query)
        streams = [(b.column("text").cast(pa.string()), None, None)]
        streams += [(b.column(f_).cast(pa.string()), f_ + ":", False)
                    for f_ in extra_fields]
        # split at doc-id discontinuities (run-disjointness guarantee
        # — see the docstring): realistic scans yield few pieces
        # (doc_ids are +1-contiguous within a file/split)
        cuts = np.flatnonzero(np.diff(doc_ids_b) != 1) + 1
        if cuts.size == 0:
            for arr, pfx, upos in streams:
                rb = emit(doc_ids_b, arr, prefix=pfx, use_pos=upos)
                if rb is not None:
                    yield rb
        else:
            bounds = np.concatenate(
                ([0], cuts, [doc_ids_b.size])).astype(np.int64)
            for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
                for arr, pfx, upos in streams:
                    rb = emit(doc_ids_b[s:e], arr.slice(s, e - s),
                              prefix=pfx, use_pos=upos)
                    if rb is not None:
                        yield rb


def pack_postings(postings: DataFrame, n_docs: int,
                  cfg: IndexConfig = DEFAULT) -> DataFrame:
    """Pack at the final scoring-shard grain (no merge passes)."""
    from .build import effective_slices
    n_shards = effective_slices(cfg, n_docs)
    return pack_postings_width(
        postings, shard_width(n_docs, n_shards), cfg,
        n_parts=max(cfg.pack_partitions, n_shards))


def pack_postings_width(postings: DataFrame, width: int,
                        cfg: IndexConfig = DEFAULT,
                        n_parts: int | None = None) -> DataFrame:
    """Flat postings IR (doc_id, term, tf[, dl]) -> packed rows with
    ``shard = doc_id // width``.

    Explicit shuffle: ``repartition(n_parts, term, shard)`` — (term,
    shard) grain bounds any single GROUP by the shard's doc count
    regardless of term frequency (skew-proof by construction). The pack
    task materializes its whole shuffle PARTITION (one vectorized numpy
    pass), so ``n_parts`` must scale with the data: build_index passes
    max(cfg.pack_partitions, fine_slices), bounding per-task postings at
    ~one run's worth (pack_docs_per_slice * avgdl) at any corpus size.
    """
    parts = int(n_parts) if n_parts else cfg.pack_partitions
    with_shard = postings.withColumn(
        "shard", (F.col("doc_id") / F.lit(int(width))).cast("int"))
    part = (with_shard
            .repartition(parts, "term", "shard")
            .sortWithinPartitions("term", "shard", "doc_id")
            .select("term", "shard", "doc_id", "tf", "dl"))
    return part.mapInArrow(
        lambda it: _pack_batches(it, cfg.block_size), PACKED_SCHEMA)


def with_bucket(packed: DataFrame, cfg: IndexConfig = DEFAULT) -> DataFrame:
    return packed.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("term")), F.lit(cfg.n_buckets)).cast("int"))


def write_segment(packed: DataFrame, path: str,
                  cfg: IndexConfig = DEFAULT) -> None:
    """Write a packed segment bucket-partitioned with a stable file layout.

    The extra ``repartition(n_buckets, bucket)`` makes the file count
    per ``bucket=`` dir independent of upstream parallelism (vs. up to
    pack_partitions files per dir) — fewer files to commit/list/prune —
    and ``sortWithinPartitions(term, shard)`` clusters rows so parquet
    row-group min/max stats on ``term`` stay tight for query-time
    predicate pushdown. The payload at this point is packed (vocab-sized,
    not corpus-sized), so the shuffle is cheap.
    """
    (with_bucket(packed, cfg)
     .repartition(cfg.n_buckets, "bucket")
     .sortWithinPartitions("term", "shard")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def write_segment_arrow(packed: pa.Table, path: str,
                        cfg: IndexConfig = DEFAULT) -> pa.Table:
    """Driver twin of ``write_segment`` for a segment held in memory:
    the same ``bucket=`` directories (``xxh.term_bucket``, the driver
    form of ``with_bucket``), one file per bucket sorted by (term,
    shard), and the ``_SUCCESS`` marker. Returns the rows with their
    ``bucket`` column, in (bucket, term, shard) order."""
    import pyarrow.compute as pc

    from .manifest import write_parquet_dir
    from .xxh import term_bucket
    terms = packed.column("term").combine_chunks().dictionary_encode()
    vocab = terms.dictionary.to_pylist()
    by_code = np.array([term_bucket(t, cfg.n_buckets) for t in vocab],
                       np.int32)
    codes = terms.indices.to_numpy(zero_copy_only=False)
    tbl = packed.append_column("bucket", pa.array(by_code[codes], pa.int32()))
    tbl = tbl.take(pc.sort_indices(tbl, [("bucket", "ascending"),
                                         ("term", "ascending"),
                                         ("shard", "ascending")]))
    buckets = tbl.column("bucket").to_numpy()
    cuts = np.flatnonzero(np.diff(buckets)) + 1
    bounds = np.concatenate(([0], cuts, [len(buckets)])).tolist()
    write_parquet_dir(path, {
        f"bucket={int(buckets[s])}": tbl.slice(s, e - s).drop_columns("bucket")
        for s, e in zip(bounds[:-1], bounds[1:]) if e > s})
    return tbl
