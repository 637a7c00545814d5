"""Index build pipeline (SURVEY.md §2.B-D, §3 entry point 1): corpus ->
deterministic doc_ids -> tokenize -> packed/compressed segments + docmap +
lexicon + corpus stats.

Scale notes (100 TB design):
* The corpus-sized flat-postings IR is never materialized in the packed
  build: the tokenizer's output streams straight into the pack shuffle.
  The docmap/stats come from a separate tokenize pass — re-running the
  cheap narrow transform beats caching a corpus-sized intermediate (which
  is impossible at 100 TB regardless).
* The tokenizer emits posting rows AND one sentinel row per document
  (term=NULL) carrying (conv_id, turn_idx, dl), so either consumer
  (postings / docmap) is a filter over one ``mapInArrow`` pass with no
  extra shuffle — both inherit the doc-range partitioning.
* All counting per document happens inside the Arrow batch (RE2 kernels +
  np.unique; pandas fallback for non-ASCII); nothing per-row in Python.
* Lexicon/stats are classic partial+final hash aggregations (Catalyst
  splits them automatically — map-side combine before the shuffle).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT, IndexConfig
from .docids import (corpus_offsets, read_with_doc_ids, write_sorted_corpus,
                     write_sorted_corpus_arrow)
from .manifest import write_parquet_dir


def idf_col(df_col, n_docs: int, variant: str):
    """BM25 idf as a Spark Column (must mirror oracle.OracleIndex.idf)."""
    x = (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    return F.log(F.lit(1.0) + x) if variant == "lucene" else F.log(x)


def idf_np(df, n_docs: int, variant: str) -> np.ndarray:
    """``idf_col`` on the driver, bit for bit: the same double arithmetic
    in the same order, and Spark's ``log``, which is Java's
    ``StrictMath.log`` (fdlibm), not the platform log ``np.log`` and
    ``math.log`` call — those differ from it in the last bit on about a
    quarter and 4% of idf values."""
    d = np.asarray(df, np.float64)
    x = (float(n_docs) - d + 0.5) / (d + 0.5)
    return strict_log(1.0 + x) if variant == "lucene" else strict_log(x)


_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_TWO54 = 1.80143985094819840000e+16
_LG1, _LG2, _LG3, _LG4, _LG5, _LG6, _LG7 = (
    6.666666666666735130e-01, 3.999999999940941908e-01,
    2.857142874366239149e-01, 2.222219843214978396e-01,
    1.818357216161805012e-01, 1.531383769920937332e-01,
    1.479819860511658591e-01)


def strict_log(x) -> np.ndarray:
    """fdlibm's ``__ieee754_log`` (the algorithm of Java's
    ``StrictMath.log``) over a float64 array, for finite x > 0; the C
    branches become masks, the word surgery ``view``s. BM25 idf only
    ever takes the log of a positive finite double."""
    x = np.array(x, np.float64, ndmin=1)
    if not (np.all(x > 0) and np.all(np.isfinite(x))):
        raise ValueError("strict_log takes finite x > 0")
    hx = (x.view(np.uint64) >> np.uint64(32)).astype(np.int64)
    k = np.zeros(x.shape, np.int64)
    sub = hx < 0x00100000          # subnormal: scale up by 2^54
    if sub.any():
        x = np.where(sub, x * _TWO54, x)
        k -= np.where(sub, 54, 0)
        hx = (x.view(np.uint64) >> np.uint64(32)).astype(np.int64)
    k += (hx >> 20) - 1023
    hx &= 0x000fffff
    i = (hx + 0x95f64) & 0x100000
    # normalize x or x/2: set the high word to hx | (i ^ 0x3ff00000)
    hi = (hx | (i ^ 0x3ff00000)).astype(np.uint64) << np.uint64(32)
    x = (hi | (x.view(np.uint64) & np.uint64(0xffffffff))).view(np.float64)
    k += i >> 20
    f = x - 1.0
    dk = k.astype(np.float64)
    k0 = k == 0
    # |f| < 2^-20
    r = f * f * (0.5 - 0.33333333333333333 * f)
    tiny = np.where(
        f == 0.0,
        np.where(k0, 0.0, dk * _LN2_HI + dk * _LN2_LO),
        np.where(k0, f - r, dk * _LN2_HI - ((r - dk * _LN2_LO) - f)))
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    r = t2 + t1
    hfsq = 0.5 * f * f
    big = np.where(
        k0, f - (hfsq - s * (hfsq + r)),
        dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f))
    mid = np.where(k0, f - s * (f - r),
                   dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f))
    main = np.where(((hx - 0x6147a) | (0x6b851 - hx)) > 0, big, mid)
    return np.where((0x000fffff & (2 + hx)) < 3, tiny, main)


def write_lexicon(segment: DataFrame, path: str, n_docs: int,
                  idf_variant: str) -> None:
    """The lexicon of a packed segment: one row per (term, bucket) with
    summed df and cf, max max_tf and the BM25 idf, written range-sorted
    by term — each parquet file/row-group covers a contiguous vocab
    slice, so term-equality lookups AND prefix range scans
    (expand_prefix) prune on min/max stats instead of touching the
    whole vocab; at web scale the lexicon is itself large, and every
    query starts here. Every lexicon rewrite (build, compact, purge)
    goes through here or, on the driver build, ``write_lexicon_arrow``."""
    (segment.groupBy("term", "bucket")
     .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"),
          F.max("max_tf").alias("max_tf"))
     .withColumn("idf", idf_col(F.col("df"), n_docs, idf_variant))
     .sort("term").write.mode("overwrite").parquet(path))


def write_lexicon_arrow(segment: pa.Table, path: str, n_docs: int,
                        idf_variant: str) -> pa.Table:
    """Driver twin of ``write_lexicon`` for a segment held in memory
    (with its ``bucket`` column): the same rows, columns, term order and
    idf bits. Returns the lexicon."""
    import pyarrow.compute as pc
    g = segment.group_by(["term", "bucket"]).aggregate(
        [("df", "sum"), ("cf", "sum"), ("max_tf", "max")])
    lex = pa.table({
        "term": g.column("term"), "bucket": g.column("bucket"),
        "df": g.column("df_sum"), "cf": g.column("cf_sum"),
        "max_tf": g.column("max_tf_max")})
    lex = lex.take(pc.sort_indices(lex, [("term", "ascending")]))
    lex = lex.append_column("idf", pa.array(idf_np(
        lex.column("df").to_numpy(), n_docs, idf_variant), pa.float64()))
    write_parquet_dir(path, {"": lex})
    return lex


def lexicon_cf_by_field(lexdf: DataFrame) -> dict:
    """Vocab-scaled cf totals split by term space: unprefixed terms sum
    under "text", field-prefixed terms ("<field>:<token>" — ':' can
    never appear in an analyzer token) under their field name. The one
    aggregation behind every multi-field stats (re)computation (build,
    streaming append, purge)."""
    fld = (F.when(F.col("term").contains(":"),
                  F.split(F.col("term"), ":", 2)[0])
           .otherwise(F.lit("text")))
    rows = (lexdf.groupBy(fld.alias("fld"))
            .agg(F.sum("cf").alias("cf")).collect())
    return {r["fld"]: int(r["cf"] or 0) for r in rows}


def lexicon_cf_by_field_arrow(lex: pa.Table) -> dict:
    """Driver twin of ``lexicon_cf_by_field`` over a lexicon table."""
    import pyarrow.compute as pc
    term = lex.column("term")
    fld = pc.if_else(pc.match_substring(term, ":"), pc.list_element(
        pc.split_pattern(term, ":", max_splits=1), 0), "text")
    g = pa.table({"fld": fld, "cf": lex.column("cf")}).group_by(
        "fld").aggregate([("cf", "sum")])
    return {f_: int(c or 0) for f_, c in zip(
        g.column("fld").to_pylist(), g.column("cf_sum").to_pylist())}


# --------------------------------------------------------------------------
# Packed on-disk index: full build orchestration (M2/M3)
# --------------------------------------------------------------------------

def _parquet_rows(path: str) -> int:
    """Row count from parquet footers (driver-side metadata read — no
    Spark job; the count is for manifest metrics only)."""
    import pyarrow.dataset as pads
    try:
        return pads.dataset(path, format="parquet",
                            partitioning="hive").count_rows()
    except Exception:
        return -1


def _parquet_bytes(path: str) -> int:
    """Uncompressed bytes of a parquet directory, summed over its
    footers' row groups (driver-side metadata read — no Spark job)."""
    import pyarrow.dataset as pads
    total = 0
    for frag in pads.dataset(path, format="parquet",
                             partitioning="hive").get_fragments():
        md = frag.metadata
        total += sum(md.row_group(i).total_byte_size
                     for i in range(md.num_row_groups))
    return total


def any_equal(field: str, values):
    """pyarrow dataset filter ``field == v0 OR field == v1 ...`` as a
    balanced OR tree. pyarrow 16 prunes parquet row groups (and hive
    partition dirs) with an OR of equalities but NOT with ``is_in``: on a
    2M-term sorted lexicon ``is_in`` kept 31 of 31 row groups (240 ms)
    while the OR kept 3 (~30 ms)."""
    import pyarrow.dataset as pads
    exprs = [pads.field(field) == v for v in values]
    if not exprs:
        raise ValueError("any_equal needs at least one value")
    while len(exprs) > 1:
        exprs = [exprs[i] | exprs[i + 1] if i + 1 < len(exprs) else exprs[i]
                 for i in range(0, len(exprs), 2)]
    return exprs[0]


def _acfg_dict(cfg: IndexConfig) -> dict:
    """Analyzer hooks as a manifest-storable dict ({} when no-op)."""
    a = cfg.analyzer
    if a.is_noop:
        return {}
    return {"stopwords": sorted(a.stopwords), "stem": a.stem}


def effective_slices(cfg: IndexConfig, n_docs: int) -> int:
    """Resolved scoring-shard count: grows with the corpus so the dense
    per-shard accumulators in the scorers stay <= docs_per_score_shard
    docs wide regardless of scale (the 100x memory-bound guarantee)."""
    return max(cfg.n_slices, -(-n_docs // max(1, cfg.docs_per_score_shard)))


# The executor gate of build_index, the write-side twin of
# query._run_shards: a corpus of at most BUILD_LOCAL_MAX_ROWS rows and
# BUILD_LOCAL_MAX_BYTES Arrow bytes is built on the driver
# (``_driver_corpus``), a larger one by Spark jobs.
# Sweep (``python bench/build_routes.py``, committed as BUILD_ROUTES.json:
# make_transcripts corpora read from parquet, one turn a row ("short",
# ~210 Arrow bytes) or 32 turns a row ("wide", ~5.2 KB), default
# IndexConfig, local[4] on a 4-core / 15 GB box, one warm session, each
# route forced, 2 builds each; wall s driver / Spark, and the driver
# Python process's peak RSS growth on the driver route):
#     shape   rows     Arrow MB   driver     spark      driver RSS growth
#     short     6,484     1.4    0.56-0.61  4.28-4.35     17-24 MB
#     short    64,984    13.6    1.48-1.62  3.88-4.53    215-277 MB
#     short   129,984    27.3    2.54-2.60  5.47-5.50    260-350 MB
#     short   259,984    54.6    4.72-4.74  4.38-5.09    618-753 MB
#     wide      2,031    10.6    1.05-1.06  2.78-2.79     78-89 MB
#     wide      4,062    21.3    1.65-1.67  2.82-2.83    186-248 MB
#     wide      8,125    42.6    2.99       3.42-3.43    504-545 MB
#     wide     16,250    85.2    5.66-5.69  4.33-4.39  1,137-1,299 MB
# Wall time crosses over near 2^18 short rows and between 43 and 85 MB
# of wide rows, and driver memory grows ~12x the Arrow bytes. 2^17 rows
# and 32 MiB keep either shape below its crossover and within the
# ~350 MB 2^17 short rows take.
# The route choice itself (``_driver_corpus``, the sweep's
# route_choice): under 1 ms when the plan estimate (parquet's compressed
# size, ~0.4x the Arrow bytes here) is above 32 MiB; otherwise the
# limited read, wasted when the rows or their bytes then exceed a bound:
# 0.31 s on 260k short rows and 0.42 s on 8k wide rows, 6-12% of the
# Spark build there.
BUILD_LOCAL_MAX_ROWS = 1 << 17
BUILD_LOCAL_MAX_BYTES = 1 << 25
# Rows per Arrow batch the driver route tokenizes at a time (the
# session's spark.sql.execution.arrow.maxRecordsPerBatch): it bounds the
# tokenizer's working set, as a mapInArrow batch does.
LOCAL_BATCH_ROWS = 1 << 16


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` from its optimized plan: the
    files' on-disk bytes for a file source, rows times default column
    widths for a local relation, Long.MaxValue when it cannot tell (an
    RDD). Driver-side; no Spark job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def _driver_corpus(corpus: DataFrame) -> pa.Table | None:
    """The build's route, decided before any stage runs: the corpus as
    an Arrow table when the driver builds it, None when Spark does.

    A corpus whose plan estimate is above BUILD_LOCAL_MAX_BYTES (or
    unknown) goes to Spark without moving a row. Otherwise it is read
    once with ``limit(BUILD_LOCAL_MAX_ROWS + 1).toArrow()`` (one
    JVM-only job) and kept when it holds at most BUILD_LOCAL_MAX_ROWS
    rows and BUILD_LOCAL_MAX_BYTES bytes. An estimate can undercount
    (compressed files, wide strings in a local relation); a read that
    outgrows ``spark.driver.maxResultSize`` is refused by Spark, and the
    Spark route builds that corpus."""
    from py4j.protocol import Py4JJavaError
    if (BUILD_LOCAL_MAX_ROWS <= 0
            or _plan_bytes(corpus) > BUILD_LOCAL_MAX_BYTES):
        return None
    try:
        head = corpus.limit(BUILD_LOCAL_MAX_ROWS + 1).toArrow()
    except Py4JJavaError as e:
        if "maxResultSize" not in str(e):
            raise
        return None
    if (head.num_rows > BUILD_LOCAL_MAX_ROWS
            or head.nbytes > BUILD_LOCAL_MAX_BYTES):
        return None
    return head


def build_index(spark: SparkSession, corpus: DataFrame, index_dir: str,
                cfg: IndexConfig = DEFAULT, n_parts: int | None = None,
                resume: bool = True) -> "PackedIndex":
    """Full pipeline: corpus -> docIDs -> tokenize -> pack (fine slices) ->
    merge passes -> lexicon/docmap/corpus/manifest on disk. Resumable: each
    pass checkpoints the manifest; completed passes are skipped on rerun
    (SURVEY.md D5/A5). The resolved plan (effective slice count, fan-in,
    pass count, shard width) is stored in the manifest; a resume under a
    cfg that resolves a DIFFERENT plan is refused (shard geometry would
    silently disagree with the completed segments).

    Two routes, one pipeline, chosen by ``_driver_corpus`` before any
    stage runs: a corpus that Catalyst sizes at most
    BUILD_LOCAL_MAX_BYTES is read once with one JVM-only job, and when
    it holds at most BUILD_LOCAL_MAX_ROWS rows and BUILD_LOCAL_MAX_BYTES
    Arrow bytes the driver runs every stage on that table: it sorts the
    rows in Spark's (conv_id, turn_idx) order, numbers them, and calls
    the distributed route's own closures (``pack.pack_partial_batches``,
    ``merge._merge_batches``, ``idf_np`` for ``idf_col``) and their
    pyarrow writers, so both routes write the same rows. Otherwise
    Spark runs each stage. A resumed build takes the route its stored
    corpus (rows, and bytes from its parquet footers) selects. The
    docvalue and fuzzy stores are written by Spark on both routes.
    """
    import os
    import time

    from . import merge as merge_mod
    from . import pack as pack_mod
    from .manifest import Manifest, Segment, StageTimer, _success_marker

    t_start = time.perf_counter()
    timer = StageTimer()
    man = Manifest.load(index_dir) if resume else None
    if man is not None and man.completed:
        return load_index(spark, index_dir)

    corpus_path = os.path.join(index_dir, "corpus")
    docmap_path = os.path.join(index_dir, "docmap")
    base_done = (man is not None and man.n_docs > 0
                 and _success_marker(corpus_path) and _success_marker(docmap_path))
    # local: the build runs on the driver; held: the sorted corpus with
    # doc_id as an Arrow table (read back only if a resumed driver build
    # still has to pack)
    held = None
    if base_done:
        # resume: corpus+docmap+stats already on disk. Refuse if the
        # current cfg resolves a different shard plan than the one the
        # completed segments were packed under (ADVICE r1: a silent
        # geometry mismatch garbles every scorer's `shard * width`
        # offset with no error).
        n_docs, avgdl = man.n_docs, man.avgdl
        if man.n_slices and man.n_slices != effective_slices(cfg, n_docs):
            raise ValueError(
                f"resume plan mismatch at {index_dir}: index built with "
                f"{man.n_slices} scoring shards, current cfg resolves "
                f"{effective_slices(cfg, n_docs)}; pass the original cfg "
                f"or delete the index dir to rebuild")
        if man.merge_fanin and man.merge_fanin != cfg.merge_fanin:
            raise ValueError(
                f"resume plan mismatch at {index_dir}: index built with "
                f"merge_fanin={man.merge_fanin}, cfg has "
                f"{cfg.merge_fanin}; pass the original cfg or delete the "
                f"index dir to rebuild")
        # ADVICE r2: the plan is more than shard geometry — a resume under
        # a different analyzer / block size / bucket count would pack the
        # remaining segments under one config and serve the manifest's
        # original at query time (silent build/query drift). Refuse those
        # too.
        for what, old, new in [
                ("analyzer", man.analyzer or {}, _acfg_dict(cfg)),
                ("block_size", man.block_size, cfg.block_size),
                ("n_buckets", man.n_buckets, cfg.n_buckets),
                ("positions", man.positions, cfg.index_positions),
                ("doc_values", list(man.doc_values or []),
                 list(cfg.doc_values)),
                ("extra_fields", list(man.extra_fields or []),
                 list(cfg.extra_fields)),
                ("fuzzy_edits", int(man.fuzzy_edits or 0),
                 int(cfg.fuzzy_edits))]:
            if old != new:
                raise ValueError(
                    f"resume plan mismatch at {index_dir}: index built "
                    f"with {what}={old!r}, current cfg resolves {new!r}; "
                    f"pass the original cfg or delete the index dir to "
                    f"rebuild")
        local = (n_docs <= BUILD_LOCAL_MAX_ROWS
                 and _parquet_bytes(corpus_path) <= BUILD_LOCAL_MAX_BYTES)
    else:
        man = Manifest(n_buckets=cfg.n_buckets, n_slices=cfg.n_slices,
                       merge_fanin=cfg.merge_fanin,
                       block_size=cfg.block_size,
                       positions=cfg.index_positions,
                       doc_values=list(cfg.doc_values),
                       extra_fields=list(cfg.extra_fields),
                       fuzzy_edits=int(cfg.fuzzy_edits),
                       bm25={"k1": cfg.bm25.k1, "b": cfg.bm25.b,
                             "idf_variant": cfg.bm25.idf_variant},
                       analyzer=_acfg_dict(cfg))
        # The corpus-sized flat-postings IR is NEVER materialized, the
        # corpus is tokenized exactly ONCE (the pack pass), and — since
        # r3 — the full corpus is never PERSISTED either (VERDICT r2 #5:
        # the old MEMORY_AND_DISK cache was a corpus-sized executor-disk
        # footprint at 100 TB). The sorted corpus is written straight to
        # its final location tagged (part_id, local_idx); doc_id is a
        # narrow derivation on read (docids.read_with_doc_ids), offsets
        # live in the manifest. Shard geometry needs only n_docs (free
        # from the offsets aggregation); the docmap is a narrow
        # column-pruned projection of the written corpus; exact corpus
        # stats come AFTER pack from the lexicon (avgdl == sum(cf)/n_docs,
        # an identity).
        with timer.time("docids"):
            head = _driver_corpus(corpus)
            local = head is not None
            if local:
                held = write_sorted_corpus_arrow(head, corpus_path)
                offsets, n_docs = [0], held.num_rows
            else:
                write_sorted_corpus(corpus, corpus_path, n_parts=n_parts)
        if not local:
            with timer.time("base_counts"):
                offsets, n_docs = corpus_offsets(spark, corpus_path)
        avgdl = 0.0  # exact value derived from the lexicon below
        with timer.time("write_docmap"):
            if local:
                write_parquet_dir(docmap_path, {"": held.select(
                    ["doc_id", "conv_id", "turn_idx"])})
            else:
                read_with_doc_ids(spark, corpus_path, offsets) \
                    .select("doc_id", "conv_id", "turn_idx") \
                    .write.mode("overwrite").parquet(docmap_path)
        man.n_docs, man.avgdl = n_docs, avgdl
        man.corpus_offsets = offsets
        man.n_slices = effective_slices(cfg, n_docs)
        man.shard_width = pack_mod.shard_width(n_docs, man.n_slices)
        man.save(index_dir)

    def docs() -> DataFrame:
        """The stored corpus with doc_id, as Spark reads it."""
        return (read_with_doc_ids(spark, corpus_path, man.corpus_offsets)
                if man.corpus_offsets is not None
                else spark.read.parquet(corpus_path))  # doc_id stored

    # n_shards: the resolved scoring-shard count — data-scaled (bounded
    # accumulator width) and frozen in the manifest for resume replay
    n_shards = man.n_slices

    # resolve the merge-pass count (external-merge semantics): runs are
    # sized to memory via pack_docs_per_slice; passes = smallest p whose
    # fine grain n_shards * fanin^p keeps every run within the bound.
    # Stored in the manifest so resume replays the identical plan.
    if man.n_passes >= 0:
        passes = man.n_passes
    elif cfg.pack_docs_per_slice is None:
        passes = cfg.merge_passes
    else:
        need = max(n_shards, -(-n_docs // cfg.pack_docs_per_slice))
        passes = 0
        while n_shards * cfg.merge_fanin ** passes < need:
            passes += 1
        man.n_passes = passes
        man.save(index_dir)
    man.n_passes = passes
    fine_slices = n_shards * cfg.merge_fanin ** passes

    w_fine = pack_mod.shard_width(n_docs, fine_slices)
    man.shard_width = w_fine * cfg.merge_fanin ** passes

    # ---- docvalue store (optional; engine/docvalues.py) ----
    # written at the FINAL scoring-shard grain so every scorer task can
    # read its own shard's column slice directly. The input is doc-range
    # sorted, so the partitioned write is shuffle-free; resumable like
    # any other pass (_SUCCESS-gated, replayed plan refuses drift above).
    if cfg.doc_values:
        from .docvalues import dv_path, write_doc_values
        dvp = dv_path(index_dir)
        if not _success_marker(dvp):
            with timer.time("docvalues"):
                write_doc_values(docs(), index_dir, list(cfg.doc_values),
                                 man.shard_width, mode="overwrite")
        man.doc_values = list(cfg.doc_values)
        man.save(index_dir)

    # ---- pass 0: pack at fine-slice grain ----
    # seg: the last segment written, held as an Arrow table (with its
    # bucket column) on the driver route; None when it is only on disk
    seg = None
    seg0_id = "seg_p0"
    seg0_path = os.path.join(index_dir, "segments", seg0_id)
    if man.segment(seg0_id) is None:
        man.segments.append(Segment(seg0_id, 0, seg0_path))
        man.save(index_dir)
    s0 = man.segment(seg0_id)
    if not (s0.status == "complete" and _success_marker(seg0_path)):
        t0 = time.perf_counter()
        with timer.time("pack"):
            # map-side run generation: tokenize + pack PARTIAL runs per
            # Arrow batch BEFORE any shuffle (pack.tokenize_pack_partial)
            # — only VByte-packed runs cross the wire (~10x fewer bytes
            # than raw posting rows), then one fanin=1 merge pass orders
            # and concatenates the doc-range-disjoint runs per
            # (term, shard). Shuffle width scales with the data; avgdl is
            # exact on resume (manifest), a nominal 64 tokens/doc sizes
            # the estimate otherwise (max() floors make it benign).
            if local:
                if held is None:
                    held = docs().toArrow().sort_by("doc_id")
                runs = pa.Table.from_batches(
                    list(pack_mod.pack_partial_batches(
                        held.select(["doc_id", "text",
                                     *cfg.extra_fields]).to_batches(
                            max_chunksize=LOCAL_BATCH_ROWS),
                        w_fine, cfg)), schema=pack_mod.ARROW_PACKED)
                seg = pack_mod.write_segment_arrow(
                    merge_mod.merge_arrow(runs, 1, cfg), seg0_path, cfg)
            else:
                est_rows = int(n_docs * (avgdl or 64.0))
                parts = max(cfg.pack_partitions, fine_slices,
                            -(-est_rows // cfg.pack_rows_per_task))
                partial = pack_mod.tokenize_pack_partial(docs(), w_fine, cfg)
                packed = merge_mod.merge_pass(partial, fanin=1, cfg=cfg,
                                              n_parts=parts)
                pack_mod.write_segment(packed, seg0_path, cfg)
        rows = seg.num_rows if seg is not None else _parquet_rows(seg0_path)
        man.mark_complete(seg0_id, rows, time.perf_counter() - t0)
        man.save(index_dir)

    # ---- merge passes ----
    prev_path = seg0_path
    for p in range(1, passes + 1):
        seg_id = f"seg_p{p}"
        seg_path = os.path.join(index_dir, "segments", seg_id)
        if man.segment(seg_id) is None:
            man.segments.append(Segment(seg_id, p, seg_path, src_segments=[f"seg_p{p-1}"]))
            man.save(index_dir)
        s = man.segment(seg_id)
        if not (s.status == "complete" and _success_marker(seg_path)):
            t0 = time.perf_counter()
            with timer.time(f"merge_pass{p}"):
                if local:
                    src = seg if seg is not None else _segment_arrow(prev_path)
                    seg = pack_mod.write_segment_arrow(
                        merge_mod.merge_arrow(src, cfg.merge_fanin, cfg),
                        seg_path, cfg)
                else:
                    src = spark.read.parquet(prev_path)
                    shards_after = n_shards * cfg.merge_fanin ** (passes - p)
                    est_rows = int(n_docs * (avgdl or 64.0))
                    merged = merge_mod.merge_pass(
                        src, cfg.merge_fanin, cfg,
                        n_parts=max(cfg.pack_partitions, shards_after,
                                    -(-est_rows // cfg.pack_rows_per_task)))
                    pack_mod.write_segment(merged, seg_path, cfg)
            rows = seg.num_rows if local else _parquet_rows(seg_path)
            man.mark_complete(seg_id, rows, time.perf_counter() - t0)
            man.save(index_dir)
        else:
            seg = None  # the held segment is older than this one
        prev_path = seg_path
    man.final_segment = f"seg_p{passes}"

    # ---- lexicon from the final segment ----
    lex_path = os.path.join(index_dir, "lexicon")
    lex = None  # the lexicon as an Arrow table on the driver route
    if not _success_marker(lex_path):
        with timer.time("lexicon"):
            if local:
                lex = write_lexicon_arrow(
                    seg if seg is not None else _segment_arrow(prev_path),
                    lex_path, n_docs, cfg.bm25.idf_variant)
            else:
                write_lexicon(spark.read.parquet(prev_path), lex_path,
                              n_docs, cfg.bm25.idf_variant)

    # ---- fuzzy deletion-neighborhood (optional; engine/fuzzy.py) ----
    # derived from the lexicon just written, so it can never drift from
    # the vocabulary; vocab-scaled; resumable (_SUCCESS-gated)
    if cfg.fuzzy_edits:
        from .fuzzy import fuzzy_path, write_fuzzy_variants
        if not _success_marker(fuzzy_path(index_dir)):
            with timer.time("fuzzy"):
                write_fuzzy_variants(spark, index_dir, cfg.n_buckets,
                                     cfg.fuzzy_edits)
        man.fuzzy_edits = int(cfg.fuzzy_edits)
        man.save(index_dir)

    if not man.avgdl:
        # exact corpus stats WITHOUT a dedicated tokenize pass: the
        # lexicon's collection frequencies sum to the total token count,
        # so avgdl == sum(cf) / n_docs exactly (integer identity). With
        # extra_fields, one vocab-scaled aggregation splits cf by term
        # space (prefixed terms carry "<field>:", and ':' can never
        # appear in an analyzer token): avgdl stays the TEXT field's,
        # and each extra field gets its own frozen
        # avgdl_f = sum(cf_f) / n_docs (corpus-global denominator,
        # documented divergence from Lucene's docCount(field)).
        with timer.time("stats"):
            if local and lex is None:
                import pyarrow.parquet as pq
                lex = pq.read_table(lex_path, columns=["term", "cf"])
            if cfg.extra_fields:
                cfs = (lexicon_cf_by_field_arrow(lex) if local else
                       lexicon_cf_by_field(spark.read.parquet(lex_path)))
                total_cf = cfs.get("text", 0)
                man.field_sum_dl = {f_: cfs.get(f_, 0)
                                    for f_ in cfg.extra_fields}
                man.field_avgdl = {
                    f_: (cfs.get(f_, 0) / n_docs if n_docs else 0.0)
                    for f_ in cfg.extra_fields}
            elif local:
                total_cf = int(lex.column("cf").to_numpy().sum())
            else:
                total_cf = (spark.read.parquet(lex_path)
                            .agg(F.sum("cf")).first()[0] or 0)
            man.avgdl = float(total_cf) / n_docs if n_docs else 0.0
            # seed the exact token total so a later streaming
            # append_batch maintains avgdl from the true base, not 0
            man.sum_dl = int(total_cf)

    total_wall = time.perf_counter() - t_start
    man.metrics = {
        "stage_wall_s": timer.stages,
        "total_wall_s": total_wall,
        "turns_per_sec": n_docs / total_wall if total_wall > 0 else 0.0,
        "n_docs": n_docs,
    }
    man.completed = True
    man.save(index_dir)
    return load_index(spark, index_dir)


def _segment_arrow(path: str) -> pa.Table:
    """A segment written by either route, read back on the driver with
    its ``bucket`` partition column."""
    import pyarrow.dataset as pads
    return pads.dataset(path, format="parquet", partitioning="hive").to_table()


@dataclass
class PackedIndex:
    """Handle over an on-disk packed index."""
    spark: SparkSession
    index_dir: str
    n_docs: int
    avgdl: float
    shard_width: int
    n_buckets: int
    cfg: IndexConfig
    # manifest.completed at load time: False while streaming increments
    # are pending compaction — search() warns on a stale handle (VERDICT
    # r3 #7: increments are invisible until compact(), and a silent stale
    # read is worse than a warned one). refresh() reloads it.
    completed: bool = True
    # docvalue columns stored per scoring shard (engine/docvalues.py);
    # () when the index was built without a docvalue store
    doc_values: tuple = ()
    # delete state (engine/deletes.py): tombstoned-doc count, the delete
    # epoch keying worker-side tombstone caches, and the doc_id ceiling
    # (0 == n_docs; diverges only after a purge shrinks n_docs)
    n_deleted: int = 0
    del_epoch: int = 0
    n_ids: int = 0
    # depth of the fuzzy deletion-neighborhood table (engine/fuzzy.py);
    # 0 when the index was built without one
    fuzzy_edits: int = 0
    # additional indexed fields + frozen per-field avgdl (multi-field
    # search — engine/query.py search_multi_match); () / {} when the
    # index was built single-field
    extra_fields: tuple = ()
    field_avgdl: dict = None

    @property
    def postings_path(self) -> str:
        import os
        from .manifest import Manifest
        man = Manifest.load(self.index_dir)
        return os.path.join(self.index_dir, "segments", man.final_segment)

    # DataFrame handles are cached so repeated queries reuse the resolved
    # file listing + schema (cuts per-query planning latency); filters are
    # still pushed down per query.
    def postings(self) -> DataFrame:
        if getattr(self, "_post_df", None) is None:
            self._post_df = self.spark.read.parquet(self.postings_path)
        return self._post_df

    def _corpus_layout(self):
        """(corpus_offsets, mixed) — cached per handle (one manifest read,
        not one per corpus() call); refresh() reloads. ``mixed`` is true
        once any streaming increment was appended: appended corpus files
        store doc_id directly while the batch-built files derive it from
        (part_id, local_idx), so the read must coalesce both layouts."""
        if not hasattr(self, "_corpus_offsets"):
            from .manifest import Manifest
            man = Manifest.load(self.index_dir)
            self._corpus_offsets = man.corpus_offsets if man else None
            self._corpus_mixed = bool(man) and any(
                s.segment_id.startswith("inc_") for s in man.segments)
        return self._corpus_offsets, self._corpus_mixed

    def corpus_raw(self, merge_schema: bool = False) -> DataFrame:
        """Resolved handle (file listing + schema) over the stored corpus
        files AS WRITTEN (part_id/local_idx, no derived doc_id), memoized
        like postings()/lexicon(): per-query corpus reads (doc_filter,
        materialization) pay the directory listing once per handle
        instead of once per query. refresh() drops it (appends add
        files)."""
        key = "_corpus_df_m" if merge_schema else "_corpus_df"
        if getattr(self, key, None) is None:
            reader = (self.spark.read.option("mergeSchema", "true")
                      if merge_schema else self.spark.read)
            setattr(self, key, reader.parquet(f"{self.index_dir}/corpus"))
        return getattr(self, key)

    def corpus(self) -> DataFrame:
        """Stored corpus WITH doc_id. Batch builds store (part_id,
        local_idx) and derive doc_id from the manifest's offsets (the
        corpus is written once, never persisted — docids.py); streaming
        corpora store doc_id directly (append-time ids are final); a
        batch-built index that later received appends reads both layouts
        (schema-merged, doc_id coalesced)."""
        offsets, mixed = self._corpus_layout()
        if offsets is not None:
            return read_with_doc_ids(self.spark, f"{self.index_dir}/corpus",
                                     offsets, mixed=mixed,
                                     base=self.corpus_raw(mixed))
        return self.corpus_raw()

    def docmap(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.index_dir}/docmap")

    def lexicon(self) -> DataFrame:
        if getattr(self, "_lex_df", None) is None:
            self._lex_df = self.spark.read.parquet(f"{self.index_dir}/lexicon")
        return self._lex_df

    # In-process pyarrow views of the same files, for driver-side reads
    # that must not pay a Spark job (lookup_terms, and the local query
    # route in engine/query.py). Cached like postings()/lexicon(): file
    # discovery and parquet footers are read once per handle; refresh()
    # drops them, since compact() rewrites both.
    def postings_dataset(self):
        if getattr(self, "_post_ds", None) is None:
            import pyarrow.dataset as pads
            self._post_ds = pads.dataset(self.postings_path,
                                         format="parquet",
                                         partitioning="hive")
        return self._post_ds

    def lexicon_dataset(self):
        if getattr(self, "_lex_ds", None) is None:
            import pyarrow.dataset as pads
            self._lex_ds = pads.dataset(f"{self.index_dir}/lexicon",
                                        format="parquet")
        return self._lex_ds

    def lookup_terms(self, terms: list[str]) -> dict[str, dict]:
        """term -> {df, idf, bucket, max_tf} for query terms only, read
        in-process from the term-sorted lexicon files (an OR of term
        equalities prunes row groups on their min/max stats; no Spark
        job). Results are memoized driver-side — query vocab is tiny vs
        the lexicon, so repeated terms skip the read entirely (absent
        terms memoized too)."""
        if not terms:
            return {}
        cache = getattr(self, "_term_cache", None)
        if cache is None:
            cache = self._term_cache = {}
        missing = sorted({t for t in terms if t not in cache})
        if missing:
            rows = self.lexicon_dataset().to_table(
                columns=["term", "df", "idf", "bucket", "max_tf"],
                filter=any_equal("term", missing)).to_pylist()
            for r in rows:
                cache[r["term"]] = {"df": r["df"], "idf": r["idf"],
                                    "bucket": r["bucket"], "max_tf": r["max_tf"]}
            for t in missing:
                cache.setdefault(t, None)  # absent from corpus
        return {t: cache[t] for t in terms if cache.get(t) is not None}

    def expand_prefix(self, prefix: str,
                      max_expansions: int = 64) -> list[dict]:
        """Wildcard expansion ``prefix*`` -> lexicon rows of the matching
        terms, capped at ``max_expansions`` — highest df first, term
        ascending on ties (a deterministic cap rule, so the engine and
        the SQL oracle twin agree on WHICH terms survive when it binds).
        Returns [{"term", "df", "idf", "bucket", "max_tf"}, ...] in the
        cap order.

        Plan: ONE lexicon scan with the StartsWith predicate pushed into
        the parquet reader (the lexicon is written term-sorted, so
        row-group min/max stats confine the scan to the prefix's vocab
        slice) + TakeOrderedAndProject for the cap — a metadata-sized
        collect (<= max_expansions rows). Memoized per (prefix, cap)
        like lookup_terms; refresh() drops it. Matched rows also seed
        the term memo, so the downstream scoring query launches zero
        lexicon jobs of its own."""
        if max_expansions < 1:
            raise ValueError("max_expansions must be >= 1")
        cache = getattr(self, "_prefix_cache", None)
        if cache is None:
            cache = self._prefix_cache = {}
        key = (prefix, int(max_expansions))
        if key not in cache:
            # text-space only: field-prefixed terms ("role:user") carry
            # ':' (never in an analyzer token) and must not leak into a
            # text wildcard like "rol*"
            rows = (self.lexicon()
                    .filter(F.col("term").startswith(prefix)
                            & ~F.col("term").contains(":"))
                    .orderBy(F.desc("df"), F.asc("term"))
                    .limit(int(max_expansions))
                    .collect())
            tc = getattr(self, "_term_cache", None)
            if tc is None:
                tc = self._term_cache = {}
            out = []
            for r in rows:
                d = {"df": r["df"], "idf": r["idf"],
                     "bucket": r["bucket"], "max_tf": r["max_tf"]}
                tc[r["term"]] = d
                out.append({"term": r["term"], **d})
            cache[key] = out
        return cache[key]

    def expand_regexp(self, pattern: str,
                      max_expansions: int = 64) -> list[dict]:
        """Regexp-query expansion (the Lucene/ES ``regexp`` query):
        lexicon rows of the vocabulary terms FULLY matching ``pattern``,
        capped at ``max_expansions`` under the same deterministic rule
        as ``expand_prefix`` (df DESC, term ASC).

        Full-match (anchored) semantics, like Lucene regexp queries:
        the predicate is ``term RLIKE '^(?:pattern)$'`` — keep patterns
        to the Java/RE2 common subset (literals, classes, ``|``, ``*``
        ``+`` ``?`` ``{m,n}``; no backrefs/lookaround) so the DuckDB
        oracle twin (``regexp_full_match``) stays dialect-identical.

        Plan: an arbitrary regex has no parquet statistic, but its
        LITERAL PREFIX (the chars before the first metacharacter) does
        — the scan pushes ``StartsWith(prefix)`` into the term-sorted
        lexicon (row-group min/max pruning, same as expand_prefix) and
        evaluates the regex only on the surviving slice. A pattern with
        no literal prefix scans the whole lexicon (one columnar
        two-column read — the documented ES regexp-query caveat).
        Memoized per (pattern, cap); refresh() drops it."""
        import re as _re
        if max_expansions < 1:
            raise ValueError("max_expansions must be >= 1")
        _re.compile(pattern)  # fail fast on invalid syntax
        cache = getattr(self, "_prefix_cache", None)
        if cache is None:
            cache = self._prefix_cache = {}
        key = ("re", pattern, int(max_expansions))
        if key not in cache:
            lit = ""
            for ch in pattern:
                if ch in r".^$*+?()[]{}\|":
                    break
                lit += ch
            # a trailing literal char quantified by the NEXT metachar
            # (e.g. 'ab*') must not be required: keep lit[:-1] then
            if lit and len(lit) < len(pattern) \
                    and pattern[len(lit)] in "*?{":
                lit = lit[:-1]
            # text-space only (same rule as expand_prefix): a '.*' in
            # the pattern must not match field-prefixed terms
            scan = self.lexicon().filter(~F.col("term").contains(":"))
            if lit:
                scan = scan.filter(F.col("term").startswith(lit))
            rows = (scan
                    .filter(F.col("term").rlike(f"^(?:{pattern})$"))
                    .orderBy(F.desc("df"), F.asc("term"))
                    .limit(int(max_expansions))
                    .collect())
            tc = getattr(self, "_term_cache", None)
            if tc is None:
                tc = self._term_cache = {}
            out = []
            for r in rows:
                d = {"df": r["df"], "idf": r["idf"],
                     "bucket": r["bucket"], "max_tf": r["max_tf"]}
                tc[r["term"]] = d
                out.append({"term": r["term"], **d})
            cache[key] = out
        return cache[key]

    def refresh(self) -> None:
        """Revalidate a handle held across ``streaming.append_batch()`` /
        ``compact()``: drop memoized lexicon rows + DataFrame handles AND
        reload the manifest-backed scalars (n_docs, avgdl, corpus layout)
        — BM25 scores use ``index.avgdl``/``n_docs`` directly, so clearing
        only the caches would mix fresh idf with stale avgdl (silently
        wrong scores). ``compact()`` returns a brand-new handle — that
        stays the recommended pattern — but a long-lived handle can now
        be revalidated explicitly (ADVICE r2 + r3 review).

        Raises if the manifest cannot be loaded (ADVICE r3: a partial
        refresh — caches cleared, scalars stale — would mix fresh lexicon
        reads with stale n_docs/avgdl, the exact drift this method
        exists to prevent)."""
        from .manifest import Manifest
        man = Manifest.load(self.index_dir)
        if man is None:
            raise FileNotFoundError(
                f"refresh(): no readable manifest at {self.index_dir} — "
                f"refusing a partial refresh (stale scalars + cleared "
                f"caches would silently mis-score)")
        self.n_docs = man.n_docs
        self.avgdl = man.avgdl
        self.shard_width = man.shard_width
        self.completed = bool(man.completed)
        self.doc_values = tuple(man.doc_values or ())
        self.n_deleted = int(man.n_deleted or 0)
        self.del_epoch = int(man.del_epoch or 0)
        self.n_ids = int(man.n_ids or 0)
        self._corpus_offsets = man.corpus_offsets
        self._corpus_mixed = any(
            s.segment_id.startswith("inc_") for s in man.segments)
        self.fuzzy_edits = int(man.fuzzy_edits or 0)
        self.extra_fields = tuple(man.extra_fields or ())
        self.field_avgdl = dict(man.field_avgdl or {})
        self._term_cache = {}
        self._prefix_cache = {}  # expansions change when vocab grows
        self._fuzzy_cache = {}  # fuzzy expansions change when vocab grows
        self._plan_cache = {}  # prepared plans embed idf/avgdl closures
        self._post_df = None
        self._lex_df = None
        self._post_ds = None
        self._lex_ds = None
        self._corpus_df = None
        self._corpus_df_m = None


def load_index(spark: SparkSession, index_dir: str) -> PackedIndex:
    from .manifest import Manifest
    man = Manifest.load(index_dir)
    assert man is not None, f"no manifest at {index_dir}"
    bm = man.bm25 or {}
    az = man.analyzer or {}
    from .config import AnalyzerConfig, BM25Config
    acfg = (AnalyzerConfig(stopwords=tuple(az.get("stopwords", ())),
                           stem=az.get("stem"))
            if az else DEFAULT.analyzer)
    cfg = IndexConfig(block_size=man.block_size or DEFAULT.block_size,
                      n_buckets=man.n_buckets or DEFAULT.n_buckets,
                      n_slices=man.n_slices or DEFAULT.n_slices,
                      index_positions=bool(man.positions),
                      doc_values=tuple(man.doc_values or ()),
                      extra_fields=tuple(man.extra_fields or ()),
                      fuzzy_edits=int(man.fuzzy_edits or 0),
                      bm25=BM25Config(**bm) if bm else DEFAULT.bm25,
                      analyzer=acfg)
    return PackedIndex(spark=spark, index_dir=index_dir, n_docs=man.n_docs,
                       avgdl=man.avgdl, shard_width=man.shard_width,
                       n_buckets=cfg.n_buckets, cfg=cfg,
                       completed=bool(man.completed),
                       doc_values=tuple(man.doc_values or ()),
                       n_deleted=int(man.n_deleted or 0),
                       del_epoch=int(man.del_epoch or 0),
                       n_ids=int(man.n_ids or 0),
                       fuzzy_edits=int(man.fuzzy_edits or 0),
                       extra_fields=tuple(man.extra_fields or ()),
                       field_avgdl=dict(man.field_avgdl or {}))


def index_stats(index) -> "DataFrame":
    """Index statistics (the ES ``_stats`` / ``_count`` endpoint family):
    one row ``(n_docs, n_terms, n_postings, n_tokens, n_deleted)``.

    ``n_docs``/``n_deleted`` come from the manifest (driver-side);
    ``n_terms`` (vocabulary size), ``n_postings`` (sum of df — posting
    count) and ``n_tokens`` (sum of cf — total indexed token count) come
    from ONE aggregation over the lexicon's (df, cf) columns — a
    vocab-scaled two-column scan, never a corpus or postings read. The
    identities n_postings = Σdf and n_tokens = Σcf hold by construction
    of the lexicon build (D6) and are what the DuckDB oracle twin
    recomputes first-principles from the raw text.
    """
    lex = index.lexicon()
    return (lex.agg(
        F.count("term").cast("long").alias("n_terms"),
        F.sum("df").cast("long").alias("n_postings"),
        F.sum("cf").cast("long").alias("n_tokens"))
        .select(F.lit(int(index.n_docs)).cast("long").alias("n_docs"),
                "n_terms", "n_postings", "n_tokens",
                F.lit(int(getattr(index, "n_deleted", 0) or 0))
                .cast("long").alias("n_deleted")))


def reindex(index: PackedIndex, out_dir: str,
            cfg: IndexConfig = DEFAULT) -> PackedIndex:
    """Rebuild the index under a NEW IndexConfig from its own STORED
    corpus — the ES ``_reindex`` / mapping-change operation: change
    analyzer hooks, turn positions or a docvalue store on/off, resize
    shard geometry — WITHOUT the original source table (the stored
    corpus is the engine's source of truth; the text is re-tokenized,
    nothing else is reinterpreted).

    Frozen contract: the new index is a fresh ``build_index`` over the
    stored corpus rows under the canonical stable (conv_id, turn_idx)
    order — for a batch-built corpus the doc_ids therefore come out
    IDENTICAL (the original build sorted the same way); a
    streaming-appended corpus is RENUMBERED into the canonical order
    (append-time ids are arrival-ordered; the (conv_id, turn_idx) key
    is the durable identity, same as purge's "doc_ids never renumber"
    is per-index). Tombstones must be purged first — reindexing a
    tombstoned corpus would silently resurrect deleted docs, so it is
    refused loudly.

    Plan: one column-pruned read of the stored corpus (internal id
    columns dropped) feeding the unchanged build pipeline — the same
    one-pass write-once-corpus build as any fresh index; the old index
    stays live until the caller swaps directories."""
    if int(getattr(index, "n_deleted", 0) or 0) > 0:
        raise ValueError(
            "index has tombstoned docs — run purge_deletes first "
            "(reindex would resurrect them)")
    src = index.corpus()
    drop = {"doc_id", "part_id", "local_idx"}
    cols = [c for c in src.columns if c not in drop]
    return build_index(index.spark, src.select(*cols), out_dir, cfg=cfg)


def snapshot(index: PackedIndex, dest_dir: str) -> PackedIndex:
    """Point-in-time copy of the whole index — the ES snapshot/restore
    lifecycle op. Copies every durable component (segments, corpus,
    lexicon, manifest, docvalue store, fuzzy neighborhood, tombstone
    epochs) and returns the restored handle, verified: the manifest
    loads, and n_docs/avgdl/vocabulary size match the source.

    The copy is driver-side (``shutil.copytree``) because this sandbox
    is a single filesystem; on a cluster the same layout copies with a
    distcp/object-store copy — the on-disk format is rename-safe (all
    lookups go through the manifest, no absolute paths stored).
    Refused while a streaming append is pending compaction: a snapshot
    must be a CONSISTENT queryable state, and increments are invisible
    until ``compact()`` (the documented read contract)."""
    import shutil

    from .manifest import Manifest
    man = Manifest.load(index.index_dir)
    if man is None:
        raise ValueError(f"no manifest at {index.index_dir}")
    if getattr(man, "completed", True) is False:
        raise ValueError("index has appends pending compaction — run "
                         "compact() first (a snapshot must be a "
                         "consistent queryable state)")
    import os
    if os.path.exists(dest_dir):
        raise ValueError(f"snapshot destination exists: {dest_dir}")
    shutil.copytree(index.index_dir, dest_dir)
    out = load_index(index.spark, dest_dir)
    if (int(out.n_docs) != int(index.n_docs)
            or out.avgdl != index.avgdl):
        raise RuntimeError("snapshot verification failed: restored "
                           "stats do not match the source")
    return out
