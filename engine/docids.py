"""Deterministic dense docID assignment (SURVEY.md B3).

``doc_id`` = global rank of ``(conv_id, turn_idx)`` in the stable corpus
order, dense 0..N-1, REPRODUCIBLE across cluster sizes and partition counts
— required for rank-identity across the N / 4N scaling runs.

Implementation: ``repartitionByRange`` on the sort keys (range partitions
are ordered by partition id) + ``sortWithinPartitions``, persist so the
sampled range boundaries are computed once, count rows per partition,
driver-side cumsum -> per-partition base offsets, then a ``mapInArrow``
pass adds ``base + local_index``. Avoids ``monotonically_increasing_id``
(not dense, partition-layout dependent) and a global ``row_number()``
window (single-partition bottleneck at scale).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def assign_doc_ids(df: DataFrame, keys: tuple[str, ...] = ("conv_id", "turn_idx"),
                   n_parts: int | None = None) -> DataFrame:
    """Returns the input with an extra ``doc_id:long`` column, rows
    range-partitioned and sorted by ``keys`` (partition i holds doc_ids
    [offset_i, offset_{i+1}) — a doc-range sliced layout downstream build
    stages rely on)."""
    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = (df.repartitionByRange(n_parts, *keys)
              .sortWithinPartitions(*keys)
              .persist(StorageLevel.MEMORY_AND_DISK))
    counts = part.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    offsets: dict[int, int] = {}
    base = 0
    for row in sorted(counts, key=lambda r: r["pid"]):
        offsets[row["pid"]] = base
        base += row["count"]
    bc = spark.sparkContext.broadcast(offsets)
    out_schema = T.StructType(df.schema.fields + [T.StructField("doc_id", T.LongType(), False)])

    def add_ids(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        pos = bc.value.get(pid, 0)
        for b in batches:
            n = b.num_rows
            ids = pa.array(np.arange(pos, pos + n, dtype=np.int64), type=pa.int64())
            pos += n
            yield b.append_column("doc_id", ids)

    out = part.mapInArrow(add_ids, out_schema)
    # expose the persisted base so callers can unpersist it once their own
    # materialization no longer depends on recomputing the sort
    out._graft_cached_base = part
    return out


# --------------------------------------------------------------------------
# Disk-backed variant for the packed build (VERDICT r2 #5): instead of
# persisting the full range-sorted corpus (a corpus-sized executor-disk
# footprint at 100 TB) to serve the count + id passes, the sorted corpus is
# written ONCE to its final parquet location tagged with (part_id,
# local_idx); doc_id = offsets[part_id] + local_idx is then a narrow
# derivation applied on every read. The write was already required by the
# build, so the only added cost is re-reading the (pruned) columns each
# consumer needs — sequential columnar scans instead of a corpus-sized
# cache.
# --------------------------------------------------------------------------

def write_sorted_corpus(df: DataFrame, path: str,
                        keys: tuple[str, ...] = ("conv_id", "turn_idx"),
                        n_parts: int | None = None) -> None:
    """Range-partition + sort ``df`` by ``keys`` and write it to ``path``
    with (part_id:int, local_idx:long) columns — ONE shuffle+sort+write
    job, nothing persisted. doc_id is NOT stored: it is derived on read
    (global rank = offsets[part_id] + local_idx), which keeps this single
    pass sufficient (storing doc_id directly would need the per-partition
    counts first, i.e. a second corpus-sized pass or a persist)."""
    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = (df.repartitionByRange(n_parts, *keys)
              .sortWithinPartitions(*keys))
    out_schema = T.StructType(df.schema.fields + [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("local_idx", T.LongType(), False)])

    def tag(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        pos = 0
        for b in batches:
            n = b.num_rows
            b = b.append_column("part_id", pa.array(
                np.full(n, pid, dtype=np.int32), type=pa.int32()))
            b = b.append_column("local_idx", pa.array(
                np.arange(pos, pos + n, dtype=np.int64), type=pa.int64()))
            pos += n
            yield b

    part.mapInArrow(tag, out_schema).write.mode("overwrite").parquet(path)


def write_sorted_corpus_arrow(tbl: pa.Table, path: str,
                              keys: tuple[str, ...] = ("conv_id",
                                                       "turn_idx")
                              ) -> pa.Table:
    """Driver twin of ``write_sorted_corpus`` for a corpus held in
    memory: sorted by ``keys`` in Spark's order (ascending, nulls first,
    strings by UTF-8 bytes; the sort is stable) and written as ONE part,
    so part_id is 0, local_idx is the global rank and the offsets are
    ``[0]``. Returns the sorted rows with their ``doc_id``."""
    import pyarrow.compute as pc

    from .manifest import write_parquet_dir
    tbl = tbl.take(pc.sort_indices(
        tbl, [(k, "ascending") for k in keys], null_placement="at_start"))
    n = tbl.num_rows
    ids = pa.array(np.arange(n, dtype=np.int64), pa.int64())
    write_parquet_dir(path, {"": tbl.append_column(
        pa.field("part_id", pa.int32(), nullable=False),
        pa.array(np.zeros(n, np.int32), pa.int32()))
        .append_column(pa.field("local_idx", pa.int64(), nullable=False),
                       ids)})
    return tbl.append_column("doc_id", ids)


def corpus_offsets(spark, path: str) -> tuple[list[int], int]:
    """Per-part_id base offsets + total row count for a written sorted
    corpus — ONE aggregation over a single int column (column-pruned
    scan; the dataset is never cached). Range partitions are ordered by
    part_id, so the cumulative sum over part_id order is the global-rank
    base — identical ids to ``assign_doc_ids``."""
    counts = {r["part_id"]: r["count"]
              for r in spark.read.parquet(path)
              .groupBy("part_id").count().collect()}
    offsets: list[int] = []
    base = 0
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(base)
        base += counts.get(pid, 0)  # empty range partitions write no rows
    return offsets, base


def read_with_doc_ids(spark, path: str, offsets: list[int],
                      mixed: bool = False, base: DataFrame = None
                      ) -> DataFrame:
    """Read a written sorted corpus with ``doc_id`` derived from the
    stored (part_id, local_idx) and the manifest's offsets — a broadcast
    join against the tiny offsets table plus one projection; column
    pruning and predicate pushdown pass straight through to the scan.

    ``mixed=True``: the directory also holds streaming-appended files
    that store ``doc_id`` directly (and have no part_id/local_idx) —
    read schema-merged, LEFT-join the offsets, and coalesce the stored
    doc_id with the derived one. Without this, an inner join on part_id
    would silently drop every appended doc from filtered search and
    materialization.

    ``base``: an already-resolved DataFrame over ``path`` (the caller's
    memoized file listing + schema — PackedIndex.corpus_raw) so repeated
    per-query reads skip re-listing the directory at plan time.

    The offsets side is one ARRAY LITERAL posexploded into (part_id,
    _base) — not ``createDataFrame(rows)``, which plans as Scan
    ExistingRDD and pays a Python-worker round trip on every broadcast
    build (~0.4 s per filtered query measured); the literal form
    broadcasts JVM-side and stays one compact plan node at any
    partition count."""
    off_df = (spark.range(1)
              .select(F.posexplode(F.lit([int(o) for o in offsets]))
                      .alias("part_id", "_base"))
              .select(F.col("part_id").cast("int").alias("part_id"),
                      F.col("_base").cast("long").alias("_base")))
    if mixed:
        src = (base if base is not None
               else spark.read.option("mergeSchema", "true").parquet(path))
        return (src
                .join(F.broadcast(off_df), "part_id", "left")
                .withColumn("doc_id", F.coalesce(
                    F.col("doc_id"), F.col("_base") + F.col("local_idx")))
                .drop("part_id", "local_idx", "_base"))
    src = base if base is not None else spark.read.parquet(path)
    return (src
            .join(F.broadcast(off_df), "part_id")
            .withColumn("doc_id", F.col("_base") + F.col("local_idx"))
            .drop("part_id", "local_idx", "_base"))
