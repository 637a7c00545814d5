"""Index manifest: segment lineage, per-pass checkpoints, build metrics
(SURVEY.md A5/D5/D9 — the "resumable from per-partition checkpoints with
lineage and build metrics" clause of the spec).

Design:
* one JSON manifest per index dir, written ATOMICALLY (tmp + rename) from
  the driver after each completed pass — a pass is the checkpoint unit;
* per-partition completion within a pass is delegated to Spark's output
  committer: a segment directory is only readable once its ``_SUCCESS``
  marker exists, so a killed job never leaves a half-segment visible;
* lineage: every segment records the pass that produced it and its source
  segments; metrics: per-stage wall seconds, row/posting counts, turns/sec.

Resume: ``passes_done()`` reports which passes are complete (manifest entry
+ on-disk ``_SUCCESS``); the builder skips them and continues.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Segment:
    segment_id: str
    pass_no: int
    path: str
    src_segments: list[str] = field(default_factory=list)
    rows: int = -1          # packed posting rows (term x shard groups)
    wall_s: float = -1.0
    status: str = "pending"  # pending | complete


@dataclass
class Manifest:
    version: int = 1
    n_docs: int = 0
    avgdl: float = 0.0
    sum_dl: int = 0          # exact avgdl maintenance under appends
    n_buckets: int = 0
    n_slices: int = 0        # EFFECTIVE scoring-shard count (resolved plan)
    merge_fanin: int = 0
    n_passes: int = -1       # resolved merge-pass count (adaptive or forced)
    shard_width: int = 0
    block_size: int = 0
    bm25: dict = field(default_factory=dict)
    analyzer: dict = field(default_factory=dict)  # stopwords/stem hooks
    segments: list[Segment] = field(default_factory=list)
    final_segment: str = ""
    metrics: dict = field(default_factory=dict)
    completed: bool = False
    # per-part_id doc_id base offsets of the written sorted corpus (batch
    # builds; None = corpus stores doc_id directly, e.g. streaming appends)
    corpus_offsets: list | None = None
    # index stores the positions stream (phrase queries)
    positions: bool = False
    # docvalue columns stored per scoring shard (engine/docvalues.py);
    # part of the resolved plan — resume/append must honor it
    doc_values: list = field(default_factory=list)
    # depth of the fuzzy deletion-neighborhood table (engine/fuzzy.py);
    # 0 = not built. Part of the resolved plan like positions/doc_values
    fuzzy_edits: int = 0
    # additional indexed fields (IndexConfig.extra_fields — field-
    # prefixed term spaces) + their frozen per-field avgdl
    # (sum(cf of "<field>:*") / n_docs); part of the resolved plan
    extra_fields: list = field(default_factory=list)
    field_avgdl: dict = field(default_factory=dict)
    # exact per-field token totals (the per-field sum_dl analog) so
    # streaming appends / purge maintain field_avgdl exactly
    field_sum_dl: dict = field(default_factory=dict)
    # ---- deletes (engine/deletes.py) ----
    # tombstoned docs currently pending physical purge (they no longer
    # match queries, but still count in N/avgdl — the frozen two-phase
    # Lucene contract)
    n_deleted: int = 0
    # monotone delete-state epoch: bumped on every tombstone write and on
    # purge, keys the worker-side tombstone caches so a new delete batch
    # never serves a stale set
    del_epoch: int = 0
    # doc_id ceiling (ids ever allocated). 0 == n_docs (no purge has
    # happened); after a purge n_docs shrinks to the live count while
    # n_ids keeps the allocation base, so streaming appends never reuse a
    # purged doc's id and shard geometry stays stable
    n_ids: int = 0

    # ---- persistence ----
    @staticmethod
    def path(index_dir: str) -> str:
        return os.path.join(index_dir, "manifest.json")

    def save(self, index_dir: str) -> None:
        os.makedirs(index_dir, exist_ok=True)
        tmp = self.path(index_dir) + ".tmp"
        d = asdict(self)
        with open(tmp, "w") as f:
            json.dump(d, f, indent=1)
        os.replace(tmp, self.path(index_dir))  # atomic checkpoint

    @classmethod
    def load(cls, index_dir: str) -> "Manifest | None":
        p = cls.path(index_dir)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            d = json.load(f)
        segs = [Segment(**s) for s in d.pop("segments", [])]
        m = cls(**{k: v for k, v in d.items() if k in cls.__dataclass_fields__ and k != "segments"})
        m.segments = segs
        return m

    # ---- lineage / resume helpers ----
    def segment(self, segment_id: str) -> Segment | None:
        for s in self.segments:
            if s.segment_id == segment_id:
                return s
        return None

    def complete_segments(self) -> list[Segment]:
        return [s for s in self.segments
                if s.status == "complete" and _success_marker(s.path)]

    def mark_complete(self, segment_id: str, rows: int, wall_s: float) -> None:
        s = self.segment(segment_id)
        assert s is not None, segment_id
        s.status, s.rows, s.wall_s = "complete", rows, wall_s


def _success_marker(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_parquet_dir(path: str, parts: dict) -> None:
    """Write Arrow tables as a Spark-style parquet directory from the
    driver: ``parts`` maps a sub-directory ("" for ``path`` itself, or a
    hive partition like "bucket=3") to its table, one file each. Like
    Spark's ``mode("overwrite")`` the old directory goes first, and like
    its output committer the ``_SUCCESS`` marker comes last, so a killed
    write is never taken for a complete one."""
    import shutil
    import uuid

    import pyarrow.parquet as pq
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    job = uuid.uuid4()
    for sub, tbl in parts.items():
        d = os.path.join(path, sub) if sub else path
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(
            d, f"part-00000-{job}.c000.snappy.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def lineage_df(spark, index_dir: str):
    """Segment lineage as a DataFrame (SURVEY.md §1 row 5 `_lineage`):
    (segment_id, pass, status, rows, src_segments, wall_s)."""
    man = Manifest.load(index_dir)
    assert man is not None, index_dir
    rows = [(s.segment_id, s.pass_no, s.status, s.rows,
             s.src_segments, s.wall_s) for s in man.segments]
    return spark.createDataFrame(
        rows, "segment_id string, pass int, status string, rows long, "
              "src_segments array<string>, wall_s double")


class StageTimer:
    """Driver-side per-stage wall clock, recorded into manifest metrics."""

    def __init__(self):
        self.stages: dict[str, float] = {}

    def time(self, name: str):
        timer = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.perf_counter()
                return self

            def __exit__(self, *exc):
                timer.stages[name] = timer.stages.get(name, 0.0) + (
                    time.perf_counter() - self.t0)

        return _Ctx()
