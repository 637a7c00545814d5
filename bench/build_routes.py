"""Sweep behind build_index's executor gate (engine.build.BUILD_LOCAL_MAX_ROWS
and BUILD_LOCAL_MAX_BYTES): build wall time and driver memory with each route
forced, over corpus size and row width, plus the cost of choosing the route
for corpora above the bounds.

Two corpus shapes, both from ``engine.fixtures.make_transcripts`` and read
from parquet (as a real input is):
* ``short``: one transcript turn per row (~210 Arrow bytes a row);
* ``wide``: every ``--wide-join`` consecutive turns joined into one row
  (~4 KB a row at the default 32), so the byte bound, not the row bound,
  is the one that binds.

Each size is built ``--reps`` times per route in one session that first
warms both routes on a small corpus. Per build: wall seconds, and the
peak RSS growth of the Python driver process and of the driver JVM
(sampled every 5 ms from /proc). Then, for each corpus, the wall time of
``engine.build._driver_corpus`` (the route choice the default bounds make,
including the limited read when the estimate lets it run).

Usage: python bench/build_routes.py OUT.json [--short 1000,10000,20000]
           [--wide 20000,40000,80000] [--reps 2] [--cpus 4]
(--short / --wide are fixture conversation counts; a conversation averages
6.5 turns.)
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _rss(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS"):
                return int(line.split()[1]) * 1024
    return 0


class _Peak:
    """Peak RSS growth of the given processes while the block runs."""

    def __init__(self, pids):
        self.pids = pids

    def __enter__(self):
        self.base = [_rss(p) for p in self.pids]
        self.peak = list(self.base)
        self._stop = False

        def run():
            while not self._stop:
                self.peak = [max(a, _rss(p))
                             for a, p in zip(self.peak, self.pids)]
                time.sleep(0.005)
        self._t = threading.Thread(target=run, daemon=True)
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop = True
        self._t.join()

    def growth_mb(self):
        return [round((p - b) / 2**20, 1)
                for p, b in zip(self.peak, self.base)]


def _corpus(spark, work: str, shape: str, n_convs: int, join: int):
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from engine.fixtures import make_transcripts
    path = os.path.join(work, f"in_{shape}_{n_convs}.parquet")
    if not os.path.exists(path):
        pdf = make_transcripts(n_convs)
        if shape == "wide":
            # every `join` consecutive turns become one row, keyed by
            # its first turn's (conv_id, turn_idx)
            pdf = (pdf.groupby(np.arange(len(pdf)) // join, sort=True)
                   .agg(conv_id=("conv_id", "first"),
                        turn_idx=("turn_idx", "first"),
                        role=("role", "first"), text=("text", " ".join),
                        tool=("tool", "first"), ts=("ts", "first"))
                   .reset_index(drop=True))
        pdf = pdf.assign(ts=pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC"))
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp").parquet(path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--short", default="1000,10000,20000,40000")
    ap.add_argument("--wide", default="20000,40000,80000")
    ap.add_argument("--wide-join", type=int, default=32)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args(argv)

    import pyspark

    from engine import build as B
    from engine.session import get_spark
    spark = get_spark("build-routes", master=f"local[{args.cpus}]")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    bounds = (B.BUILD_LOCAL_MAX_ROWS, B.BUILD_LOCAL_MAX_BYTES)
    work = tempfile.mkdtemp(prefix="build_routes_")
    routes = {"driver": (1 << 30, 1 << 40), "spark": (0, 0)}

    def force(route):
        B.BUILD_LOCAL_MAX_ROWS, B.BUILD_LOCAL_MAX_BYTES = routes[route]

    out = {"meta": {
        "host_cpus": os.cpu_count(), "master": f"local[{args.cpus}]",
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "bounds": {"BUILD_LOCAL_MAX_ROWS": bounds[0],
                   "BUILD_LOCAL_MAX_BYTES": bounds[1]},
        "wide_join": args.wide_join, "reps": args.reps},
        "builds": [], "route_choice": []}
    try:
        warm = _corpus(spark, work, "short", 200, args.wide_join)
        for route in routes:
            force(route)
            B.build_index(spark, warm, os.path.join(work, f"warm_{route}"))
        sizes = ([("short", int(n)) for n in args.short.split(",") if n]
                 + [("wide", int(n)) for n in args.wide.split(",") if n])
        for shape, n in sizes:
            df = _corpus(spark, work, shape, n, args.wide_join)
            force("driver")
            tbl = df.toArrow()
            rows, nbytes = tbl.num_rows, tbl.nbytes
            del tbl
            est = B._plan_bytes(df)
            for rep in range(args.reps):
                for route in routes:
                    force(route)
                    d = os.path.join(work, f"idx_{shape}_{n}_{route}")
                    with _Peak(["self", jvm_pid]) as pk:
                        t = time.perf_counter()
                        B.build_index(spark, df, d)
                        wall = time.perf_counter() - t
                    shutil.rmtree(d)
                    py_mb, jvm_mb = pk.growth_mb()
                    rec = {"shape": shape, "rows": rows,
                           "arrow_bytes": nbytes, "plan_bytes": est,
                           "route": route, "rep": rep,
                           "wall_s": round(wall, 3),
                           "py_rss_growth_mb": py_mb,
                           "jvm_rss_growth_mb": jvm_mb}
                    print(json.dumps(rec), flush=True)
                    out["builds"].append(rec)
            B.BUILD_LOCAL_MAX_ROWS, B.BUILD_LOCAL_MAX_BYTES = bounds
            ts = []
            for _ in range(3):
                t = time.perf_counter()
                head = B._driver_corpus(df)
                ts.append(round(time.perf_counter() - t, 3))
            rec = {"shape": shape, "rows": rows, "arrow_bytes": nbytes,
                   "plan_bytes": est, "driver_route": head is not None,
                   "choice_s": ts}
            del head
            print(json.dumps(rec), flush=True)
            out["route_choice"].append(rec)
    finally:
        B.BUILD_LOCAL_MAX_ROWS, B.BUILD_LOCAL_MAX_BYTES = bounds
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
