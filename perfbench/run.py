"""Repository benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Runs one workload (``interactive``, ``bigshard``, ``ingest``, or ``all``
to run each in turn) from the root of a checkout. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it is a JSON report with every number the run measured. The exit code
is non-zero when any op failed or returned a wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP_FRACTION = 0.25  # driver heap as a share of the box's MemTotal

END_TO_END = (
    ("setup_s", "s"),
    ("search_p50_s", "s"),
    ("batch_qps", "queries/s"),
    ("index_bytes_per_input_byte", "ratio"),
)
PER_LAYER = (
    ("session.start_s", "s"),
    ("build.total_s", "s"), ("build.docids_s", "s"),
    ("build.write_docmap_s", "s"), ("build.lexicon_s", "s"),
    ("build.stats_s", "s"), ("build.corpus_bytes", "bytes"),
    ("build.segment_bytes", "bytes"), ("build.lexicon_bytes", "bytes"),
    ("pack.wall_s", "s"),
    ("build.lookup_s", "s"), ("build.lookup_jobs", "count"),
    ("build.lookup_memo_hit_ratio", "ratio"),
    ("analyzer.query_s", "s"),
    ("query.plan_s", "s"), ("query.plan_cache_hit_ratio", "ratio"),
    ("query.collect_s", "s"), ("query.jobs", "count"),
    ("query.tasks", "count"), ("query.python_tasks", "count"),
    ("query.python_s", "s"), ("query.scan_bytes", "bytes"),
    ("query.scan_fraction", "ratio"), ("query.shuffle_bytes", "bytes"),
    ("query.shuffle_fetch_wait_s", "s"), ("query.overhead_s", "s"),
    ("query.kernel_s", "s"), ("query.kernel_share", "ratio"),
    ("wand.kernel_s", "s"), ("wand.route_ratio", "ratio"),
    ("query.batch_kernel_s", "s"), ("query.batch_kernel_share", "ratio"),
    ("codec.decode_s_p50", "s"), ("codec.decode_s_max", "s"),
    ("codec.payload_bytes_p50", "bytes"), ("codec.payload_bytes_max", "bytes"),
    ("streaming.append_s", "s"), ("streaming.compact_s", "s"),
    ("streaming.rewrite_bytes_per_appended_byte", "ratio"),
    ("inputs.repeat_share", "ratio"),
    ("trace.overhead_ratio", "ratio"), ("trace.search_p50_s", "s"),
)
STREAMING = ("streaming.append_s", "streaming.compact_s",
             "streaming.rewrite_bytes_per_appended_byte")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "bigshard", "ingest", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "toy"], default="full",
                    help="toy: tiny inputs for the smoke test")
    return ap.parse_args(argv)


def heap_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(int(line.split()[1]) * HEAP_FRACTION / 1024)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def start_spark(app: str, cores: int, work: str):
    from engine.session import get_spark
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb()}m"
    return get_spark(app, master=f"local[{cores}]", extra={
        "spark.driver.extraJavaOptions": "-XX:+ExitOnOutOfMemoryError",
        "spark.local.dir": f"{work}/spark-local",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM: it exits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    from perfbench import inputs as I
    from perfbench.trace import (SPAN_NAMES, RssSampler, Tracer, box_reading,
                                 median, pct)
    from perfbench.workloads import WORKLOADS, Runner, layer_metrics

    # local[$(env -u OMP_NUM_THREADS nproc)]: the CPUs this process may use
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts (Spark's launcher too) keeps its temp files
    # in the work dir and writes no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:+PerfDisableSharedMem")
    box = {"cores": cores, "heap_mb": heap_mb(), "start": box_reading()}
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, args.size)
    spark = r = None
    crashed = False
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_spark(f"perfbench-{args.workload}", cores, work)
            session_s = time.perf_counter() - t0
            r = Runner(spark, tracer, work)
            wl.setup(r)
            setup_s = time.perf_counter() - t0 - r.input_s
            t1 = time.perf_counter()
            wl.timed(r, args.seconds)
            timed_s = time.perf_counter() - t1
            wl.check(r)
            check_s = time.perf_counter() - t1 - timed_s
        except Exception:
            traceback.print_exc()
            crashed = True
        finally:
            t2 = time.perf_counter()
            if spark is not None:
                stop_spark(spark)
            stop_s = time.perf_counter() - t2
    shutil.rmtree(work, ignore_errors=True)
    box["end"] = box_reading()
    if crashed:
        return 1

    values = {
        "setup_s": setup_s,
        "search_p50_s": median(r.single_s),
        "batch_qps": sum(r.batch_n) / max(1e-9, sum(r.batch_s)),
        "build_turns_per_s": wl.n_turns / wl.build_s,
        "index_bytes_per_input_byte": wl.layer["index_bytes_per_input_byte"],
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "box": box, "input_s": r.input_s, "timed_s": timed_s,
        "check_s": check_s, "stop_s": stop_s,
        "single_queries": len(r.single_s), "batches": len(r.batch_s),
        "single_s": [round(x, 4) for x in r.single_s],
        "batch_s": [round(x, 4) for x in r.batch_s],
        "search_p95_s": pct(r.single_s, 0.95),
        "search_max_s": max(r.single_s, default=0.0),
        "repeat_p50_s": median(wl.repeat_s),
        "error_rate": r.failed / max(1, r.attempted),
        "checked": r.checked,
        "repeat_share": I.repeat_share(r.singles),
        **values,
    }
    if args.workload == "ingest":
        report.update({"append_turns_per_s": median(wl.append_tps),
                       "visible_s": median(wl.visible),
                       "visible_search_s": median(wl.visible_q),
                       "cycles": wl.cycles})
    if args.trace:
        layer = {n: 0.0 for n in STREAMING}
        layer.update(wl.layer)
        layer.update(layer_metrics(r, tracer))
        layer["session.start_s"] = session_s
        layer["inputs.repeat_share"] = report["repeat_share"]
        selfs = tracer.self_times()
        metrics = {n: {"value": float(layer[n]), "unit": u}
                   for n, u in PER_LAYER}
        metrics.update({f"self.{n}_s": {"value": selfs.get(n, 0.0),
                                        "unit": "s"} for n in SPAN_NAMES})
        report["spans"] = len(tracer.spans)
    else:
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in END_TO_END}
    ok = r.failed == 0
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": ok, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0 if ok else 1


def run_all(args) -> int:
    """Each workload in its own process, in turn."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in ("interactive", "bigshard", "ingest"):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--size", args.size],
            stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines() or ["{}"]
        print("\n".join(lines[:-1]), flush=True)
        try:
            last = json.loads(lines[-1])
        except ValueError:  # the run crashed before printing a result
            last = {}
        out["correct"] &= p.returncode == 0 and bool(last.get("correct"))
        out["attempted"] += int(last.get("attempted", 1))
        out["failed"] += int(last.get("failed", 1))
        out["metrics"].update({f"{w}.{k}": v
                               for k, v in last.get("metrics", {}).items()})
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from the "
              f"root of a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
