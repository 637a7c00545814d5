"""The build's executor gate (build.build_index, build._driver_corpus):
a corpus of at most BUILD_LOCAL_MAX_ROWS rows and BUILD_LOCAL_MAX_BYTES
bytes is built on the driver with pyarrow, a larger one by Spark jobs.
Both routes must write the same index — segment rows to the last
payload byte, lexicon rows with bit-identical idf, the same manifest
stats, corpus and docmap rows and Spark-read schemas — and the driver
route must run no Spark job beyond its one read of the input. A corpus
too wide for the driver must reach the Spark route without the build
failing, and, when its size estimate says so, without being read.
"""

import functools

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import build as B
from engine.config import IndexConfig
from engine.manifest import Manifest

CFGS = {
    "default": (IndexConfig(), None),
    "positions": (IndexConfig(index_positions=True), None),
    "extra_fields": (IndexConfig(extra_fields=("role",)), None),
    "two_pass": (IndexConfig(pack_docs_per_slice=None, merge_passes=2), None),
    # 12 buckets: term_bucket's signed pmod differs from an unsigned mod
    "n_buckets_12": (IndexConfig(n_buckets=12), None),
    "doc_values": (IndexConfig(doc_values=("role", "turn_idx")), None),
    "fuzzy": (IndexConfig(fuzzy_edits=1), None),
    # n_parts shapes only the Spark route's sorted corpus write
    "n_parts": (IndexConfig(), 5),
}

STATS = ("n_docs", "avgdl", "sum_dl", "n_slices", "shard_width",
         "n_passes", "field_avgdl")


@pytest.fixture(scope="module")
def small_corpus(spark):
    from engine.fixtures import spark_transcripts
    return spark_transcripts(spark, n_convs=80, n_parts=3).cache()


@pytest.fixture(scope="module")
def wide_corpus(spark, tmp_path_factory):
    """~65 rows of ~5 KB (every 40 consecutive fixture turns joined into
    one row) in parquet: Arrow bytes well above the file's size, which
    is what Catalyst estimates."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from engine.fixtures import make_transcripts
    pdf = make_transcripts(400)
    wide = (pdf.groupby(np.arange(len(pdf)) // 40, sort=True)
            .agg(conv_id=("conv_id", "first"),
                 turn_idx=("turn_idx", "first"), role=("role", "first"),
                 text=("text", " ".join), tool=("tool", "first")))
    path = str(tmp_path_factory.mktemp("wide") / "in.parquet")
    pq.write_table(pa.Table.from_pandas(wide, preserve_index=False), path)
    return spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, "
        "tool string").parquet(path)


def _rows(spark, path, key):
    df = spark.read.parquet(path)
    return df.schema, sorted((tuple(r) for r in df.collect()),
                             key=lambda r: (tuple(r[i] for i in key), repr(r)))


def _bits(rows, col):
    """Rows with the double at ``col`` replaced by its bit pattern."""
    return [r[:col] + (np.float64(r[col]).view(np.uint64).item(),)
            + r[col + 1:] for r in rows]


def _route(index_dir):
    """"spark" when the build ran its Spark corpus count, else "driver"."""
    stages = Manifest.load(index_dir).metrics["stage_wall_s"]
    return "spark" if "base_counts" in stages else "driver"


def _assert_same_index(spark, dir_a, dir_b):
    """Two indexes hold the same rows: manifest stats, every segment's
    rows to the last payload byte (and the bucket= dir each sits in),
    lexicon rows with idf compared as bits, docmap rows, ``corpus()``
    rows by doc_id, every Spark-read schema, and the docvalue and fuzzy
    stores when present."""
    import os
    from engine.build import load_index
    ma, mb = Manifest.load(dir_a), Manifest.load(dir_b)
    for k in STATS:
        assert getattr(ma, k) == getattr(mb, k), k
    assert [s.segment_id for s in ma.segments] == \
        [s.segment_id for s in mb.segments]
    for s in ma.segments:
        if not os.path.exists(s.path):
            continue
        a = _rows(spark, s.path, (0, 1))
        b = _rows(spark, mb.segment(s.segment_id).path, (0, 1))
        assert a == b, s.segment_id
        assert a[1]
    lex_a = _rows(spark, f"{dir_a}/lexicon", (0,))
    lex_b = _rows(spark, f"{dir_b}/lexicon", (0,))
    assert lex_a[0] == lex_b[0]
    assert _bits(lex_a[1], 5) == _bits(lex_b[1], 5)
    assert _rows(spark, f"{dir_a}/docmap", (0,)) == \
        _rows(spark, f"{dir_b}/docmap", (0,))
    for store, key in (("docvalues", (-1, 0)), ("fuzzy", (0, 1))):
        assert os.path.exists(f"{dir_a}/{store}") == \
            os.path.exists(f"{dir_b}/{store}")
        if os.path.exists(f"{dir_a}/{store}"):
            assert _rows(spark, f"{dir_a}/{store}", key) == \
                _rows(spark, f"{dir_b}/{store}", key), store
    ca = load_index(spark, dir_a).corpus()
    cb = load_index(spark, dir_b).corpus()
    assert ca.schema == cb.schema
    assert sorted(map(tuple, ca.collect()), key=lambda r: r[-1]) == \
        sorted(map(tuple, cb.collect()), key=lambda r: r[-1])
    # merged, and as a set: after an append the corpus holds files of
    # both layouts, and a read takes its schema (or, merged, its column
    # order) from whichever file it lists first
    merged = spark.read.option("mergeSchema", "true")
    assert sorted(merged.parquet(f"{dir_a}/corpus").schema,
                  key=lambda f: f.name) == \
        sorted(merged.parquet(f"{dir_b}/corpus").schema,
               key=lambda f: f.name)


@pytest.mark.parametrize("name", list(CFGS))
def test_routes_write_identical_indexes(spark, small_corpus, tmp_path,
                                        monkeypatch, name):
    cfg, n_parts = CFGS[name]
    assert small_corpus.count() <= B.BUILD_LOCAL_MAX_ROWS
    local = B.build_index(spark, small_corpus, str(tmp_path / "local"), cfg,
                          n_parts=n_parts)
    monkeypatch.setattr(B, "BUILD_LOCAL_MAX_ROWS", 0)
    dist = B.build_index(spark, small_corpus, str(tmp_path / "dist"), cfg,
                         n_parts=n_parts)
    assert _route(local.index_dir) == "driver"
    assert _route(dist.index_dir) == "spark"
    _assert_same_index(spark, local.index_dir, dist.index_dir)


def test_edits_on_a_spark_built_base_match_a_driver_built_base(
        spark, tmp_path, monkeypatch):
    """append_batch, compact, delete and purge stay distributed; on a
    base from either build route they write the same index."""
    from engine.deletes import delete_ids, purge_deletes
    from engine.fixtures import make_transcripts, spark_transcripts
    from engine.streaming import append_batch, compact
    cfg = IndexConfig(doc_values=("role",), extra_fields=("role",))
    pdf = make_transcripts(60)
    schema = spark_transcripts(spark, 2).schema
    h = len(pdf) * 2 // 3
    base = spark.createDataFrame(pdf.iloc[:h], schema)
    inc = spark.createDataFrame(pdf.iloc[h:], schema)
    dirs = {}
    for route, bound in (("driver", B.BUILD_LOCAL_MAX_ROWS), ("spark", 0)):
        monkeypatch.setattr(B, "BUILD_LOCAL_MAX_ROWS", bound)
        d = dirs[route] = str(tmp_path / route)
        B.build_index(spark, base, d, cfg)
        assert _route(d) == route
        append_batch(spark, inc, d, cfg)
        idx = compact(spark, d, cfg)
        assert delete_ids(idx, [0, 7, h + 3]) == 3
        purge_deletes(idx, cfg)
    _assert_same_index(spark, dirs["driver"], dirs["spark"])


def test_corpus_estimated_above_the_byte_bound_is_never_read(
        spark, wide_corpus, tmp_path, monkeypatch):
    """A corpus Catalyst sizes above BUILD_LOCAL_MAX_BYTES goes to Spark
    before any row moves: nothing collects it to the driver."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
    monkeypatch.setattr(B, "BUILD_LOCAL_MAX_BYTES",
                        B._plan_bytes(wide_corpus) - 1)

    def refuse(*a, **kw):
        raise AssertionError("the corpus was collected to the driver")
    monkeypatch.setattr(ClassicDataFrame, "toArrow", refuse)
    d = str(tmp_path / "idx")
    idx = B.build_index(spark, wide_corpus, d)
    assert _route(d) == "spark"
    assert idx.n_docs == 65


def test_wide_rows_above_the_byte_bound_build_through_spark(
        spark, wide_corpus, tmp_path, monkeypatch):
    """The estimate (parquet's compressed size) lets the read run, but
    the rows hold more Arrow bytes than BUILD_LOCAL_MAX_BYTES: the Spark
    route builds them, and writes what the driver route would."""
    est = B._plan_bytes(wide_corpus)
    nbytes = wide_corpus.toArrow().nbytes
    assert est < nbytes
    local = str(tmp_path / "local")
    B.build_index(spark, wide_corpus, local)
    assert _route(local) == "driver"
    monkeypatch.setattr(B, "BUILD_LOCAL_MAX_BYTES", (est + nbytes) // 2)
    dist = str(tmp_path / "dist")
    B.build_index(spark, wide_corpus, dist)
    assert _route(dist) == "spark"
    _assert_same_index(spark, local, dist)


def test_read_refused_by_max_result_size_builds_through_spark(
        spark, wide_corpus, tmp_path):
    """When the limited read outgrows spark.driver.maxResultSize (rows
    wider than the estimate let on), Spark refuses it and the build
    goes through the Spark route instead of failing."""
    assert B._plan_bytes(wide_corpus) <= B.BUILD_LOCAL_MAX_BYTES
    assert wide_corpus.toArrow().nbytes > 4 * 65536
    # the live SparkConf: each new task set reads maxResultSize from it
    conf = spark.sparkContext._jsc.sc().conf()
    old = conf.get("spark.driver.maxResultSize", "1g")
    conf.set("spark.driver.maxResultSize", "64k")
    d = str(tmp_path / "idx")
    try:
        idx = B.build_index(spark, wide_corpus, d)
    finally:
        conf.set("spark.driver.maxResultSize", old)
    assert _route(d) == "spark"
    assert idx.n_docs == 65


def test_driver_idf_equals_idf_col_bit_for_bit(spark):
    """idf_np == idf_col on 10k random (df, N) pairs per variant: the
    driver port of StrictMath.log must reproduce Spark's log exactly."""
    import pandas as pd
    rng = np.random.default_rng(7)
    ns = np.unique(np.concatenate([
        [1, 2, 3, 10, 1000], rng.integers(1, 10**9, 35)]))
    pairs = [(int(n), int(d)) for n in ns
             for d in np.unique(np.concatenate([
                 [1, n, max(1, n // 2), max(1, n // 2 + 1)],
                 rng.integers(1, n + 1, 300)]))]
    assert len(pairs) >= 10_000
    pdf = pd.DataFrame(pairs, columns=["n", "df"])
    base = spark.createDataFrame(pdf)
    for variant in ("lucene", "okapi"):
        parts = [base.filter(F.col("n") == n).select(
            "n", "df", B.idf_col(F.col("df"), n, variant).alias("idf"))
            for n in ns.tolist()]
        got = functools.reduce(lambda a, b: a.unionAll(b), parts).toPandas()
        got = got.sort_values(["n", "df"]).reset_index(drop=True)
        want = np.concatenate([
            B.idf_np(got["df"][got["n"] == n].to_numpy(), n, variant)
            for n in ns.tolist()])
        assert len(got) == len(pairs)
        assert np.array_equal(got["idf"].to_numpy().view(np.uint64),
                              want.view(np.uint64)), variant


def test_small_build_runs_one_jvm_job_and_no_python(spark, tmp_path,
                                                    monkeypatch):
    """The driver route reads the input with one JVM-only job and writes
    everything else with pyarrow: no Python-UDF plan is even built."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import GroupedData
    from pyspark.sql.pandas.map_ops import PandasMapOpsMixin
    from engine.fixtures import make_transcripts
    pdf = make_transcripts(40)
    path = str(tmp_path / "in.parquet")
    pq.write_table(pa.Table.from_pandas(
        pdf.drop(columns=["ts"]), preserve_index=False), path)
    corpus = spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, "
        "tool string").parquet(path)

    def refuse(*a, **kw):
        raise AssertionError("a Python UDF plan was built")
    for name in ("mapInArrow", "mapInPandas"):
        monkeypatch.setattr(PandasMapOpsMixin, name, refuse)
    monkeypatch.setattr(GroupedData, "applyInPandas", refuse)
    sc = spark.sparkContext
    gid = "build-driver-route"
    sc.setJobGroup(gid, gid)
    try:
        idx = B.build_index(spark, corpus, str(tmp_path / "idx"))
        jobs = list(sc.statusTracker().getJobIdsForGroup(gid))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1
    assert idx.n_docs == len(pdf)


@pytest.mark.parametrize("bounds,route", [
    ({}, "driver"),
    ({"BUILD_LOCAL_MAX_ROWS": 0}, "spark"),
    # the resume reads the stored corpus's bytes from its parquet footers
    ({"BUILD_LOCAL_MAX_BYTES": 1}, "spark"),
], ids=["driver", "spark", "spark_by_stored_bytes"])
def test_resume_repacks_from_the_stored_corpus(spark, small_corpus, tmp_path,
                                               monkeypatch, bounds, route):
    """A build interrupted after its corpus and docmap were written
    resumes on the route its stored corpus selects and writes the same
    segment and lexicon."""
    import shutil
    d = str(tmp_path / "idx")
    idx = B.build_index(spark, small_corpus, d)
    seg = _rows(spark, idx.postings_path, (0, 1))
    lex = _rows(spark, f"{d}/lexicon", (0,))
    man = Manifest.load(d)
    for s in man.segments:
        shutil.rmtree(s.path)
        s.status = "pending"
    shutil.rmtree(f"{d}/lexicon")
    man.completed = False
    man.save(d)
    for k, v in bounds.items():
        monkeypatch.setattr(B, k, v)
    ran = []
    for name in ("write_lexicon", "write_lexicon_arrow"):
        def spy(*a, _f=getattr(B, name), _n=name, **kw):
            ran.append(_n)
            return _f(*a, **kw)
        monkeypatch.setattr(B, name, spy)
    again = B.build_index(spark, small_corpus, d)
    assert ran == (["write_lexicon"] if route == "spark"
                   else ["write_lexicon_arrow"])
    assert _rows(spark, again.postings_path, (0, 1)) == seg
    assert _rows(spark, f"{d}/lexicon", (0,)) == lex
