"""The aggregation scaffold's two routes (engine/matchops.py
``_aggregate``): a match set whose posting mass is at most
``query.LOCAL_MAX_POSTINGS`` runs its per-shard partials on the driver,
a larger one in one Spark job whose partial rows are collected; one
pandas combine makes the answer either way.

Contracts under test:
* every aggregation surface returns the same rows, with the same column
  names and types, on both routes (the distributed one forced by
  setting the constant to 0), and only the distributed route collects
  a partial frame;
* small aggregations — plan construction, lexicon lookup, docvalue
  reads and collect — run zero Spark jobs, with Arrow on and off;
* a ``doc_filter`` count keeps its cogrouped job whatever its size;
* an answer with more rows than ``LOCAL_MAX_ROWS`` still collects and
  shows.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from engine import matchops as M
from engine import query as Q
from engine.config import IndexConfig

T0 = 1767225600  # 2026-01-01T00:00:00Z, the fixture corpus's first ts


@pytest.fixture(autouse=True)
def _fresh_plans(monkeypatch):
    # a prepared answer would hand back the first route's rows
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")


@pytest.fixture(scope="module")
def aidx(spark, corpus_df, tmp_path_factory):
    """'opt' is the role, NULL on every turn_idx == 0 doc (real NULLs
    for the missing / string-stats / facet / rare-terms paths)."""
    from engine.build import build_index
    d = str(tmp_path_factory.mktemp("agg_routes") / "idx")
    df = corpus_df.withColumn(
        "opt", F.when(F.col("turn_idx") == 0, F.lit(None))
        .otherwise(F.col("role")))
    return build_index(spark, df, d,
                       cfg=IndexConfig(doc_values=("role", "ts", "opt")))


@pytest.fixture
def collected(monkeypatch):
    """The frames the distributed route collects (``toArrow``)."""
    frames = []
    real = ClassicDataFrame.toArrow

    def spy(self):
        frames.append(self)
        return real(self)
    monkeypatch.setattr(ClassicDataFrame, "toArrow", spy)
    return frames


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


STATS = ("n_docs:bigint, n_with_value:bigint, min_val:double, "
         "max_val:double, sum_val:double, avg_val:double")
HIST = "bucket_start:bigint, n_docs:bigint"
PIPE = HIST + ", cum_docs:bigint, delta_docs:bigint"
USERS = {"users": "role = 'user'", "none": "role = 'zz'",
         "early": "ts < TIMESTAMP '2026-01-01 12:00:00'"}

# (case id, call, the answer's columns). Each call's answer is non-empty.
CASES = [
    ("count", lambda i: M.match_count(i, "hot0 rare3"), "n_docs:bigint"),
    ("count_and_exclude_dv", lambda i: M.match_count(
        i, "hot0 hot1", mode="AND", exclude="rare3",
        dv_filter="role = 'user'"), "n_docs:bigint"),
    ("stats", lambda i: M.match_stats(i, "hot0 mid1", "ts"), STATS),
    ("cardinality_str", lambda i: M.match_cardinality(i, "hot0", "opt"),
     "n_values:bigint"),
    ("cardinality_ts", lambda i: M.match_cardinality(i, "hot0", "ts"),
     "n_values:bigint"),
    ("missing", lambda i: M.match_missing(i, "hot0 mid1", "opt"),
     "n_docs:bigint, n_missing:bigint"),
    ("string_stats", lambda i: M.match_string_stats(i, "hot0 mid1", "opt"),
     "n_docs:bigint, n_with_value:bigint, min_len:bigint, max_len:bigint, "
     "avg_len:double, entropy:double"),
    ("histogram", lambda i: M.match_histogram(i, "hot0 hot1", "ts", 3600,
                                              mode="AND"), HIST),
    ("histogram_pipeline", lambda i: M.match_histogram_pipeline(
        i, "rare0 rare1", "ts", 3600), PIPE),
    ("histogram_having", lambda i: M.match_histogram_having(
        i, "rare0 rare1", "ts", 3600, "n_docs >= 1 AND delta_docs >= 0"),
     PIPE),
    ("histogram_top", lambda i: M.match_histogram_top(
        i, "rare0 rare1", "ts", 3600, n=3, asc=True), HIST),
    ("ranges", lambda i: M.match_ranges(
        i, "hot0", "ts", [T0 + 6 * 3600, T0 + 12 * 3600]),
     "lo:bigint, hi:bigint, n_docs:bigint"),
    ("composite", lambda i: M.match_composite(
        i, "rare0 rare1 rare2", ["role", "ts"], size=4),
     "role:string, ts:bigint, n_docs:bigint"),
    ("composite_after", lambda i: M.match_composite(
        i, "hot0", ["opt"], size=2, after=["assistant"]),
     "opt:string, n_docs:bigint"),
    ("auto_histogram", lambda i: M.match_auto_histogram(
        i, "hot0 hot1", "ts", target_buckets=5),
     HIST + ", interval_s:bigint"),
    ("filters", lambda i: M.match_filters(i, "hot0 hot1", USERS),
     "bucket:string, n_docs:bigint"),
    ("adjacency", lambda i: M.match_adjacency(i, "hot0 hot1", USERS),
     "a:string, b:string, n_docs:bigint"),
    ("percentiles", lambda i: M.match_percentiles(
        i, "hot0 hot1", "ts", ps=(0.25, 0.5, 1.0)), "p:double, value:bigint"),
    ("mad_exact", lambda i: M.match_mad(i, "hot0 mid1", "ts",
                                        method="exact"),
     "n_values:bigint, median:bigint, mad:bigint"),
    ("mad_binned", lambda i: M.match_mad(i, "hot0 mid1", "ts",
                                         method="binned", n_bins=8),
     "n_values:bigint, median:bigint, mad:bigint"),
    ("facet_stats", lambda i: M.facet_stats(
        i, "hot0 mid1", "opt", "ts", order_by="avg"),
     "facet_value:string, " + STATS),
    ("rare_terms", lambda i: M.rare_terms(
        i, "hot0 mid1", "opt", max_doc_count=10 ** 9, n=50),
     "facet_value:string, n_docs:bigint"),
    ("search_groups_sum", lambda i: M.search_groups(
        i, "hot0 rare3", "opt", score_mode="sum", exclude="mid1"),
     "group_key:string, score:double, n_docs:bigint"),
    ("search_groups_avg", lambda i: M.search_groups(
        i, "hot0 hot1", "role", score_mode="avg", mode="AND"),
     "group_key:string, score:double, n_docs:bigint"),
    # a whole ranking of groups: k = 10**9 is cut in pandas, no Spark tail
    ("search_groups_whole", lambda i: M.search_groups(
        i, "hot0", "role", k=10 ** 9),
     "group_key:string, score:double, n_docs:bigint"),
    ("match_all", lambda i: M.match_count(i, "*"), "n_docs:bigint"),
    ("match_all_exclude", lambda i: M.match_stats(
        i, "*", "ts", exclude="hot0", dv_filter="role = 'user'"), STATS),
]


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_routes_give_identical_rows(aidx, monkeypatch, collected, case):
    _, run, columns = case
    with monkeypatch.context() as m:
        m.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
        dist = run(aidx)
    n_dist = len(collected)
    local = run(aidx)
    assert n_dist >= 1 and len(collected) == n_dist  # local: no job
    rows = [tuple(r) for r in local.collect()]
    assert rows and rows == [tuple(r) for r in dist.collect()]
    for df in (local, dist):
        assert ", ".join(f"{f.name}:{f.dataType.simpleString()}"
                         for f in df.schema.fields) == columns


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_small_aggregations_run_no_spark_job(spark, aidx, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    sc = spark.sparkContext
    gid = f"agg-local-{arrow}"
    spark.conf.set(key, arrow)
    try:
        aidx.refresh()  # cold lexicon memo: the lookup must be job-free
        sc.setJobGroup(gid, gid)
        out = [M.match_count(aidx, "hot0 rare3").collect(),
               M.match_stats(aidx, "hot0 mid1", "ts").collect(),
               M.match_histogram(aidx, "hot0 hot1", "ts", 3600).collect(),
               M.match_percentiles(aidx, "hot0 hot1", "ts").collect(),
               M.search_groups(aidx, "hot0 rare3", "role").collect()]
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prev)
    assert all(out)


def test_doc_filter_count_stays_cogrouped(aidx, collected):
    n = M.match_count(aidx, "hot0",
                      doc_filter="role = 'user'").collect()[0].n_docs
    assert len(collected) == 1
    assert "FlatMapCoGroupsInPandas" in _plan(collected[0])
    assert n > 0 and n == M.match_count(
        aidx, "hot0", dv_filter="role = 'user'").collect()[0].n_docs


def test_answer_above_local_max_rows_collects_and_shows(
        spark, tmp_path_factory, capsys):
    """A per-doc histogram of a corpus larger than LOCAL_MAX_ROWS: the
    held answer collects every bucket and shows its first rows."""
    from engine.build import build_index
    from engine.fixtures import spark_transcripts
    d = str(tmp_path_factory.mktemp("agg_wide") / "idx")
    idx = build_index(spark, spark_transcripts(spark, n_convs=400), d,
                      cfg=IndexConfig(doc_values=("ts",)))
    df = M.match_histogram(idx, "*", "ts", 60)  # ts is 60 s apart
    rows = df.collect()
    assert len(rows) == idx.n_docs > Q.LOCAL_MAX_ROWS
    assert all(r.n_docs == 1 for r in rows)
    df.show(3)
    out = capsys.readouterr().out
    assert f"|{T0}|" in out.replace(" ", "") and "only showing top 3" in out


def test_composite_collects_at_most_a_page_per_shard(aidx, monkeypatch,
                                                     collected):
    """Each shard sends only its first ``size`` buckets past ``after``:
    a page over a near-unique key collects at most shards x size
    partial rows, and the walk gives the driver route's buckets."""
    size = 3
    whole = [tuple(r) for r in M.match_composite(
        aidx, "hot0", ["ts"], size=10 ** 6).collect()]
    n_shards = -(-int(aidx.n_docs) // aidx.shard_width)
    assert len(whole) > 4 * n_shards * size
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    walked, after = [], None
    for _ in range(4):
        page = [tuple(r) for r in M.match_composite(
            aidx, "hot0", ["ts"], size=size, after=after).collect()]
        assert collected[-1].count() <= n_shards * size
        walked += page
        after = [page[-1][0]]
    assert walked == whole[:4 * size]


@pytest.mark.parametrize("case", ["cardinality", "rare_terms"])
def test_reductions_collect_per_hash_group(spark, aidx, monkeypatch,
                                           collected, case):
    """Cardinality and rare terms reduce on the executors: the
    distributed route collects one count (cardinality) or at most ``n``
    values (rare terms) per hash group of the values, not the values."""
    groups = int(spark.conf.get("spark.sql.shuffle.partitions"))
    distinct = M.match_cardinality(aidx, "hot0", "ts").collect()[0][0]
    assert distinct > 2 * groups
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    if case == "cardinality":
        out = M.match_cardinality(aidx, "hot0", "ts").collect()
        assert out[0][0] == distinct
        assert collected[-1].count() <= groups
    else:
        out = M.rare_terms(aidx, "hot0", "ts", n=2).collect()
        assert len(out) == 2 and all(r.n_docs == 1 for r in out)
        assert collected[-1].count() <= 2 * groups


def test_predicates_are_one_statement(aidx, tmp_path):
    """A docvalue predicate runs in the embedded DuckDB: one that would
    start a second statement is refused before it runs."""
    target = tmp_path / "leak.csv"
    bad = f"n_docs > 0; COPY buckets TO '{target}'"
    with pytest.raises(ValueError, match="one SQL expression"):
        M.match_histogram_having(aidx, "hot0", "ts", 3600, bad)
    with pytest.raises(ValueError, match="one SQL expression"):
        M.match_count(aidx, "hot0",
                      dv_filter=f"role = 'user'; COPY (SELECT 1) TO "
                                f"'{target}'")
    assert not target.exists()
    assert M.match_histogram_having(
        aidx, "hot0", "ts", 3600, "n_docs > 0").collect()


def test_filter_predicates_count_toward_the_gate(aidx, monkeypatch,
                                                 collected):
    """match_filters / match_adjacency evaluate each predicate over
    every docvalue row of a shard, so that work (a third of a posting
    per doc and predicate) joins the match set's posting mass at the
    gate: a bound between the two masses sends them to Spark."""
    mass = M._prep_match(aidx, "rare3", "OR", None, None).mass
    work = len(USERS) * int(aidx.n_docs) // 3
    assert M._filtered_match(aidx, "rare3", "OR", None, None,
                             sorted(USERS.items())).mass == mass + work
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", mass + work - 1)
    local = M.match_count(aidx, "rare3").collect()
    assert not collected and local[0].n_docs > 0
    for agg in (M.match_filters, M.match_adjacency):
        agg(aidx, "rare3", USERS).collect()
    assert len(collected) == 2
