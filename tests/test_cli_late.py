"""CLI coverage for the late-r4 operators: one shared synthetic index,
every new subcommand / search mode exercised end-to-end through the
`python -m engine` entry point (``main``, run in-process on the test
session by the ``cli`` fixture; tests/test_submit.py drives the same
``main`` through spark-submit in its own process)."""

import json

import pytest


@pytest.fixture(scope="module")
def cli_idx(cli, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_late") / "idx")
    r = cli(["build", "--input", "synthetic", "--convs", "120",
             "--index-dir", d, "--positions",
             "--doc-values", "role,ts"])
    assert r.returncode == 0, r.stderr[-2000:]
    return d


def _rows(r):
    assert r.returncode == 0, r.stderr[-2000:]
    return [json.loads(l) for l in r.stdout.splitlines()
            if l.startswith("{")]


def test_cli_dis_max(cli, cli_idx):
    rows = _rows(cli(["search", "--index-dir", cli_idx,
                      "--dis-query", "hot0 hot1",
                      "--dis-query", "w010 w020",
                      "--tie-breaker", "0.3"]))
    assert rows and all("score" in o for o in rows)
    # --dis-query refuses --query
    r = cli(["search", "--index-dir", cli_idx, "--query", "hot0",
             "--dis-query", "hot1"])
    assert r.returncode == 2


def test_cli_demote(cli, cli_idx):
    rows = _rows(cli(["search", "--index-dir", cli_idx,
                      "--query", "hot0 hot1",
                      "--demote", "w010", "--demote-factor", "0.2"]))
    assert rows


def test_cli_span_first_and_phrase_prefix(cli, cli_idx):
    rows = _rows(cli(["search", "--index-dir", cli_idx,
                      "--query", "hot0", "--mode", "SPAN_FIRST",
                      "--span-n", "4"]))
    assert rows and all("n_within" in o for o in rows)
    rows = _rows(cli(["search", "--index-dir", cli_idx,
                      "--query", "hot0 w01", "--mode", "PHRASE_PREFIX"]))
    assert rows and all("n_phrase" in o for o in rows)


def test_cli_composite_and_filters(cli, cli_idx):
    rows = _rows(cli(["composite", "--index-dir", cli_idx,
                      "--query", "hot0 hot1", "--fields", "role",
                      "--size", "2"]))
    assert 0 < len(rows) <= 2
    after = json.dumps([rows[-1]["role"]])
    rows2 = _rows(cli(["composite", "--index-dir", cli_idx,
                       "--query", "hot0 hot1", "--fields", "role",
                       "--size", "2", "--after", after]))
    assert all(r2["role"] > rows[-1]["role"] for r2 in rows2)
    rows = _rows(cli(["filters", "--index-dir", cli_idx,
                      "--query", "hot0",
                      "--bucket", "users=role = 'user'",
                      "--bucket", "none=role = 'zz'"]))
    assert [o["bucket"] for o in rows] == ["none", "users"]
    assert rows[0]["n_docs"] == 0


def test_cli_auto_histogram(cli, cli_idx):
    rows = _rows(cli(["histogram", "--index-dir", cli_idx,
                      "--query", "hot0 hot1", "--field", "ts",
                      "--auto", "--target-buckets", "5"]))
    assert 0 < len(rows) <= 5 and "interval_s" in rows[0]
    r = cli(["histogram", "--index-dir", cli_idx, "--query", "hot0",
             "--field", "ts"])
    assert r.returncode == 2  # neither --interval-s nor --auto


def test_cli_percolate_and_reindex(cli, cli_idx, tmp_path):
    qf = tmp_path / "queries.json"
    qf.write_text(json.dumps([
        {"id": "a1", "query": "hot0 hot1", "mode": "AND"},
        {"id": "a2", "query": "rare3", "mode": "OR"}]))
    qd = str(tmp_path / "qidx")
    r = cli(["percolate-register", "--queries-file", str(qf),
             "--index-dir", qd])
    assert r.returncode == 0, r.stderr[-2000:]
    rows = _rows(cli(["percolate", "--index-dir", qd,
                      "--text", "hot0 hot1 something"]))
    assert [o["query_id"] for o in rows] == ["a1"]
    rd = str(tmp_path / "reidx")
    r = cli(["reindex", "--index-dir", cli_idx, "--out-dir", rd,
             "--stopwords", "w000", "--stem", "s"])
    assert r.returncode == 0, r.stderr[-2000:]
    rows = _rows(cli(["search", "--index-dir", rd,
                      "--query", "hot0 hot1"]))
    assert rows


def test_cli_suggest_phrase(cli, tmp_path_factory):
    # phrase suggester needs a fuzzy-enabled build (its own index:
    # cli_idx builds without --fuzzy-edits)
    d = str(tmp_path_factory.mktemp("cli_sugg") / "idx")
    r = cli(["build", "--input", "synthetic", "--convs", "80",
             "--index-dir", d, "--fuzzy-edits", "2"])
    assert r.returncode == 0, r.stderr[-2000:]
    rows = _rows(cli(["suggest", "--index-dir", d, "--query",
                      "hor0 mid1", "--phrase", "--max-edits", "1",
                      "--n", "3"]))
    assert rows and all({"phrase", "n_edits", "score"} <= set(x)
                        for x in rows)
    # the obvious correction appears among the suggestions
    assert any(x["phrase"].startswith("hot0 ") for x in rows)


def test_cli_new_agg_surface(cli, tmp_path_factory):
    # mad / missing / string-stats / histogram --having/--top /
    # match_all ("*") through spark-submit, one shared dv build
    d = str(tmp_path_factory.mktemp("cli_aggs") / "idx")
    r = cli(["build", "--input", "synthetic", "--convs", "100",
             "--index-dir", d, "--doc-values", "role,ts"])
    assert r.returncode == 0, r.stderr[-2000:]
    rows = _rows(cli(["mad", "--index-dir", d, "--query", "hot0",
                      "--field", "ts"]))
    assert rows and {"n_values", "median", "mad"} <= set(rows[0])
    rows = _rows(cli(["missing", "--index-dir", d, "--query", "*",
                      "--field", "role"]))
    assert rows and rows[0]["n_missing"] == 0 and rows[0]["n_docs"] > 0
    rows = _rows(cli(["string-stats", "--index-dir", d, "--query",
                      "hot0", "--field", "role"]))
    assert rows and rows[0]["entropy"] > 0
    rows = _rows(cli(["histogram", "--index-dir", d, "--query", "hot0",
                      "--field", "ts", "--interval-s", "3600",
                      "--having", "delta_docs > 0"]))
    assert all({"bucket_start", "cum_docs"} <= set(x) for x in rows)
    rows = _rows(cli(["histogram", "--index-dir", d, "--query", "*",
                      "--field", "ts", "--interval-s", "3600",
                      "--top", "2"]))
    assert len(rows) == 2
    # guards
    assert cli(["histogram", "--index-dir", d, "--query", "hot0",
                "--field", "ts", "--interval-s", "3600", "--having",
                "n_docs > 0", "--top", "2"]).returncode == 2
    assert cli(["histogram", "--index-dir", d, "--query", "hot0",
                "--field", "ts", "--auto", "--top", "2"]).returncode == 2


def test_cli_decay_flag_guard(cli, cli_idx):
    """Decay-family flags without --decay exit 2 (ADVICE r4: the legacy
    recency branch silently ignored them)."""
    r = cli(["search", "--index-dir", cli_idx, "--query", "hot0",
             "--boost-field", "ts", "--boost-now", "2026-02-01T00:00:00",
             "--boost-mode", "sum"])
    assert r.returncode == 2
    assert "--decay" in r.stderr


def test_cli_multi_match(cli, tmp_path_factory):
    """build --extra-fields + search --mm-field end-to-end (r5)."""
    d = str(tmp_path_factory.mktemp("cli_mm") / "idx")
    r = cli(["build", "--input", "synthetic", "--convs", "80",
             "--index-dir", d, "--extra-fields", "role"])
    assert r.returncode == 0, r.stderr[-2000:]
    rows = _rows(cli(["search", "--index-dir", d, "--query", "hot0 user",
                      "--mm-field", "text", "--mm-field", "role=2",
                      "--tie-breaker", "0.3"]))
    assert rows and all("score" in o for o in rows)
    rows2 = _rows(cli(["search", "--index-dir", d, "--query", "hot0 user",
                       "--mm-field", "text", "--mm-field", "role=2",
                       "--match-type", "most_fields"]))
    assert rows2
    # --mm-field needs --query
    r = cli(["search", "--index-dir", d, "--mm-field", "text",
             "--dis-query", "hot0"])
    assert r.returncode == 2


def test_cli_query_string(cli, cli_idx):
    """--query-string routes the r5 mini-language end-to-end."""
    rows = _rows(cli(["search", "--index-dir", cli_idx,
                      "--query-string", "+hot0 w010^2 -mid1"]))
    assert rows and all("score" in o for o in rows)
    rows = _rows(cli(["search", "--index-dir", cli_idx,
                      "--query-string", '"hot0 hot1"~2']))
    assert all("n_phrase" in o for o in rows)
    r = cli(["search", "--index-dir", cli_idx,
             "--query-string", "hot0", "--query", "hot1"])
    assert r.returncode == 2
    r = cli(["search", "--index-dir", cli_idx,
             "--query-string", '"a" "b"'])
    assert r.returncode == 2 and "at most one phrase" in r.stderr


@pytest.mark.parametrize("flag", [
    ["--exclude", "mid1"], ["--mode", "AND"], ["--asc"],
    ["--tie-breaker", "0.5"], ["--match-type", "most_fields"],
    ["--text"], ["--no-wand"],
], ids=lambda f: f[0])
def test_cli_query_string_rejects_ignored_flag(cli, no_session, tmp_path,
                                               flag):
    """--query-string would silently drop these shaping flags: exit 2,
    naming the flag, before any Spark session is requested (the index
    dir does not even exist)."""
    r = cli(["search", "--index-dir", str(tmp_path / "none"),
             "--query-string", "hot0 w010"] + flag)
    assert r.returncode == 2, r.stderr[-2000:]
    assert flag[0] in r.stderr


@pytest.mark.parametrize("flag", [
    ["--boost-field", "ts", "--boost-now", "2026-02-01T00:00:00"],
    ["--collapse", "role"], ["--sort-by", "ts"], ["--snippets"],
], ids=lambda f: f[0])
def test_cli_mm_field_rejects_ignored_flag(cli, no_session, tmp_path, flag):
    """--mm-field would silently drop (or be silently replaced by) these
    flags: exit 2, naming the flag, before any Spark session is
    requested."""
    r = cli(["search", "--index-dir", str(tmp_path / "none"),
             "--query", "hot0 user", "--mm-field", "text",
             "--mm-field", "role=2"] + flag)
    assert r.returncode == 2, r.stderr[-2000:]
    assert flag[0] in r.stderr
