import contextlib
import io
import os
import sys
import traceback
from typing import NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from engine.session import get_spark
    s = get_spark("engine-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


class CliResult(NamedTuple):
    returncode: int
    stdout: str
    stderr: str


def run_cli(spark, args) -> CliResult:
    """``python -m engine ARGS`` run in this process: the same ``main``
    (argument parsing, guards, JSON-lines output, exit codes), but on the
    test session instead of a fresh JVM per call. An uncaught exception
    is exit code 1 with its traceback on stderr, as in a process. The
    runtime SQL settings the CLI's ``get_spark`` applies to the shared
    session are put back afterwards."""
    from engine.__main__ import main
    before = dict(spark.conf.getAll)
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        try:
            rc = main([str(a) for a in args])
        except SystemExit as e:
            if isinstance(e.code, str):
                print(e.code, file=sys.stderr)
                rc = 1
            else:
                rc = e.code
        except Exception:
            traceback.print_exc()
            rc = 1
    after = dict(spark.conf.getAll)
    for key, val in after.items():
        if before.get(key) != val and spark.conf.isModifiable(key):
            if key in before:
                spark.conf.set(key, before[key])
            else:
                spark.conf.unset(key)
    return CliResult(rc or 0, out.getvalue(), err.getvalue())


@pytest.fixture(scope="session")
def cli(spark):
    """``cli(args) -> CliResult(returncode, stdout, stderr)``: the engine
    CLI run in-process on the test session (see ``run_cli``)."""
    return lambda args: run_cli(spark, args)


@pytest.fixture
def no_session(monkeypatch):
    """Fail any attempt to get a Spark session: a CLI guard that must
    exit before Spark starts runs under this."""
    import engine.session

    def refuse(*a, **kw):
        raise AssertionError("a Spark session was requested")
    monkeypatch.setattr(engine.session, "get_spark", refuse)


@pytest.fixture(scope="session")
def corpus_pdf():
    from engine.fixtures import make_transcripts
    return make_transcripts(200)  # unit/smoke size (~1.3k turns)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    from engine.fixtures import spark_transcripts
    return spark_transcripts(spark, n_convs=200, n_parts=6).cache()


@pytest.fixture(scope="session")
def oracle_idx(corpus_pdf):
    from engine.oracle import OracleIndex
    return OracleIndex(list(zip(range(len(corpus_pdf)), corpus_pdf.text)))
