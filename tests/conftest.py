from __future__ import annotations

import itertools
import os

import pytest

from xena_gdc_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_ids(spark, request):
    """``job_ids(fn)`` runs ``fn`` under a job group of its own and
    returns ``(fn(), ids of the Spark jobs it fired)``."""
    sc = spark.sparkContext
    calls = itertools.count()

    def run(fn):
        # a counter, not id(fn): a freed lambda's id is reused, and a
        # reused group would count the earlier call's jobs again
        group = f"jobs-{request.node.name}-{next(calls)}"
        sc.setJobGroup(group, request.node.name)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


def plan_nodes(spark, ids) -> list[tuple[str, str]]:
    """(name, description) of every node in the final plan graph of each
    SQL execution that ran one of the jobs ``ids``."""
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    out = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if not any(ex.jobs().contains(j) for j in ids):
            continue
        nodes = sql.planGraph(ex.executionId()).allNodes()
        out += [(nodes.apply(k).name(), nodes.apply(k).desc()) for k in range(nodes.size())]
    return out


def run_cli_inprocess(*args: str):
    """Drive ``cli.main`` in-process against the shared test SparkSession.

    A real-subprocess invocation pays a fresh JVM + SparkSession boot
    (~15 s each; ~20 call sites dominated the suite's wall clock).
    ``main`` resolves its session via ``getOrCreate`` and never stops it,
    so the in-process call exercises the same code path minus the boot;
    the ``python -m`` surface stays covered by the subprocess smokes in
    test_cli_pipelines. CLI stderr is print()-based (no logging
    handlers), so redirect_stderr captures every error path; argparse
    exits surface as SystemExit with its code."""
    import contextlib
    import io
    import subprocess

    from xena_gdc_etl_spark import cli

    # Make sure the session getOrCreate hands the CLI is the test-scoped
    # one, even when a CLI test runs before any `spark` fixture.
    get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        try:
            rc = cli.main(list(args))
        except SystemExit as e:  # argparse error paths exit(2)
            rc = e.code if isinstance(e.code, int) else (0 if e.code is None else 2)
    return subprocess.CompletedProcess(args, rc, out.getvalue(), err.getvalue())
