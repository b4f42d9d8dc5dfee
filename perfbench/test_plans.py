"""The benchmark's own test: every timed call runs its full output.

Run from the repository root:

    python3 -m pytest perfbench/test_plans.py -q

Each DataFrame the workloads pass to ``force`` must keep every output
column, and the expression that computes it, in the physical plan that
the forcing call actually executes, as Spark's SQL status store records
it. Under ``count()`` the optimizer prunes projections the count does
not need; that is how a timed scoring call can end up timing a bare
parquet scan.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import workloads  # noqa: E402
from perfbench.spark_sessions import Sessions  # noqa: E402


def _execution_plans(spark) -> list[tuple[int, str]]:
    """(execution id, physical plan) of every SQL execution so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        out.append((e.executionId(), e.physicalPlanDescription()))
    return sorted(out)


def executed_plan(spark, run) -> str:
    """Physical plan of the last SQL execution that ``run()`` starts."""
    seen = {i for i, _ in _execution_plans(spark)}
    run()
    new = [p for i, p in _execution_plans(spark) if i not in seen]
    assert new, "the call ran no SQL execution"
    return new[-1]


def root_output(plan: str) -> list[str]:
    """Column names the root node of a formatted physical plan emits."""
    tree = plan.split("== Physical Plan ==", 1)[1].strip().splitlines()
    root = re.search(r"\((\d+)\)\s*$", tree[0]).group(1)
    block = plan.split(f"\n({root}) ", 1)[1]
    cols = re.search(r"^(?:Input|Output) \[\d+\]: \[(.*)\]$", block, re.M)
    return [re.sub(r"#\d+L?$", "", c.strip())
            for c in cols.group(1).split(",")]


@pytest.fixture(scope="module")
def sessions(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("perfbench"))
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS")}
    os.environ["TMPDIR"] = root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    s = Sessions(root, 2)
    s.open()
    yield s
    s.shutdown()
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


@pytest.fixture
def forced(monkeypatch):
    """(frame, executed physical plan) of every ``force`` call."""
    seen = []
    real = workloads.force

    def record(df):
        seen.append((df, executed_plan(df.sparkSession, lambda: real(df))))

    monkeypatch.setattr(workloads, "force", record)
    return seen


def test_count_fails_the_plan_check(sessions):
    """The checks below tell a forced write from a pruning count."""
    from pyspark.sql import functions as F

    df = sessions.spark.range(10).withColumn(
        "y", F.transform(F.array("id", "id"), lambda x: x + 1))
    plan = executed_plan(sessions.spark, df.count)
    assert root_output(plan) != df.columns
    assert "lambdafunction" not in plan
    plan = executed_plan(sessions.spark, lambda: workloads.force(df))
    assert root_output(plan) == df.columns
    assert "lambdafunction" in plan


def test_text_dedup_forced_plans_keep_output(sessions, forced, tmp_path):
    wl = workloads.TextDedup(str(tmp_path), seed=3, cores=2)
    wl.n_docs = 80
    wl.generate(sessions.spark)
    wl.setup(sessions.spark)
    op = wl.op(sessions.spark)
    assert op.ok
    assert forced, "the text workload forced no timed frame"
    for df, plan in forced:
        assert root_output(plan) == df.columns
    # the timed encode runs in the plan the forced write executes
    encoded = [plan for df, plan in forced if "tokens" in df.columns]
    assert encoded
    for plan in encoded:
        assert "lambdafunction" in plan or "Join" in plan


def test_stream_detect_forced_plans_keep_output(sessions, forced, tmp_path):
    wl = workloads.StreamDetect(str(tmp_path), seed=3, cores=2)
    wl.generate(sessions.spark)
    wl.setup(sessions.spark)
    wl.begin(sessions.spark)
    assert forced
    for _, plan in forced:
        assert root_output(plan) == [
            "window_start", "source", "theme_id", "strength"]
        assert "FlatMapGroupsInPandas" in plan
    op = wl.op(sessions.spark)
    # the stream's parquet sink holds every event row of the batch truth
    assert op.ok and op.samples_s and wl.ref_rows
