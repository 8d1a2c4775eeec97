import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pda_spark.session import get_spark

    s = get_spark(app_name="pda-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


def formatted_plan(df) -> str:
    """explain(mode='formatted') captured as a string (shared helper —
    plan-shape assertions live in several test files)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def jobs_in_group(spark, group: str, fn):
    """Run ``fn()`` under Spark job group ``group``: (its result, the
    number of jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def n_arrow_nodes(plan: str) -> int:
    """Count physical ArrowEvalPython nodes: formatted explain prints
    each node twice (tree + detail section) — count detail headers."""
    import re

    return len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
