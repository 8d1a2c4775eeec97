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


# physical plan nodes that run Python: scalar UDF evaluation, map /
# grouped / co-grouped functions, Python aggregates, windows and UDTFs
PYTHON_NODE = (
    r"(?:ArrowEvalPython|BatchEvalPython|MapInPandas|(?:Python)?MapInArrow"
    r"|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)|AggregateInPandas|ArrowAggregatePython"
    r"|WindowInPandas|ArrowWindowPython|(?:Arrow|Batch)EvalPythonUDTF)"
)


def n_arrow_nodes(plan: str) -> int:
    """Count the physical nodes that run Python (``PYTHON_NODE``):
    formatted explain prints each node twice (tree + detail section) —
    count detail headers."""
    import re

    return len(re.findall(rf"^\(\d+\) {PYTHON_NODE}\b", plan, re.M))
