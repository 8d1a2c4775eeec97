"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Run from the repository root. They cover input determinism, the output
checks (a dropped row must be caught), the metric declarations in
BENCHMARK.json and the event-log parser on a small recorded log.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle, run  # noqa: E402
from perfbench.trace import EventLog, Spans, union_length  # noqa: E402

TINY = inputs.Sizes(points=3_000, land_cover=40, knn_queries=20, footprints=200,
                    coverage_polys=20, pages=60, parts=2)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _files(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = f.read()
    return out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_same_inputs_and_digests(tmp_path, workload):
    a = inputs.build(workload, 7, str(tmp_path / "a"), TINY)
    b = inputs.build(workload, 7, str(tmp_path / "b"), TINY)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    ea = oracle.expected(workload, a["frames"], TINY)
    eb = oracle.expected(workload, b["frames"], TINY)
    assert {op: oracle.digest(r) for op, r in ea.items()} == {op: oracle.digest(r) for op, r in eb.items()}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_other_seed_other_inputs(tmp_path, workload):
    inputs.build(workload, 7, str(tmp_path / "a"), TINY)
    inputs.build(workload, 8, str(tmp_path / "b"), TINY)
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_dropped_row_is_caught(tmp_path, workload):
    built = inputs.build(workload, 3, str(tmp_path), TINY)
    want = oracle.expected(workload, built["frames"], TINY)
    for op, tables in want.items():
        assert oracle.check(tables, tables) == [], op
        name = max(tables, key=lambda t: len(tables[t]))
        dropped = {**tables, name: tables[name].iloc[1:]}
        assert oracle.check(dropped, tables), f"{op}.{name}: a dropped row went unnoticed"
        assert oracle.digest(dropped) != oracle.digest(tables)


def test_same_seed_same_engine_output_digests(tmp_path):
    """Two runs of the engine's ops on one seed's inputs give identical
    output digests, and both match the oracle."""
    from pda_spark.session import get_spark

    from perfbench import workloads

    built = inputs.build("spatial", 7, str(tmp_path / "in"), TINY)
    spark = get_spark(app_name="perfbench-test", cores=2, extra={
        "spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path / "warehouse")})
    try:
        runs = []
        for _ in range(2):
            w = workloads.Spatial(spark, built["paths"], TINY, str(tmp_path), Spans("t"))
            runs.append({"zonal_tiles": w.zonal_tiles(), "knn": w.knn(), "rasterize": w.rasterize()})
    finally:
        spark.stop()
    want = oracle.expected("spatial", built["frames"], TINY)
    for op, got in runs[0].items():
        assert oracle.check(got, want[op]) == [], op
        assert oracle.digest(got) == oracle.digest(runs[1][op]), op


def test_stop_processes_ends_every_descendant():
    """The runner's exit path leaves nothing behind, grandchildren too (the
    JVM's Python workers are children of the JVM, not of the runner). Run
    in a child process, so the test's own Spark JVM is not in its tree."""
    helper = (
        "import json, subprocess, sys, time\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "from perfbench import run\n"
        "subprocess.Popen(['sh', '-c', 'sleep 120 & sleep 120'])\n"
        "while len(run.descendants()) < 2: time.sleep(0.05)\n"
        "print(json.dumps(run.descendants()))\n"
        "run.stop_processes()\n"
    )
    out = subprocess.run([sys.executable, "-c", helper, ROOT], capture_output=True,
                         text=True, timeout=60, check=True).stdout
    started = {int(pid): start for pid, start in json.loads(out).items()}
    assert len(started) >= 2
    table = run._proc_table()
    assert not [pid for pid, start in started.items() if table.get(pid, (0, None))[1] == start]


def test_runner_knows_every_op():
    from perfbench import workloads

    assert {w: cls.ops for w, cls in workloads.WORKLOADS.items()} == run.OPS


def test_metric_declarations_match_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for section, declared in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        names = [m["name"] for m in spec[section]]
        assert len(names) == len(set(names))
        assert {m["name"]: m["unit"] for m in spec[section]} == declared
        for m in spec[section]:
            assert name_re.match(m["name"]) and unit_re.match(m["unit"]), m
            assert m["better"] in ("lower", "higher")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25


def test_event_log_parser_reads_recorded_log(tmp_path):
    """A log recorded from one zonal_tiles call on tiny inputs (job group
    ``perfbench:traced:0:zonal_tiles``)."""
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    with gzip.open(os.path.join(DATA, "eventlog_zonal_tiles.jsonl.gz"), "rb") as src, \
            open(log_dir / "events_1_local-1", "wb") as dst:
        shutil.copyfileobj(src, dst)
    log = EventLog(str(tmp_path))
    group = "perfbench:traced:0:zonal_tiles"
    jobs = log.op_jobs(group)
    assert jobs
    start = min(j["start"] for j in jobs)
    end = max(j["end"] for j in jobs)
    s = log.op_summary(group, end - start, start, end, cores=2)
    assert s["jobs"] == len(jobs) and s["tasks"] > 0
    assert s["arrow.rows_to_python"] > 0 and s["arrow.python_run_s"] > 0
    assert 0 < s["attributed_s"] <= end - start + 1e-9
    rows = "number of output rows"
    into = log.sql_metric(group, lambda n: rows if n.name.startswith("ArrowEvalPython") else None)
    assert into >= log.sql_metric(group, lambda n: rows if n.name.startswith("BroadcastHashJoin") else None)


def test_span_self_time():
    spans = Spans("t")
    outer = spans.open("op")
    inner = spans.open("checkpoint.stage")
    spans.close(inner)
    spans.close(outer)
    s_outer, s_inner = spans.spans[outer], spans.spans[inner]
    want = (s_outer.end - s_outer.start) - (s_inner.end - s_inner.start)
    assert spans.self_time(outer) == pytest.approx(want)
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
