"""Seeded end-to-end benchmark of the pda_spark engine.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 20 --trace 0

Run from the repository root. One client process drives the engine's
public operators in a closed loop on ``local[nproc]``: the ops of the
workload run back to back, each call timed from outside and its output
checked against an index-free oracle. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_BASE = os.path.join(ROOT, ".perfbench_run")
SETUPS = 3          # set-ups per run; setup_s is their median
MIN_CYCLES = 2      # measured cycles per run, and traced cycles in a traced run
DRIVER_MEM = "2g"   # committed and touched at launch: a fixed JVM heap footprint

WORKLOADS = ("spatial", "ingest_resume")
OPS = {
    "spatial": ("zonal_tiles", "knn", "overlay_join", "coverage_area", "rasterize"),
    "ingest_resume": ("ingest", "append", "resume", "readback"),
}
ALL_OPS = [op for ops in OPS.values() for op in ops]
STAGES = ("web_pages", "footprints", "satellites", "item_types", "sat_images")
GENERIC = ("jobs", "stages", "tasks", "task.busy_s", "task.gc_s", "spill.bytes",
           "scan.bytes_read", "shuffle.bytes_written", "shuffle.fetch_wait_s",
           "codegen.busy_s", "arrow.rows_to_python", "arrow.bytes_to_python",
           "arrow.bytes_from_python", "arrow.worker_init_s", "arrow.python_run_s",
           "driver.gap_s", "scheduler.idle_s")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "arrow.rows_to_python": "count",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.worker_init_s": "s",
    "arrow.python_run_s": "s",
    "scan.bytes_read": "bytes",
    "shuffle.bytes_written": "bytes",
    "shuffle.fetch_wait_s": "s",
    "codegen.busy_s": "s",
    "task.busy_s": "s",
    "task.gc_s": "s",
    "spill.bytes": "bytes",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "driver.gap_s": "s",
    "scheduler.idle_s": "s",
    "cpu.util": "ratio",
    "pip.cell_candidates": "count",
    "pip.bbox_survivors": "count",
    "pip.refine_hits": "count",
    "pip.hit_ratio": "ratio",
    "intersects.cell_candidates": "count",
    "intersects.bbox_survivors": "count",
    "intersects.refine_hits": "count",
    "intersects.hit_ratio": "ratio",
    "knn.candidates_per_query": "count",
    "knn.jobs": "count",
    "knn.driver_gap_s": "s",
    "tiling.pyramid_s": "s",
    "tiling.tiles_out": "count",
    "tiling.union_groups": "count",
    "dissolve.cell_pieces": "count",
    "extract.pages_parsed": "count",
    "extract.parse_footprints_s": "s",
    "extract.pages_per_s": "1/s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.jobs": "count",
    "checkpoint.stages_reused": "count",
    "checkpoint.share": "ratio",
    "checkpoint.write_amp": "ratio",
    **{f"checkpoint.stage_s.{name}": "s" for name in STAGES},
    "kernels.pip_points_per_s": "1/s",
    "kernels.intersect_pairs_per_s": "1/s",
    "sweep.union_polys_per_s": "1/s",
    "wkb.decode_per_s": "1/s",
    "cells.cover_cells_per_poly": "count",
    "layer.coverage": "ratio",
    "trace.overhead_s": "s",
    **{f"op.{op}.share": "ratio" for op in ALL_OPS},
    **{f"op.{op}.driver_share": "ratio" for op in ALL_OPS},
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_line() -> str:
    """nproc, total memory and Spark version, so a run on another host
    shows in its report."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"# host nproc={host_cores()} mem_gib={mem_kb / 2**20:.1f} spark={pyspark.__version__}"


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, start time in clock ticks) of every live,
    non-zombie process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            table[int(entry)] = (int(fields[1]), int(fields[19]))
    return table


def descendants() -> dict[int, int]:
    """pid -> start time of every live process below this one."""
    table = _proc_table()
    out, todo = {}, [os.getpid()]
    while todo:
        parent = todo.pop()
        for pid, (ppid, start) in table.items():
            if ppid == parent and pid not in out:
                out[pid] = start
                todo.append(pid)
    return out


def stop_processes() -> None:
    """Stop the Spark JVM and everything it started (the Python worker
    daemon and its workers), and wait until each has ended.

    PySpark leaves the JVM running after ``SparkSession.stop()``; it exits
    on its own only after this process has gone, and its workers after it.
    The processes are listed before the JVM goes, because its orphans are
    no longer below this process once it has."""
    from pyspark import SparkContext

    left = descendants()
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # a pid counts as the same process only while its start time matches
    deadline, sig = time.monotonic() + 5.0, signal.SIGTERM
    while True:
        table = _proc_table()
        alive = [pid for pid, start in left.items() if table.get(pid, (0, None))[1] == start]
        if not alive:
            return
        if sig is not None or time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, sig or signal.SIGKILL)
                except ProcessLookupError:
                    pass
            sig = None
        time.sleep(0.05)


class Bench:
    """One benchmark run: inputs, oracle, sessions and the op loop."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        from perfbench import inputs, oracle
        from perfbench.trace import Spans

        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.cores = host_cores()
        self.dir = os.path.join(RUN_BASE, workload)
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog", "work"):
            os.makedirs(os.path.join(self.dir, sub))
        # every scratch file of the JVM and the Python workers stays in the
        # run directory (the env var wins over spark.local.dir)
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tempfile.tempdir = None  # re-read TMPDIR
        self.sizes = inputs.Sizes()
        built = inputs.build(workload, seed, os.path.join(self.dir, "inputs"), self.sizes)
        self.frames, self.paths, self.input_bytes = built["frames"], built["paths"], built["bytes"]
        self.expected = oracle.expected(workload, self.frames, self.sizes)
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.digests: dict[str, str] = {}
        self.spans = Spans(run_id=f"{workload}-{seed}-{os.getpid()}")

    # ------------------------------------------------------------ session

    def start(self, event_log: bool) -> float:
        from pda_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        extra = {
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # no hsperfdata file under /tmp; JVM temp files in the run dir
            "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                                              f"-Djava.io.tmpdir={os.environ['TMPDIR']}"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(self.dir, "eventlog"),
        }
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cores=self.cores, extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def load(self) -> None:
        """Input load and warm-up pass: open every input table, count it,
        and push one batch through the Python boundary so the worker pool
        and the engine's imports are ready."""
        from pyspark.sql import functions as F

        from perfbench import workloads

        self.w = workloads.WORKLOADS[self.workload](
            self.spark, self.paths, self.sizes, os.path.join(self.dir, "work"), self.spans)

        @F.pandas_udf("long")
        def warm(s: pd.Series) -> pd.Series:
            import pda_spark.geo.kernels  # noqa: F401  (worker-side import)

            return s * 0

        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench:setup", "setup")
        for path in self.paths.values():
            df = self.spark.read.parquet(path)
            df.count()
        self.spark.range(0, 4 * self.cores, numPartitions=self.cores).select(
            F.sum(warm("id"))).collect()

    # --------------------------------------------------------------- loop

    def cycle(self, phase: str, index: int) -> float:
        """Run every op of the workload once; returns the summed op wall
        (the output checks in between are not timed)."""
        from perfbench import oracle
        from perfbench.trace import cpu_busy_s, tree_rss_mb

        sc = self.spark.sparkContext
        cycle_span = self.spans.open("cycle", phase=phase, cycle=index)
        total = rss = 0.0
        for op in self.w.ops:
            group = f"perfbench:{phase}:{index}:{op}"
            sc.setJobGroup(group, op)
            busy = cpu_busy_s()
            idx = self.spans.open(op, phase=phase, cycle=index, group=group)
            try:
                result = getattr(self.w, op)()
            except Exception:  # a failing op counts as failed; the loop goes on
                result = None
                self.errors.append(f"{phase}[{index}] {op}: {traceback.format_exc(limit=3)}")
            finally:
                span = self.spans.close(idx)
            span.attrs["cpu_s"] = cpu_busy_s() - busy
            total += span.end - span.start
            rss = max(rss, tree_rss_mb())
            self.attempted += 1
            if result is None:
                self.failed += 1
                continue
            observed = self.w.observe(op, result)
            span.attrs["rows"] = sum(len(v) for v in observed.values())
            errs = oracle.check(observed, self.expected[op])
            if errs:
                self.failed += 1
                self.errors.append(f"{phase}[{index}] {op}: {'; '.join(errs[:3])}")
            if op not in self.digests:
                self.digests[op] = oracle.digest(observed)
            if op == "resume" and self.traced:
                self.write_amp = self.w.checkpoint_bytes() / (
                    self.input_bytes["pages_a"] + self.input_bytes["pages_b"])
        self.spans.close(cycle_span).attrs["peak_rss_mb"] = rss
        return total

    def op_spans(self, phase: str) -> list[tuple[int, object]]:
        return [(i, s) for i, s in enumerate(self.spans.spans)
                if s.attrs.get("group") and s.attrs["phase"] == phase]

    def op_walls(self, phase: str) -> dict[str, list[float]]:
        walls: dict[str, list[float]] = {op: [] for op in self.w.ops}
        for _, s in self.op_spans(phase):
            walls[s.name].append(s.end - s.start)
        return walls

    def measure(self, phase: str, seconds: float, min_cycles: int = MIN_CYCLES) -> list[float]:
        """Closed loop: cycles back to back while one more cycle of median
        length still ends within ``seconds`` (at least ``min_cycles``).
        Returns the cycle walls."""
        walls, t0 = [], time.perf_counter()
        while len(walls) < min_cycles or time.perf_counter() - t0 + statistics.median(walls) <= seconds:
            walls.append(self.cycle(phase, len(walls)))
        return walls

    # -------------------------------------------------------------- modes

    def run_timed(self) -> dict:
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            self.start(event_log=False)
            self.load()
            setups.append(time.perf_counter() - t0)
        self.cycle("burnin", 0)
        walls = self.measure("timed", self.seconds)
        self.report_ops("timed", walls, setups)
        # one cycle's time as the sum of per-op medians over the measured
        # cycles
        cycle_s = sum(statistics.median(w) for w in self.op_walls("timed").values())
        return {
            "setup_s": statistics.median(setups),
            "rows_per_s": self.w.rows_per_cycle / cycle_s,
            "peak_rss_mb": statistics.median(
                s.attrs["peak_rss_mb"] for s in self.spans.spans
                if s.name == "cycle" and s.attrs["phase"] == "timed"),
        }

    def run_traced(self) -> dict:
        from perfbench import micro
        from perfbench.trace import EventLog

        start_s = self.start(event_log=True)
        self.load()
        self.cycle("burnin", 0)
        traced = self.measure("traced", self.seconds / 2)
        # stopping the traced context flushes its event log; the untraced
        # cycle runs on a fresh context in the same (warm) JVM
        self.start(event_log=False)
        self.load()
        plain = self.measure("untraced", self.seconds / 2, min_cycles=1)
        self.spark.stop()
        self.spark = None
        log = EventLog(os.path.join(self.dir, "eventlog"))
        metrics = self.layer_metrics(log, traced)
        metrics["session.start_s"] = start_s
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        metrics.update(micro.run(self.workload, self.frames, self.seed))
        self.report_ops("traced", traced, [])
        return metrics

    def layer_metrics(self, log, cycle_walls: list[float]) -> dict:
        """Per-layer metrics of the traced cycles: sums over each cycle's
        op calls, then the median over cycles."""
        per_cycle: list[dict] = [dict.fromkeys(PER_LAYER, 0.0) for _ in cycle_walls]
        coverage: dict[str, list[float]] = {}
        for idx, span in self.op_spans("traced"):
            op, k = span.name, span.attrs["cycle"]
            wall = span.end - span.start
            s = log.op_summary(span.attrs["group"], wall, span.start, span.end, self.cores)
            m = per_cycle[k]
            for key in GENERIC:
                m[key] += s[key]
            m["cpu.util"] += span.attrs["cpu_s"] / (cycle_walls[k] * self.cores)
            m[f"op.{op}.share"] = wall / cycle_walls[k]
            m[f"op.{op}.driver_share"] = s["driver.gap_s"] / wall
            coverage.setdefault(op, []).append(s["attributed_s"] / wall)
            self._op_counters(log, idx, span, s, m, cycle_walls[k])
        for m in per_cycle:
            run_s = m["extract.parse_footprints_s"]
            m["extract.pages_per_s"] = m["extract.pages_parsed"] / run_s if run_s else 0.0
        out = {k: statistics.median(m[k] for m in per_cycle) for k in PER_LAYER}
        out["layer.coverage"] = min(statistics.median(v) for v in coverage.values())
        if self.workload == "ingest_resume":
            out["checkpoint.write_amp"] = self.write_amp
        return out

    def _op_counters(self, log, idx: int, span, summary: dict, m: dict, cycle_wall: float) -> None:
        """Counters of the layer each op exercises, from its SQL plans."""
        from perfbench import trace

        g, op = span.attrs["group"], span.name
        rows = "number of output rows"

        def below(node, name):
            return any(c.name.startswith(name) or below(c, name) for c in node.children)

        def refine(n):  # the exact-predicate UDF above the cell join
            return n.name.startswith("ArrowEvalPython") and below(n, "BroadcastHashJoin")

        def named(prefix):
            return lambda n: rows if n.name.startswith(prefix) else None

        if op in ("zonal_tiles", "overlay_join"):
            layer = "pip" if op == "zonal_tiles" else "intersects"
            into = log.sql_metric(g, lambda n: rows if refine(n) else None)
            hits = log.sql_metric(g, lambda n: rows if n.name == "Filter"
                                  and any(refine(c) for c in trace.unwrap(n)) else None)
            m[f"{layer}.cell_candidates"] += log.sql_metric(g, named("BroadcastHashJoin"))
            m[f"{layer}.bbox_survivors"] += into
            m[f"{layer}.refine_hits"] += hits
            m[f"{layer}.hit_ratio"] = hits / into if into else 0.0
        elif op == "knn":
            m["knn.candidates_per_query"] += (
                log.sql_metric(g, named("BroadcastHashJoin")) / self.sizes.knn_queries)
            m["knn.jobs"] += summary["jobs"]
            m["knn.driver_gap_s"] += summary["driver.gap_s"]
        elif op == "coverage_area":
            m["tiling.union_groups"] += log.sql_metric(g, named("FlatMapGroupsInPandas"))
            m["dissolve.cell_pieces"] += log.sql_metric(g, named("MapInPandas"))
        elif op in ("ingest", "append", "resume"):
            m["extract.pages_parsed"] += log.rows_into(g, ("MapInPandas",))
            m["extract.parse_footprints_s"] += log.sql_metric(
                g, lambda n: "time to run Python workers" if n.name.startswith("MapInPandas") else None)
            writes = lambda metric: lambda n: metric if "InsertInto" in n.name or "WriteFiles" in n.name else None
            m["checkpoint.bytes_written"] += log.sql_metric(g, writes("written output"))
            m["checkpoint.files_written"] += log.sql_metric(g, writes("number of written files"))
            top = [(c.start, c.end) for c in self.spans.children(idx)]
            for c in self.spans.children(idx):
                m[f"checkpoint.stage_s.{c.attrs['stage']}"] += c.end - c.start
            m["checkpoint.jobs"] += sum(
                1 for j in log.op_jobs(g) if any(s <= j["start"] <= e for s, e in top))
            wall = span.end - span.start
            m["checkpoint.share"] += (wall - self.spans.self_time(idx)) / cycle_wall
            stage_calls = [i for i, c in enumerate(self.spans.spans)
                           if c.name == "checkpoint.stage" and span.start <= c.start <= span.end]
            m["checkpoint.stages_reused"] += sum(
                1 for i in stage_calls
                if not any(c.name == "checkpoint.write_stage" for c in self.spans.children(i)))
        if op in ("zonal_tiles", "rasterize"):
            m["tiling.tiles_out"] += span.attrs["rows"]
        if op == "zonal_tiles":
            m["tiling.pyramid_s"] += sum(c.end - c.start for c in self.spans.children(idx)
                                         if c.name == "tiling.pyramid")

    # ------------------------------------------------------------- report

    def report_ops(self, phase: str, walls: list[float], setups: list[float]) -> None:
        """Human-readable per-op medians (stdout, before the JSON line)."""
        print(host_line())
        print(f"# workload={self.workload} seed={self.seed} cores={self.cores} phase={phase} "
              f"cycles={len(walls)} cycle_s_median={statistics.median(walls):.4f}")
        if setups:
            print("# setups_s=" + ",".join(f"{s:.4f}" for s in setups))
        for op, w in self.op_walls(phase).items():
            print(f"# op={op} n={len(w)} median_s={statistics.median(w):.4f} max_s={max(w):.4f}")
        for e in self.errors:
            print(f"# MISMATCH {e}")

    def close(self) -> None:
        try:
            self.spans.dump(os.path.join(self.dir, "spans.jsonl"))
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            stop_processes()
        for sub in ("inputs", "work", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(self.dir, sub), ignore_errors=True)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM still runs Bench.close, which stops the JVM and its workers;
    # a second one does not interrupt it
    def on_term(signum, frame):
        signal.signal(signum, signal.SIG_IGN)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    sys.path.insert(0, ROOT)
    try:
        import pda_spark  # noqa: F401
    except ImportError:
        print("perfbench: the pda_spark package is not in this checkout", file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        metrics = bench.run_traced() if args.trace else bench.run_timed()
    finally:
        bench.close()
    units = PER_LAYER if args.trace else END_TO_END
    with open(os.path.join(bench.dir, "digests.json"), "w") as f:
        json.dump(bench.digests, f, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
