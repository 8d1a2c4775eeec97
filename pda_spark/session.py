"""SparkSession factory tuned for the engine.

Replaces the reference's session/engine singletons
(/root/reference/app/app.py:13-18, /root/reference/database/db.py:26-40).

Scale posture (100 TB / 1000 executors): everything here is config the
same job would ship to a real cluster via ``spark-submit --py-files``;
local[N] only changes the master URL. Arrow is mandatory — every geometry
kernel is a pandas UDF and per-row Python is banned by the BASELINE
input_hint.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ``spark.python.daemon.module`` of every engine session (see get_spark).
DAEMON_MODULE = "pda_spark._daemon"
# ``spark.sql.codegen.cache.maxEntries`` of every engine session (see
# get_spark for the measured working sets it is sized from).
CODEGEN_CACHE_ENTRIES = 5000


def get_spark(
    app_name: str = "pda-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    """The engine's local SparkSession (``getOrCreate``; ``extra`` configs
    are applied last).

    ``spark.python.daemon.module`` is fixed to ``DAEMON_MODULE``, not an
    option. At the start of every Python task PySpark's worker calls
    ``importlib.invalidate_caches()``; on CPython < 3.13 every cached
    zipimporter then re-reads its whole archive, and with ``SPARK_HOME``
    set (pyspark from ``pyspark.zip``, the spark-core jar on
    ``sys.path``) that cost 214-231 ms per task on a 4-vCPU host (Spark
    4.1.2, CPython 3.11.7), warm reused workers included. The daemon
    re-reads an archive only when its mtime or size changed, so every
    Arrow/pandas UDF stage skips the cost with no plan change. It needs
    the package importable by the daemon process, which the
    ``PYTHONPATH`` line below guarantees.

    ``spark.sql.codegen.cache.maxEntries`` is fixed to
    ``CODEGEN_CACHE_ENTRIES``, not an option. Spark keeps each class it
    compiles from generated code (whole-stage codegen, projections,
    orderings) in one JVM-wide LRU cache keyed by the source text, and
    its default 100 entries is smaller than the engine's working sets,
    counted as first-pass compiles on a 4-vCPU host (Spark 4.1.2):
    ~110 classes for one cycle of the ``spatial`` benchmark's five ops,
    ~830 for ``bench.py``'s 53 ``HEADLINE`` queries at sf0.01, and
    2,422 for the whole 170-query registry (``scripts/measure.py
    time``: 2,280 at the sf0.001 warm-up, 142 more at sf0.01). With
    ops run round-robin an undersized cache evicts in a cycle: at 100
    entries a steady ``spatial`` cycle recompiled 77 classes (~0.7 s of
    Janino time), and its tasks, running fresh classes that start in
    HotSpot's interpreter, were busy 17% longer (traced, seed 3:
    ``task.busy_s`` 16.5 s against 14.1 s). 5,000 entries is 2x the
    largest working set: a cap near it still evicts, because code that
    differs per call (a ``limit`` gets a fresh counter name in each
    plan) keeps entering the cache. A cached class keeps its source
    text and bytecode on the driver heap, ~0.3 MB each (after three
    headline passes, 607 MB used after a full GC against 328 MB at 100
    entries, with ~1,400 more classes loaded), so a full cache holds
    ~1.5 GB; a session only retains what it compiled, and the
    ``spatial`` benchmark's ``peak_rss_mb`` is unchanged. The conf is static
    and read when the JVM first generates code: a later session in the
    same JVM cannot resize the cache.
    """
    # Make the package importable in executor Python workers regardless of
    # the driver's cwd (the cluster equivalent is spark-submit --py-files).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_parent}{os.pathsep}{pp}" if pp else pkg_parent

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # local mode: ~2x cores; on a real cluster this would be sized to
        # keep post-shuffle partitions near 128-200 MB (or left to AQE
        # coalescing, which is enabled below).
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Split even a single small parquet file into >= cores input
        # partitions at the SCAN (no Exchange in the plan). This is the
        # session-layer replacement for the plan-level
        # .repartition(defaultParallelism) the registry used to bake into
        # query inputs (VERDICT r2 "What's wrong" #3): locally it keeps
        # Arrow-UDF stages on all cores; on a real cluster the input is
        # many files/row-groups and this floor is a no-op.
        .config("spark.sql.files.minPartitionNum", str(cores))
        # NOTE on small files: minPartitionNum does NOT split sub-4MB
        # files (split size = max(total/minPartitionNum, openCostInBytes)
        # and the 4 MB default open cost floors them to ONE split).
        # Round 5 measured BOTH sides of forcing it
        # (openCostInBytes=4096): map-only Python stages go 32-wide, but
        # every PRE-shuffle Arrow stage then runs 32 tasks x 2 busy
        # procs and trips this host's ~10-core throttle — q45's
        # intersects join went 2.9 s -> 7.4 s while q79 gained nothing
        # it couldn't get from a faster kernel (post-shuffle stages were
        # never the issue: AQE coalesces them narrow). So the stock open
        # cost stays; per-row kernels must be fast enough to run on few
        # splits at test SF, and real deployments have >4 MB files.
        # InferFiltersFromGenerate clones the ENTIRE generator expression
        # into a pushed-down `size(child) > 0` predicate — for explode
        # over a computed array (shingle+md5 chains, token transforms)
        # that evaluates the whole chain TWICE per row, and the filter's
        # clone re-inlines subexpressions the projection had factored
        # out. Measured round 5: q71's explode leg 3.7 s -> 0.39 s, full
        # decontamination 5.8 s -> 1.1 s at sf0.1. Excluding the rule is
        # semantics-neutral (it only prunes rows whose explode output is
        # empty anyway); our corpora have no empty token arrays to prune.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("PDA_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the driver JVM has compiled from generated code so far
    (Spark's ``CodegenMetrics`` compilation count); a cache hit adds
    nothing, so the delta over a call is its codegen cache misses."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def spread(df):
    """Round-robin ``df`` over the session's full parallelism before a
    heavy pure-JVM stage (round-7 structural rule, one definition for
    the nine call sites the rewrites introduced): sub-4MB parquet
    inputs scan as 1-2 splits (openCostInBytes floors them —
    BENCH/BASELINE.md §3) and every downstream stage built on such a
    scan inherits that width. The exchange moves each row once; on real
    many-split inputs it is ~free relative to the stage it widens.
    Apply ONLY where the spread subtree has ONE consumer (a two-consumer
    explode source re-reads the shuffled payload per consumer — the q72
    measured non-fix) and the widened work is pure JVM; long-running
    Arrow stages use ``arrow_width`` instead.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def arrow_width(df) -> int:
    """Task width for a long-running Arrow (Python UDF) stage such as
    the polygon-pair refine: the count of the round-robin exchange that
    feeds it. ``PDA_ARROW_STAGE_WIDTH`` overrides the default for
    deployments whose executor topology differs; a value that is not a
    positive integer raises ``ValueError`` naming the variable.

    Default: half the session's parallelism, but at least 4 tasks (and
    never more than the parallelism). An Arrow task keeps two processes
    busy (Python worker + JVM feeder, BENCH/BASELINE.md §3); halving
    pays off only once that oversubscription hits a throttle:
    - 32 cores (~10-core throttle), q45 refine at sf1.0, width 32/16/8:
      9.0/4.8/7.1 s, so 16;
    - 4 vCPU, Spark 4.1, ``overlay_join`` of the ``spatial`` benchmark
      (bbox evaluated once per row), interleaved A/B medians over 15-20
      calls per width, width 2/3/4: seed 1 1.58/1.55/1.50 s, seed 2
      1.70/1.65/1.63 s, seed 3 1.54/-/1.43 s, so 4.
    Between 8 and 32 cores the crossover is unmeasured.
    """
    raw = os.environ.get("PDA_ARROW_STAGE_WIDTH")
    if raw is None:
        n = df.sparkSession.sparkContext.defaultParallelism
        return min(n, max(4, n // 2))
    if not raw.strip().isdigit() or int(raw) < 1:
        raise ValueError(f"PDA_ARROW_STAGE_WIDTH={raw!r}: expected a positive integer")
    return int(raw)


def keyed_width(df) -> int:
    """Partition count for the keyed exchange under a per-group Python
    stage (``applyInPandas`` scanline unions, per-cell dissolves): twice
    the session's parallelism, so a hot key's cells spread over all
    cores. These stages are compute-heavy per row but tiny in bytes, so
    AQE's size-based coalescing would squeeze an ENSURE_REQUIREMENTS
    exchange onto one or a few tasks (q46 at sf1.0; the ``spatial``
    benchmark's ``coverage_area`` union ran its 8 shuffle partitions as
    one task). Use it as ``df.repartition(keyed_width(df), *keys)``
    before ``groupBy(*keys)``: an explicit count is exempt from
    coalescing and satisfies the grouping's clustering, so no second
    exchange appears."""
    return 2 * df.sparkSession.sparkContext.defaultParallelism
