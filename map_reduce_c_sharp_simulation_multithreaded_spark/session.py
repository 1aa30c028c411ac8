"""SparkSession factory.

The reference hand-rolls its execution posture: 5 worker threads, 1M-row
partitions, disk-file shuffle (``D/Program.cs:34-36,252-261``). Here the
same posture is configuration: AQE sizes/coalesces partitions at runtime,
skew-join splitting replaces the reference's overflow chunking
(``D/Program.cs:131-139``), and the task scheduler replaces the
callback-driven dynamic dispatch (``D/Program.cs:190-210``).

At 100 TB these settings matter more than locally: AQE + skew join keep
reducers bounded, and shuffle partitions are set explicitly rather than
left at the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """The ``local[N]`` core grant: ``SPARK_GRAFT_CPUS`` when set, else
    the cores in this process's affinity mask."""
    grant = os.environ.get("SPARK_GRAFT_CPUS")
    return int(grant) if grant else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "mrcs_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a local SparkSession tuned for this workload."""
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 16)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("MRCS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                os.environ.get("TMPDIR", "/tmp"), "mrcs_spark_warehouse"
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def host_speed_probe(spark: SparkSession, passes: int = 3) -> float:
    """Fixed CPU-bound probe, min across ``passes`` — the host-speed
    calibration constant recorded in BENCH_r{N}/SWEEP_r{N} artifacts
    (VERDICT.md r7 next-round #4). SCALE.md's "host-speed epoch"
    measured IDENTICAL code uniformly 1.4-1.5× slower between host
    windows, which the 1.5× perf gates cannot distinguish from a slow
    plan; dividing by the ratio of recorded calibration constants
    normalizes that out before the bar applies (compare_sweeps in
    tools/sweep_times.py). The probe is a codegen'd 2B-row sum over
    all local cores: no data dependence, no shuffle, no Python — pure
    JVM arithmetic throughput, the same resource the epochs throttled.
    Sized so compute dominates scheduling: 500M rows measured the same
    wall as 200M (pure task overhead), while 2B runs ~0.45 s warm at
    local[32], clearly work-bound — the regime where a 1.45× CPU
    epoch shows up as ~1.45× probe time.
    """
    import time as _time

    best = float("inf")
    for _ in range(passes):
        t0 = _time.perf_counter()
        # mod keeps the running sum < 2e15 — sum(id*id) raw would
        # overflow long under ANSI (default in Spark 4) at this n
        spark.range(2_000_000_000).selectExpr(
            "sum((id * id) % 1000003)"
        ).collect()
        best = min(best, _time.perf_counter() - t0)
    return round(best, 4)


def host_speed_probe_single(spark: SparkSession, passes: int = 3) -> float:
    """SINGLE-THREAD companion to :func:`host_speed_probe` (round 9).

    The parallel probe measures all-core execution throughput — and
    round 9 found an epoch it is BLIND to: sub-second sf0.1 queries
    are dominated by single-threaded driver work (Catalyst analysis,
    whole-stage codegen, JIT compilation), which can slow 1.2–1.6×
    while the 32-thread probe holds at ~0.45 s (measured this round:
    headline plans ~1.07× their r7 walls, complex-plan and streaming
    queries 1.5–2×, first passes spiking 2–3× over steady state —
    the plan-complexity-proportional signature, not an execution one).
    This probe pins the same arithmetic to ONE task
    (``numPartitions=1``), so its round-over-round ratio tracks
    single-thread speed. Recorded as ``calibration_single_sec`` in
    sweep/bench artifacts from round 9 on; r7/r8 artifacts predate it,
    so the first usable cross-round pair is r9→r10.
    """
    import time as _time

    best = float("inf")
    for _ in range(passes):
        t0 = _time.perf_counter()
        spark.range(0, 200_000_000, 1, 1).selectExpr(
            "sum((id * id) % 1000003)"
        ).collect()
        best = min(best, _time.perf_counter() - t0)
    return round(best, 4)


def pin_session(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on a session we did not create.

    The driver hands our queries an externally built session; correctness
    against the UTC-naive DuckDB oracle requires a UTC session timezone,
    and the scale posture wants AQE on. Both are runtime-settable.
    Also ships this package to executors (addPyFile) so worker-side
    Python (mapInPandas / applyInPandasWithState closures that reference
    package functions) can unpickle when the host process imported us
    from a path the executors don't have.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # a foreign session at the stock 200 shuffle partitions over-splits
    # local test scales badly (iterative plans fan to 400-task stages);
    # respect any explicit non-default choice, fix only the default
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(max(default_cpus(), 16))
        )
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Zip this package and addPyFile it, once per session."""
    try:
        if spark.conf.get("mrcs.pyfiles.shipped", "") == "true":
            return
    except Exception:
        pass
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # applicationId in the name: two concurrent drivers on one machine
    # must not interleave writes to a shared zip and addPyFile a
    # truncated/mixed-version archive
    app_id = spark.sparkContext.applicationId
    zpath = os.path.join(
        tempfile.gettempdir(), f"mrcs_spark_pkg_{app_id}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set("mrcs.pyfiles.shipped", "true")
