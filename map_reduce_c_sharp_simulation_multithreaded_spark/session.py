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
        .config("spark.driver.memory", "8g")
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
