"""Session configuration: the one place the engine's posture is set.

The reference hand-rolls its execution posture: 5 worker threads, 1M-row
partitions, disk-file shuffle (``D/Program.cs:34-36,252-261``). Here the
same posture is configuration: AQE sizes/coalesces partitions at runtime,
skew-join splitting replaces the reference's overflow chunking
(``D/Program.cs:131-139``), and the task scheduler replaces the
callback-driven dynamic dispatch (``D/Program.cs:190-210``).

``SESSION_CONF`` is the runtime-settable part of that posture (UTC,
AQE, nanosecond parquet timestamps read as long). ``get_spark`` builds
a session with it; ``pin_session`` sets it on a session built elsewhere,
and ``plans.registry.register`` calls ``pin_session`` before every
query. The core grant comes from ``default_cpus``; the shuffle width
is the grant floored at 16. ``conf_scope`` is the one way to override
a conf for a block and restore it afterwards.

At 100 TB these settings matter more than locally: AQE + skew join keep
reducers bounded, and shuffle partitions are set explicitly rather than
left at the 200 default.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pathlib
import tempfile
import zipfile
from collections.abc import Iterator, Mapping

from pyspark.sql import SparkSession

# The runtime-settable posture. The DuckDB oracles are UTC-naive, so
# results need a UTC session; events.ts has shipped as
# TIMESTAMP(NANOS), which Spark's reader rejects unless read as long
# (``catalog.load_table`` converts it to µs).
SESSION_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_cpus() -> int:
    """The ``local[N]`` core grant: ``SPARK_GRAFT_CPUS`` when set, else
    the cores in this process's affinity mask."""
    grant = os.environ.get("SPARK_GRAFT_CPUS")
    return int(grant) if grant else len(os.sched_getaffinity(0))


def _shuffle_partitions(cpus: int) -> int:
    return max(cpus, 16)


def get_spark(
    app_name: str = "mrcs_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a local SparkSession tuned for this workload."""
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = _shuffle_partitions(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
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
    """Set ``SESSION_CONF`` on a session we did not create.

    A foreign session at the stock 200 shuffle partitions gets the
    grant's width (iterative plans would fan to 400-task stages at test
    scale); any explicit non-default choice is respected. Also ships
    this package to executors (addPyFile) so worker-side Python
    (mapInPandas / applyInPandasWithState closures that reference
    package functions) can unpickle when the host process imported us
    from a path the executors don't have.
    """
    for key, value in SESSION_CONF.items():
        spark.conf.set(key, value)
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(_shuffle_partitions(default_cpus())),
        )
    _ship_package(spark)
    return spark


@contextlib.contextmanager
def conf_scope(
    spark: SparkSession, overrides: Mapping[str, str]
) -> Iterator[SparkSession]:
    """Set ``overrides`` for the block; on exit, normal or by exception,
    restore each key's prior value, or unset a key that was unset."""
    prior = {key: spark.conf.get(key, None) for key in overrides}
    try:
        for key, value in overrides.items():
            spark.conf.set(key, value)
        yield spark
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def _ship_package(spark: SparkSession) -> None:
    """Zip this package and addPyFile it, once per session.

    The zip is named by a hash of the package's ``.py`` files and
    reused while that content is unchanged, so there is one file per
    package version. It is written under a temporary name and moved
    into place, so a concurrent driver never reads a half-written
    archive. It stays after ``addPyFile``: local executors fetch it
    from that path later.
    """
    if spark.conf.get("mrcs.pyfiles.shipped", None) == "true":
        return
    pkg = pathlib.Path(__file__).resolve().parent
    files = {
        str(p.relative_to(pkg.parent)): p.read_bytes()
        for p in sorted(pkg.rglob("*.py"))
    }
    digest = hashlib.sha256()
    for rel, data in files.items():
        digest.update(rel.encode() + b"\0" + data + b"\0")
    tmp_dir = tempfile.gettempdir()
    zpath = f"{tmp_dir}/mrcs_spark_pkg_{digest.hexdigest()[:16]}.zip"
    if not os.path.exists(zpath):
        fd, part = tempfile.mkstemp(suffix=".zip.part", dir=tmp_dir)
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
            for rel, data in files.items():
                z.writestr(rel, data)
        os.chmod(part, 0o644)
        os.replace(part, zpath)
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set("mrcs.pyfiles.shipped", "true")
