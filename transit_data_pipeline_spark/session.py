"""SparkSession factory.

Pins the knobs that matter for deterministic, scale-ready plans:
UTC session timezone (stable date/hour extraction — SURVEY §4 item 4),
AQE on (runtime re-planning replaces the reference's ANALYZE/VACUUM
statistics maintenance — reference `sql/performance_optimization.sql:96-109`),
and Arrow for any Pandas-UDF exchange.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

#: Defaults applied to sessions we create *and* re-applied (where
#: runtime-settable) to sessions handed to us by a driver.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions by DATA VOLUME (advisory size),
    # not down to a floor of defaultParallelism: with the default
    # parallelismFirst=true, every small shuffle keeps `cpus` splinter
    # partitions — at sf0.1 that is 32 scheduling-overhead tasks per
    # stage and made the 32-core bench slower than the 8-core one
    # (VERDICT r10 item 1; guide §2.2 "fewer, larger reduce
    # partitions"). Scale-adaptive by construction: partition count is
    # derived from shuffle bytes / advisory size at any scale, capped
    # above by spark.sql.shuffle.partitions. The 64m advisory size
    # (Spark's default) suits the local bench; 256m is the guide-§9
    # production setting for big clusters.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Exact ANSI-ish semantics are not required; reference relies on
    # permissive casts (SURVEY §2 P9).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read the events fixture's TIMESTAMP(NANOS) `ts` as raw int64
    # nanos (catalog.normalize_events); without it the read throws
    # PARQUET_TYPE_ILLEGAL.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: Upper bound on the static ``spark.sql.event.truncate.length``: the
#: longest plan string a listener-bus event may carry (see get_spark).
EVENT_TRUNCATE_LENGTH = 2000


def events_bounded(spark: SparkSession) -> bool:
    """Whether the session caps listener-bus plan strings at
    ``EVENT_TRUNCATE_LENGTH`` chars. The conf is static: a session
    built without it keeps the unbounded default for its lifetime."""
    value = spark.conf.get("spark.sql.event.truncate.length", None)
    try:
        return value is not None and int(value) <= EVENT_TRUNCATE_LENGTH
    except ValueError:
        return False


def _warn_if_unbounded(spark: SparkSession) -> None:
    """Warn, once per session, when ``spark`` lacks the bounded conf."""
    if getattr(spark, "_tdps_events_checked", False):
        return
    spark._tdps_events_checked = True
    if events_bounded(spark):
        return
    warnings.warn(
        "spark.sql.event.truncate.length is not set to at most "
        f"{EVENT_TRUNCATE_LENGTH} on this session; it is a static conf, so "
        "iterative queries may post megabyte plan strings to the listener "
        "bus and stall every wait on it. Set it when building the session.",
        RuntimeWarning,
        stacklevel=3,
    )


def get_spark(app_name: str = "transit_data_pipeline_spark") -> SparkSession:
    """Return the active session or build a local one.

    Local parallelism / shuffle partitions come from SPARK_GRAFT_CPUS
    (default 32) so tests and bench share one code path. On a real
    cluster the caller's session wins — we only set runtime confs.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        configure(active)
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Truncate physical-plan strings carried inside listener-bus
        # events (static conf, default unbounded): iterative operators
        # emit multi-thousand-line plans, and megabyte
        # SQLExecutionStart payloads back the shared async bus up —
        # which every Observation.get and AQE listener then waits
        # behind (r11; guide §5 "the driver should do almost no data
        # work"). Purely driver-side bookkeeping; no effect on plans,
        # results, or the UI-less status store's correctness.
        .config("spark.sql.event.truncate.length", str(EVENT_TRUNCATE_LENGTH))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    # getOrCreate may hand back a session that already existed, whose
    # static confs ours could not override.
    _warn_if_unbounded(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session and
    ship this package to Python workers (Pandas-UDF closures reference
    it by module name; executors can't import it otherwise). Warns once
    if the session lacks the bounded ``spark.sql.event.truncate.length``,
    which it cannot set on a live session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on live session
            pass
    _ship_package(spark)
    _warn_if_unbounded(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    if getattr(spark, "_tdps_pkg_shipped", False):
        return
    import atexit
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(
        tempfile.gettempdir(), f"transit_data_pipeline_spark_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for p in sorted(pkg_dir.rglob("*.py")):
            zf.write(p, arcname=str(pathlib.Path(pkg_dir.name) / p.relative_to(pkg_dir)))
    # Removed at interpreter exit, not after addPyFile: executors fetch
    # it on their first task.
    atexit.register(pathlib.Path(zpath).unlink, missing_ok=True)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:  # pragma: no cover - e.g. Spark Connect sessions
        pass
    spark._tdps_pkg_shipped = True
