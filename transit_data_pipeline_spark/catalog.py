"""Table catalog over the driver's parquet test tables.

Explicit declared schemas (never inference in production paths —
SURVEY §1 "Schema system") and a single loader shared by queries,
tests, and bench. Dimension-sized tables are flagged so join sites
can `broadcast()` them (SURVEY §4: "broadcast the six dims").
"""

from __future__ import annotations

import functools
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: All driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables that stay dimension-sized at any scale factor → broadcast
#: candidates. region/nation are fixed-cardinality; supplier/part grow
#: slowly and stay far under the broadcast threshold at tested SFs.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one driver table. Parquet scan → columnar vectorized read
    with predicate pushdown + column pruning for free downstream.

    ``spread=True`` adds a round-robin repartition to default
    parallelism. The driver tables are single-row-group parquet files,
    and a row group cannot be split — so scan-side work is one task no
    matter the cluster size. For CPU-heavy map-side operators (md5
    shingling, regex scoring, vector folds) the one-time shuffle buys
    full-cluster parallelism. Leave False for scan→aggregate queries,
    where the map side is cheap and the shuffle would dominate; on a
    real multi-row-group layout this flag is a no-op conceptually.

    ``events`` is normalized to a stable contract regardless of how the
    fixture encodes ``ts`` on disk (see :func:`normalize_events`):
    ``ts`` is int64 epoch nanoseconds, ``event_time`` is a timestamp.
    DuckDB oracle twin for both encodings:
    ``make_timestamp(epoch_ns(ts) // 1000)`` — ``epoch_ns`` accepts a
    TIMESTAMP column and equals the raw value on an int64-nanos column.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        df = normalize_events(read_events_raw(spark, sf_dir))
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if spread:
        dp = max(spark.sparkContext.defaultParallelism, 8)
        # Scale-adaptive spread width (r11, brief §2): one task per
        # ~4 MB of on-disk input (SPREAD_TASK_BYTES),
        # floor 8, capped at cluster width. The old target was bare
        # defaultParallelism — a pure core-count constant that
        # splintered every CPU-heavy map over a sub-MB corpus into 32
        # near-empty ~14 ms tasks locally, while still being the right
        # answer for corpora big enough to fill the cluster (the cap
        # preserves it: bytes/4MB >= dp whenever there is real work).
        target = min(dp, max(8, -(-_source_bytes(sf_dir, name) // SPREAD_TASK_BYTES)))
        # Gate on the planned scan parallelism: the driver fixtures are
        # single-row-group files (one task no matter the cluster), but on
        # a real multi-file layout the scan already parallelizes and an
        # unconditional repartition would be a gratuitous full shuffle.
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


#: Per-task input quantum for `spread` repartitions (bytes of on-disk
#: parquet; the raw text behind it is ~3-5x larger).
SPREAD_TASK_BYTES = 4 * 1024 * 1024


@functools.lru_cache(maxsize=None)
def _source_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of one table (file or directory of part files),
    walked once per table path per process. Falls back to a huge value
    (=> spread to full cluster width) when the path is not os-stat-able
    (e.g. a remote filesystem URI), and warns, once per path, that the
    width was not sized by input."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(path)
                for f in files
            )
        return os.path.getsize(path)
    except OSError:
        warnings.warn(
            f"cannot stat {path!r}; spread=True repartitions it to full "
            "cluster width instead of one task per SPREAD_TASK_BYTES",
            RuntimeWarning,
            stacklevel=2,
        )
        return 1 << 60


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table exactly as stored. Driver fixtures have
    shipped ``ts`` as both TIMESTAMP(NANOS) (read as raw int64 nanos via
    ``nanosAsLong``) and plain ``timestamp[us]`` — this returns whichever
    the footer declares; :func:`normalize_events` unifies them. The
    nanos read needs ``nanosAsLong``, which ``session.get_spark`` and
    ``session.configure`` set (``session.RUNTIME_CONF``)."""
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize either events encoding to the package-wide contract:
    ``ts`` = int64 epoch NANOSECONDS, ``event_time`` = TimestampType.

    Works on batch and streaming DataFrames (pure column expressions).
    The NTZ→LTZ cast is value-preserving because the session timezone is
    pinned to UTC (session.RUNTIME_CONF).
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # TIMESTAMP(NANOS) fixture read as raw nanos via nanosAsLong.
        return df.withColumn(
            "event_time", F.timestamp_micros(F.expr("ts div 1000"))
        )
    if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        et = F.col("ts").cast("timestamp")
        return df.withColumn("event_time", et).withColumn(
            "ts", F.unix_micros(et) * F.lit(1000)
        )
    raise TypeError(
        f"unsupported events.ts dtype {ts_type}; expected int64 nanos "
        "or a timestamp — regenerated fixture changed encoding again?"
    )


def tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once: ``t = tables(spark, d, 'orders', ...)``."""
    use = names or TABLES
    return {n: table(spark, sf_dir, n) for n in use}


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A dimension table with an explicit broadcast hint."""
    df = table(spark, sf_dir, name)
    return F.broadcast(df) if name in BROADCAST_TABLES else df
