"""The one read path for the driver's parquet tables. Schemas are
declared by the tables' writers (``tdps_bench/fixtures.py``, the test data's)
and read from the footer once per table path per process: the first
read infers them (one Spark job) into a record keyed by the path's
``os.stat``; later reads pass that schema and launch no job (SURVEY §1).
Dimension-sized tables are flagged so join sites can `broadcast()` them
(SURVEY §4: "broadcast the six dims")."""

from __future__ import annotations

import os
import warnings
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

    ``spread=True`` adds a round-robin repartition when the planned scan
    splits fall short of the width below: a driver table is one
    unsplittable row group, so its scan is one task at any cluster size,
    and CPU-heavy map sides (md5 shingling, regex scoring, vector folds)
    buy full-cluster parallelism with one shuffle. Leave it False for
    scan→aggregate queries, where the shuffle would dominate.

    ``events`` is normalized to a stable contract regardless of how the
    fixture encodes ``ts`` on disk (see :func:`normalize_events`):
    ``ts`` is int64 epoch nanoseconds, ``event_time`` is a timestamp.
    DuckDB oracle twin for both encodings:
    ``make_timestamp(epoch_ns(ts) // 1000)`` — ``epoch_ns`` accepts a
    TIMESTAMP column and equals the raw value on an int64-nanos column.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df, src = _read(spark, sf_dir, name)
    if name == "events":
        df = normalize_events(df)
    if spread:
        # One task per ~4 MB of on-disk input, floor 8, capped at cluster
        # width (r11, brief §2); planned once per path and core count.
        cores = spark.sparkContext.defaultParallelism
        if cores not in src.widths:
            target = min(max(cores, 8), max(8, -(-src.nbytes // SPREAD_TASK_BYTES)))
            src.widths[cores] = target if df.rdd.getNumPartitions() < target else 0
        if src.widths[cores]:
            df = df.repartition(src.widths[cores])
    return df


#: Per-task input quantum for `spread` repartitions (bytes of on-disk
#: parquet; the raw text behind it is ~3-5x larger).
SPREAD_TASK_BYTES = 4 * 1024 * 1024


class _Source(NamedTuple):
    """A table path's record, made by its first read (module docstring)."""

    stamp: tuple | None  # os.stat of the path then
    schema: T.StructType
    nbytes: int
    widths: dict  # core count -> `spread` repartition width (0: none)


_SOURCES: dict[str, _Source] = {}


def _read(spark: SparkSession, sf_dir: str, name: str) -> tuple[DataFrame, _Source]:
    """Read one table as stored, with the recorded schema (no job) unless
    the path is new or was rewritten since its record was made."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:  # e.g. a remote filesystem URI: recorded once
        stamp = None
    src = _SOURCES.get(path)
    if src is not None and src.stamp == stamp:
        return spark.read.schema(src.schema).parquet(path), src
    df = spark.read.parquet(path)
    src = _SOURCES[path] = _Source(stamp, df.schema, _disk_bytes(path), {})
    return df, src


def _disk_bytes(path: str) -> int:
    """On-disk bytes of a table file or directory; when the path is not
    os-stat-able, a huge value (=> full cluster width) and a warning,
    once per path as its record is made once."""
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
            RuntimeWarning, stacklevel=3,
        )
        return 1 << 60


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table exactly as stored. Driver fixtures have
    shipped ``ts`` as both TIMESTAMP(NANOS) (read as raw int64 nanos via
    ``nanosAsLong``) and plain ``timestamp[us]`` — this returns whichever
    the footer declares; :func:`normalize_events` unifies them. The
    nanos read needs ``nanosAsLong``, which ``session.get_spark`` and
    ``session.configure`` set (``session.RUNTIME_CONF``). Streams declare
    its ``.schema``, which costs no job past the path's first read."""
    return _read(spark, sf_dir, "events")[0]


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


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A dimension table with an explicit broadcast hint."""
    df = table(spark, sf_dir, name)
    return F.broadcast(df) if name in BROADCAST_TABLES else df
