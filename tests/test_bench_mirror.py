"""The bench fixture mirror (bench._mirror_fixtures) must be a pure
layout change: same rows per table, fact tables split into
max(8, min(dp, ceil(bytes/128MB))) files — sized by data volume, capped
at core count, floor 8 (which wins below 8 cores) so fact scans
parallelize (VERDICT r10 item 1: one-file-per-core splintered every
small-SF scan stage; below about 8 cores catalog.table's `spread` gate
still fires on every table) — broadcast dims left single-file, and the
events encoding still accepted by normalize_events."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from transit_data_pipeline_spark.catalog import (
    BROADCAST_TABLES,
    TABLES,
    table,
)

SF_SMALL = "/root/testdata/sf0.001"


def _mirror(spark):
    import bench

    return bench._mirror_fixtures(spark, SF_SMALL)


def test_mirror_preserves_rows_and_values(spark):
    mdir = _mirror(spark)
    for t in TABLES:
        src = table(spark, SF_SMALL, t)
        dst = table(spark, mdir, t)
        assert sorted(src.columns) == sorted(dst.columns), t
        assert src.count() == dst.count(), t
        # Order-insensitive value equality via two-sided EXCEPT ALL
        # on a canonical string projection (events' ts encoding may
        # legitimately differ on disk; the normalized event_time and
        # id columns are the value contract).
        cols = [c for c in src.columns if c != "ts"]
        a = src.select([F.col(c).cast("string").alias(c) for c in cols])
        b = dst.select([F.col(c).cast("string").alias(c) for c in cols])
        assert a.exceptAll(b).count() == 0, t
        assert b.exceptAll(a).count() == 0, t


def test_mirror_layout_parallelizes_facts(spark):
    import bench

    mdir = _mirror(spark)
    dp = spark.sparkContext.defaultParallelism
    for t in TABLES:
        out = os.path.join(mdir, f"{t}.parquet")
        assert os.path.isdir(out), t
        parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
        if t in BROADCAST_TABLES:
            assert len(parts) == 1, t
        else:
            src_bytes = os.path.getsize(os.path.join(SF_SMALL, f"{t}.parquet"))
            want = -(-src_bytes // bench.MIRROR_TARGET_FILE_BYTES)
            expect = max(bench.MIRROR_MIN_FILES, min(dp, want))
            assert len(parts) == expect, t
            # the spread gate must see >= target partitions natively
            df = table(spark, mdir, t)
            assert df.rdd.getNumPartitions() >= min(dp, 8), t


def test_mirror_cache_hits_second_call(spark):
    mdir = _mirror(spark)
    marker = os.path.join(mdir, "lineitem.parquet")
    mtime = os.path.getmtime(marker)
    assert _mirror(spark) == mdir
    assert os.path.getmtime(marker) == mtime  # not rewritten
