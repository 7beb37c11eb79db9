"""Fixture-dtype canary (VERDICT r3 item 3).

The driver regenerates /root/testdata between rounds and has already
changed the on-disk encoding of ``events.ts`` once (TIMESTAMP(NANOS) →
timestamp[us]), which silently corrupted three streaming answers. These
tests pin (a) the raw footer dtypes the loaders claim to support and
(b) the normalized in-Spark contract every operator depends on, so the
next regeneration fails one cheap test loudly instead of producing
wrong rows.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pa_pq
import pytest
from pyspark.sql import types as T

from transit_data_pipeline_spark import catalog
from transit_data_pipeline_spark.catalog import TABLES, read_events_raw, table
from transit_data_pipeline_spark.session import configure

#: Raw parquet footer dtypes (pyarrow spelling) each loader supports.
#: events.ts intentionally allows every encoding the driver has shipped.
_SUPPORTED_TS = {"timestamp[us]", "timestamp[ns]", "int64"}

#: Key columns whose footer dtype the operator suite assumes. Not a full
#: schema snapshot — just the columns where a silent encoding change
#: would alter answers rather than erroring.
_PINNED = {
    "events": {"event_id": {"int64"}, "ts": _SUPPORTED_TS, "value": {"double"}},
    "orders": {
        "o_orderkey": {"int64"},
        "o_totalprice": {"double"},
        # date columns ship as timestamps; oracles CAST both sides to
        # TIMESTAMP — a switch to date32 would silently change
        # date_trunc/EXTRACT results
        "o_orderdate": {"timestamp[us]", "timestamp[ns]"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_quantity": {"double"},
        "l_linenumber": {"int32", "int64"},
        "l_shipdate": {"timestamp[us]", "timestamp[ns]"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
        "lang": {"string", "large_string"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {
            "list<item: float>",
            "list<element: float>",
            "list<item: double>",
        },
    },
}


def _footer_schema(sf_dir: str, name: str):
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        part = next(
            os.path.join(path, f) for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
        return pa_pq.read_schema(part)
    return pa_pq.read_schema(path)


@pytest.mark.parametrize("name", sorted(_PINNED))
def test_footer_dtypes_supported(sf_dir, name):
    schema = _footer_schema(sf_dir, name)
    for col, allowed in _PINNED[name].items():
        actual = str(schema.field(col).type)
        assert actual in allowed, (
            f"{name}.{col} regenerated as {actual!r}, loaders support "
            f"{sorted(allowed)} — update catalog.normalize_events / oracles"
        )


def test_all_tables_exist(sf_dir):
    for name in TABLES:
        assert os.path.exists(os.path.join(sf_dir, f"{name}.parquet")), name


def test_events_normalized_contract(spark, sf_dir):
    """Every operator assumes: ts = int64 epoch NANOSECONDS,
    event_time = TimestampType, regardless of the on-disk encoding."""
    df = table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.LongType)
    assert isinstance(df.schema["event_time"].dataType, T.TimestampType)
    row = df.selectExpr(
        "min(ts) AS lo",
        "max(ts) AS hi",
        "sum(cast(unix_micros(event_time) <> ts div 1000 AS int)) AS mismatched",
    ).first()
    # Plausible epoch-nanos range (2001-01-01 .. 2286) — catches
    # micros-misread-as-nanos (lands in 1970) and seconds/millis drift.
    assert row.lo > 10**18, f"ts={row.lo} is not epoch nanoseconds"
    assert row.hi < 10**19
    assert row.mismatched == 0, "event_time does not equal ts at micro precision"


def test_streaming_schema_matches_batch(spark, sf_dir):
    """The stream's declared schema must be derived from the actual
    footer, never hardcoded — the r3 silent-corruption regression."""
    batch = table(spark, sf_dir, "events").drop("event_time")
    raw = read_events_raw(spark, sf_dir).schema
    assert [f.name for f in raw.fields] == [f.name for f in batch.schema.fields]


def test_events_read_leaves_session_conf_unchanged(spark, sf_dir):
    """Reading events changes no session setting: the nanos-as-long
    conf it needs is set once by configure() (session.RUNTIME_CONF),
    not by every read."""
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    configure(spark)
    before = spark.conf.getAll
    read_events_raw(spark, sf_dir).schema
    table(spark, sf_dir, "events").schema
    assert spark.conf.getAll == before


def test_nanos_events_read_cold_and_memoized(spark, sf_dir, tmp_path):
    """The TIMESTAMP(NANOS) encoding of ``events.ts`` (read as int64 via
    ``nanosAsLong``) gives the contract on the path's first, inferring
    read and on the reads that reuse its recorded schema, with the same
    rows as the timestamp[us] fixture."""
    import pyarrow as pa

    us = pa_pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = us.schema.get_field_index("ts")
    ns = us.set_column(i, "ts", us.column("ts").cast(pa.timestamp("ns")))
    pa_pq.write_table(
        ns, str(tmp_path / "events.parquet"), version="2.6", coerce_timestamps=None
    )
    assert str(pa_pq.read_schema(tmp_path / "events.parquet").field("ts").type) == (
        "timestamp[ns]"
    )
    cols = ["event_id", "ts", "event_time", "user_id", "event_type", "value", "props"]
    want = sorted(map(tuple, table(spark, sf_dir, "events").select(cols).collect()))
    assert str(tmp_path / "events.parquet") not in catalog._SOURCES
    for _ in ("cold", "memoized"):
        df = table(spark, str(tmp_path), "events")
        raw = read_events_raw(spark, str(tmp_path))
        assert isinstance(raw.schema["ts"].dataType, T.LongType)
        assert isinstance(df.schema["ts"].dataType, T.LongType)
        assert isinstance(df.schema["event_time"].dataType, T.TimestampType)
        assert sorted(map(tuple, df.select(cols).collect())) == want
