"""Session-conf and catalog-read robustness: the static listener-bus
truncation conf is checked on every session handed out, and the
``spread`` width's input-size walk runs once per path, warning once
when the path cannot be stat-ed."""

from __future__ import annotations

import warnings


class _Conf:
    def __init__(self, values: dict):
        self._values = values

    def get(self, key, default=None):
        return self._values.get(key, default)


class _Session:
    """Just enough of a SparkSession for the conf check."""

    def __init__(self, truncate_length=None):
        conf = {} if truncate_length is None else {
            "spark.sql.event.truncate.length": truncate_length
        }
        self.conf = _Conf(conf)


def _bounded(value) -> bool:
    from transit_data_pipeline_spark.session import events_bounded

    return events_bounded(_Session(value))


def test_events_bounded_with_and_without_conf():
    assert _bounded("2000")
    assert _bounded("500")
    assert not _bounded(None)
    assert not _bounded("2147483647")  # Spark's unbounded default
    assert not _bounded("2k")


def test_live_session_is_bounded(spark):
    from transit_data_pipeline_spark.session import events_bounded

    assert events_bounded(spark)


def test_unbounded_session_warns_once():
    from transit_data_pipeline_spark import session

    fake = _Session()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session._warn_if_unbounded(fake)
        session._warn_if_unbounded(fake)
    assert [str(w.message).split(" ")[0] for w in caught] == [
        "spark.sql.event.truncate.length"
    ]


def test_bounded_session_does_not_warn():
    from transit_data_pipeline_spark import session

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session._warn_if_unbounded(_Session("2000"))
    assert not caught


def test_source_bytes_memoized(tmp_path, monkeypatch):
    from transit_data_pipeline_spark import catalog

    table = tmp_path / "t.parquet"
    table.mkdir()
    (table / "part-0").write_bytes(b"x" * 10)
    (table / "part-1").write_bytes(b"y" * 5)
    assert catalog._source_bytes(str(tmp_path), "t") == 15

    def no_walk(*_a, **_k):
        raise AssertionError("walked the table twice")

    monkeypatch.setattr(catalog.os, "walk", no_walk)
    assert catalog._source_bytes(str(tmp_path), "t") == 15


def test_source_bytes_unstatable_path_warns_once(tmp_path):
    from transit_data_pipeline_spark import catalog

    missing = str(tmp_path / "absent")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        first = catalog._source_bytes(missing, "lineitem")
        second = catalog._source_bytes(missing, "lineitem")
    assert first == second == 1 << 60
    assert len(caught) == 1 and "cannot stat" in str(caught[0].message)
