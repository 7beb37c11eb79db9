"""Session and catalog-read robustness: the static listener-bus
truncation conf is checked on every session handed out; the package zip
shipped to executors is removed at exit; a table path's record (schema,
input size, ``spread`` width) is made once, warning once when the path
cannot be stat-ed, so later reads launch no job, and made afresh when
the table is rewritten."""

from __future__ import annotations

import os
import subprocess
import sys
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


def _write(path, **columns):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), str(path))


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under its own job group; returns (result, jobs run),
    counted once the listener bus has delivered every job start."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_source_bytes_memoized(spark, tmp_path, monkeypatch):
    """A path's on-disk bytes are walked, and its scan splits planned,
    once: a later ``spread`` read reuses the record's width."""
    from transit_data_pipeline_spark import catalog

    table = tmp_path / "orders.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", o_orderkey=list(range(10)))
    _write(table / "part-1.parquet", o_orderkey=list(range(10, 15)))
    first = catalog.table(spark, str(tmp_path), "orders", spread=True)
    nbytes = sum(f.stat().st_size for f in table.iterdir())
    assert catalog._SOURCES[str(table)].nbytes == nbytes

    def no_walk(*_a, **_k):
        raise AssertionError("walked or planned the table twice")

    monkeypatch.setattr(catalog.os, "walk", no_walk)
    monkeypatch.setattr(type(first), "rdd", property(no_walk))
    again = catalog.table(spark, str(tmp_path), "orders", spread=True)
    plan = again._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("Repartition 8, true")
    monkeypatch.undo()
    assert first.rdd.getNumPartitions() == again.rdd.getNumPartitions() == 8


def test_source_bytes_unstatable_path_warns_once(spark, tmp_path):
    """A path Spark can read but ``os`` cannot stat (a URI) is sized as
    huge, with one warning for its one record."""
    from transit_data_pipeline_spark import catalog

    _write(tmp_path / "nation.parquet", n_nationkey=[0, 1])
    uri = f"file://{tmp_path}"
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        first = catalog.table(spark, uri, "nation", spread=True).count()
        second = catalog.table(spark, uri, "nation", spread=True).count()
    assert first == second == 2
    assert catalog._SOURCES[f"{uri}/nation.parquet"].nbytes == 1 << 60
    assert [str(w.message)[:11] for w in caught if w.category is RuntimeWarning] == [
        "cannot stat"
    ]


def test_second_read_launches_no_job(spark, tmp_path):
    """The first read of a path infers its schema (at most one job);
    later reads, spread or not, events' raw schema included, run none
    and plan the same scan."""
    from transit_data_pipeline_spark import catalog

    d = str(tmp_path)
    _write(tmp_path / "customer.parquet", c_custkey=[1, 2, 3])
    _write(tmp_path / "events.parquet", event_id=[1], ts=[10**18])
    cold, n_cold = _jobs_in_group(
        spark, "catalog-cold", lambda: catalog.table(spark, d, "customer")
    )
    assert n_cold <= 1
    _, n_events = _jobs_in_group(
        spark, "catalog-cold-events", lambda: catalog.read_events_raw(spark, d)
    )
    assert n_events <= 1

    def warm():
        return (
            catalog.table(spark, d, "customer"),
            catalog.table(spark, d, "customer", spread=True),
            catalog.read_events_raw(spark, d).schema,
            catalog.table(spark, d, "events", spread=True),
        )

    (again, spread, raw, events), n_warm = _jobs_in_group(spark, "catalog-warm", warm)
    assert n_warm == 0
    assert again.schema == cold.schema
    assert raw.fieldNames() == ["event_id", "ts"]
    assert events.columns == ["event_id", "ts", "event_time"]
    assert sorted(again.toPandas()["c_custkey"]) == [1, 2, 3]


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    from transit_data_pipeline_spark import catalog

    path = tmp_path / "part.parquet"
    _write(path, p_partkey=[1, 2])
    assert catalog.table(spark, str(tmp_path), "part").columns == ["p_partkey"]
    _write(path, p_partkey=[3, 4, 5], p_size=[7, 8, 9])
    df = catalog.table(spark, str(tmp_path), "part")
    assert df.columns == ["p_partkey", "p_size"]
    assert sorted(map(tuple, df.collect())) == [(3, 7), (4, 8), (5, 9)]


def test_process_removes_its_package_zip_at_exit(tmp_path):
    """``get_spark`` ships the package to executors as a per-process zip
    in the temp dir; the process removes it when it exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os, tempfile\n"
        "from transit_data_pipeline_spark.session import get_spark\n"
        "spark = get_spark('zip-cleanup')\n"
        "zpath = os.path.join(tempfile.gettempdir(),"
        " f'transit_data_pipeline_spark_{os.getpid()}.zip')\n"
        "print(zpath, os.path.exists(zpath))\n"
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1", "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    zpath, existed = out.stdout.split()[-2:]
    assert existed == "True" and os.path.dirname(zpath) == str(tmp_path)
    assert not os.path.exists(zpath)
