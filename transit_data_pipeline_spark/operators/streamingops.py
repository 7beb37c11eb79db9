"""Structured Streaming operators in the correctness gate (SURVEY §2.9).

The reference's incremental pipeline is cron + high-water-mark polling
(`airflow/dags/ml_pipeline_dag.py:105-128`); Spark-first it is a
file-source stream + windowed aggregation + foreachBatch sink, with
checkpointing replacing the high-water mark. These queries run the
REAL streaming engine (availableNow trigger drains the source, then
the query stops), so their results equal the batch equivalent and can
be oracle-checked exactly — not a batch simulation of streaming.

Scale notes: the file source lists incrementally (maxFilesPerTrigger
bounds a micro-batch), windowed-agg state is bounded by the watermark,
and the foreachBatch parquet append is partitioned by event date —
the same layout the batch warehouse writes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import normalize_events, read_events_raw
from ..functions import numeric as N
from .registry import register

SQL_EVENT_TIME = "make_timestamp(epoch_ns(ts) // 1000)"


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The file stream source lists a DIRECTORY; the driver table is a
    # single parquet file, so stage a symlink dir (testdata is
    # read-only — nothing is copied).
    src_dir = _scratch(sf_dir, "src")
    os.makedirs(src_dir, exist_ok=True)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        # Directory-layout table (the normal case outside the driver
        # fixtures): link each part file — the file source does not
        # recurse into non-partition subdirectories.
        for f in os.listdir(src):
            link = os.path.join(src_dir, f)
            if f.endswith(".parquet") and not os.path.exists(link):
                os.symlink(os.path.join(src, f), link)
    else:
        link = os.path.join(src_dir, "events.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
    # Streams declare the footer's schema, never a hardcoded one: a new
    # ``ts`` encoding must not feed misread raw values (round-3 bug).
    schema = read_events_raw(spark, sf_dir).schema
    return normalize_events(spark.readStream.schema(schema).parquet(src_dir))


#: Shuffle-partition count pinned for the micro-batch queries below.
#: Stateful streaming cost scales with the number of state-store
#: instances (one per shuffle partition per stateful operator — a
#: stream-stream join keeps FOUR stores per partition), and the
#: partition count is frozen into the checkpoint at first start, so it
#: must be sized to the keyspace, not inherited from the batch default:
#: the fixture streams carry ~150 users / ~5 types, where 32 partitions
#: are pure state-store overhead (measured 6.0 s → 2.4 s on the
#: stream-stream join at sf0.1). At 100 TB/day this constant is the
#: knob you RAISE (with a fresh checkpoint) to spread state.
STREAM_SHUFFLE_PARTITIONS = 8


class _stream_conf:
    """Scoped shuffle-partition override for one streaming query:
    the setting is read when the query STARTS, so only the stream
    plan is affected; the batch default is restored on exit even if
    the query fails."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        )

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)
        return False


def _scratch(sf_dir: str, tag: str) -> str:
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"tdps_stream_{tag}_{h}")


@register(
    "streaming_hourly_rollup",
    ops=("A1", "A3", "F5"),
    doc="Tumbling 1-hour windowed aggregate over a parquet file-source "
    "stream, availableNow trigger, complete-mode memory sink — the "
    "streaming twin of the hourly aggregate fact "
    "(`fact_dim_tables.sql:372-380`). Drained-stream results equal the "
    "batch GROUP BY exactly.",
    oracle=f"""
SELECT date_trunc('hour', {SQL_EVENT_TIME}) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {N.sql_dsum("value")} AS total_value
FROM events
GROUP BY 1, 2
""",
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            N.dsum("value").alias("total_value"),
        )
    )
    name = "tdps_stream_rollup"
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "streaming_feature_append",
    ops=("S3", "F5", "P9"),
    doc="foreachBatch incremental append (ref `update_features` "
    "`ml_pipeline_dag.py:129-283`): the stream drains into a "
    "date-partitioned parquet feature sink via checkpointed micro-"
    "batches (the high-water mark is the checkpoint), then the sink is "
    "read back and summarized — write→read round trip, exact oracle.",
    oracle=f"""
WITH feats AS (
  SELECT event_id, user_id, event_type,
         CAST(date_trunc('day', {SQL_EVENT_TIME}) AS TIMESTAMP) AS event_date,
         hour({SQL_EVENT_TIME}) AS hour_of_day,
         value
  FROM events
)
SELECT event_date, COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id) AS n_users,
       {N.sql_dsum("value")} AS total_value
FROM feats
GROUP BY event_date
""",
)
def streaming_feature_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = _scratch(sf_dir, "feat_sink")
    ckpt = _scratch(sf_dir, "feat_ckpt")
    # Fresh run each call: deterministic result, idempotent re-runs.
    for d in (sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        feats = batch.select(
            "event_id",
            "user_id",
            "event_type",
            F.to_date(F.date_trunc("day", "event_time")).alias("event_date"),
            F.hour("event_time").alias("hour_of_day"),
            "value",
        )
        # Cluster by the partition key before the partitioned append:
        # a multi-partition micro-batch otherwise emits one file per
        # (task × day) — a small-files explosion at any real scale.
        feats.repartition(F.col("event_date")).write.mode("append").partitionBy(
            "event_date"
        ).parquet(sink)

    with _stream_conf(spark):
        q = (
            _event_stream(spark, sf_dir)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = spark.read.parquet(sink)
    # The partition column round-trips as DATE; the oracle speaks
    # timestamps (like every date column in the driver tables).
    return back.groupBy(F.col("event_date").cast("timestamp").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        N.dsum("value").alias("total_value"),
    )


@register(
    "streaming_stateful_sessions",
    ops=("W3", "A11"),
    doc="Custom stateful streaming operator: gap-based sessionization "
    "(30-min inactivity) via applyInPandasWithState, one open-session "
    "state row per user. A session is EMITTED when a later event "
    "closes it; end-of-stream leaves each user's last session open — "
    "so the oracle is the batch sessionization minus every user's "
    "final session, which makes the stateful path exactly checkable. "
    "State is per-key and O(1); at scale the key space shards across "
    "executors and a watermark timeout would bound idle state.",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
    CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > 1800000000000
         OR LAG(epoch_ns(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
), sessions AS (
  SELECT user_id, event_id, ts_ns,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_seq
  FROM flagged
), per_sess AS (
  SELECT user_id, CAST(session_seq AS INT) AS session_seq,
    COUNT(*) AS n_events,
    (MAX(ts_ns) - MIN(ts_ns)) // 1000000000 AS duration_sec,
    MAX(CAST(session_seq AS INT)) OVER (PARTITION BY user_id) AS last_seq
  FROM sessions
  GROUP BY user_id, session_seq
)
SELECT user_id, session_seq, n_events, duration_sec
FROM per_sess WHERE session_seq < last_seq
""",
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ns = 1800 * 10**9

    def track(key, pdfs, state: GroupState):
        events = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        if state.exists:
            seq, start_ns, last_ns, n = state.get
        else:
            seq, start_ns, last_ns, n = 0, None, None, 0
        closed: list[tuple[int, int, int, int]] = []
        uid = key[0]
        for ts_ns in events["ts"].to_numpy():
            ts_ns = int(ts_ns)
            if last_ns is None:
                seq, start_ns, last_ns, n = seq + 1, ts_ns, ts_ns, 1
            elif ts_ns - last_ns > gap_ns:
                closed.append((uid, seq, n, (last_ns - start_ns) // 10**9))
                seq, start_ns, last_ns, n = seq + 1, ts_ns, ts_ns, 1
            else:
                last_ns, n = ts_ns, n + 1
        state.update((int(seq), int(start_ns), int(last_ns), int(n)))
        yield pd.DataFrame(
            closed, columns=["user_id", "session_seq", "n_events", "duration_sec"]
        )

    sessions = (
        _event_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, session_seq int, n_events long, duration_sec long",
            stateStructType="seq int, start_ns long, last_ns long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = "tdps_stream_sessions"
    with _stream_conf(spark):
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "streaming_dedup",
    ops=("S4", "A1", "A2"),
    doc="Streaming deduplication: the source dir stages TWO links to "
    "the events file, so every event arrives twice; watermarked "
    "dropDuplicates on event_id keeps exactly the first arrival "
    "(state per id, expired by the 2h watermark — bounded at any "
    "scale), micro-batches append to a parquet sink, and the read-"
    "back summary must equal the batch aggregate over the SINGLE "
    "copy — the oracle certifies the stream dropped every duplicate.",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {N.sql_dsum("value")} AS total_value
FROM events
GROUP BY 1
""",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _scratch(sf_dir, "dup_src")
    sink = _scratch(sf_dir, "dup_sink")
    ckpt = _scratch(sf_dir, "dup_ckpt")
    for d in (sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    events_src = os.path.join(sf_dir, "events.parquet")
    for copy in ("a", "b"):
        if os.path.isdir(events_src):
            # Directory-layout table: link each part file under a
            # per-copy name (the file source does not recurse).
            for f in os.listdir(events_src):
                link = os.path.join(src, f"events_{copy}_{f}")
                if f.endswith(".parquet") and not os.path.exists(link):
                    os.symlink(os.path.join(events_src, f), link)
        else:
            link = os.path.join(src, f"events_{copy}.parquet")
            if not os.path.exists(link):
                os.symlink(events_src, link)

    stream = (
        normalize_events(
            spark.readStream.schema(read_events_raw(spark, sf_dir).schema)
            .parquet(src)
        )
        .withWatermark("event_time", "2 hours")
        .dropDuplicates(["event_id"])
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.select("event_id", "user_id", "event_type", "value").write.mode(
            "append"
        ).parquet(sink)

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            N.dsum("value").alias("total_value"),
        )
    )


@register(
    "streaming_sliding_rate",
    ops=("A1", "A3", "F5"),
    doc="SLIDING-window streaming aggregate (1 h window, 15 min "
    "slide): each event lands in exactly 4 overlapping windows — the "
    "event-rate monitor pattern. availableNow drain ⇒ equals the "
    "batch equivalent; the oracle re-derives the 4 windows per event "
    "with a k∈0..3 offset grid. State is bounded by watermark × 4 "
    "overlap factor.",
    oracle=f"""
SELECT make_timestamp(
         (((epoch_ns(ts) // 1000) // 900000000) - k) * 900000000
       ) AS window_start,
       COUNT(*) AS n_events,
       {N.sql_dsum("value")} AS total_value
FROM events, generate_series(0, 3) t(k)
GROUP BY 1
""",
)
def streaming_sliding_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy(F.window("event_time", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            N.dsum("value").alias("total_value"),
        )
    )
    name = "tdps_stream_sliding"
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        F.col("w.start").alias("window_start"),
        "n_events",
        "total_value",
    )


@register(
    "streaming_late_data_drop",
    ops=("A1", "F5", "S4"),
    doc="Watermark late-data semantics, exactly oracle-checked: the "
    "events table is staged as three micro-batch files with pinned "
    "modification times (the file source processes oldest-mtime "
    "first) — [min+2h, max-1h) bulk, then [max-1h, max] (advances the "
    "watermark), then the pre-min+2h stragglers, which by then are "
    "hours behind the watermark and are dropped before aggregation. "
    "availableNow drains the three batches; append mode emits the "
    "windows closed by the final watermark (max event time - 1h). "
    "The comparison is made boundary-insensitive: a window whose end "
    "lands EXACTLY on the watermark is excluded on both sides (Spark "
    "result filtered, oracle uses strict <), so the check can't hinge "
    "on Spark's internal eviction predicate at the == boundary if a "
    "regenerated fixture's max event time is ever hour-aligned. The "
    "oracle re-derives the emitted set in SQL: bulk-batch rows only, "
    "window end strictly before the watermark — so a green row "
    "certifies the late-drop filter AND the append-mode emission "
    "rule, not just that rows flowed. State is bounded by the watermark at any "
    "scale; the staged-mtime trick is test plumbing, not semantics.",
    oracle=f"""
WITH ev AS (SELECT {SQL_EVENT_TIME} AS et FROM events),
b AS (
  SELECT min(et) + INTERVAL 2 HOUR AS cut,
         max(et) - INTERVAL 1 HOUR AS wm
  FROM ev
)
SELECT date_trunc('hour', et) AS window_start,
       COUNT(*) AS n_events
FROM ev, b
WHERE et >= cut AND et < wm
  AND date_trunc('hour', et) + INTERVAL 1 HOUR < wm
GROUP BY 1
""",
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import time as _time

    base = _scratch(sf_dir, "late")
    src = os.path.join(base, "src")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(src)

    # One scan, four consumers (bounds + three split writes): persist,
    # or the full table is re-read and re-normalized per consumer.
    ev = normalize_events(read_events_raw(spark, sf_dir)).persist()
    bounds = ev.selectExpr(
        "min(event_time) + interval 2 hours AS cut",
        "max(event_time) - interval 1 hours AS mid",
    ).first()
    splits = (
        ev.filter(
            (F.col("event_time") >= F.lit(bounds.cut))
            & (F.col("event_time") < F.lit(bounds.mid))
        ),
        ev.filter(F.col("event_time") >= F.lit(bounds.mid)),
        ev.filter(F.col("event_time") < F.lit(bounds.cut)),
    )
    now = _time.time()
    for i, part in enumerate(splits):
        out = os.path.join(base, f"part{i}")
        # coalesce(1): one tiny fixture file per micro-batch drop;
        # wrong on a real table (serializes the write) — fixture only.
        part.coalesce(1).write.mode("overwrite").parquet(out)
        link = os.path.join(src, f"{chr(97 + i)}.parquet")
        os.link(glob.glob(os.path.join(out, "*.parquet"))[0], link)
        # Oldest mtime first = batch order (FileStreamSource default).
        os.utime(link, (now - 300 + i * 100, now - 300 + i * 100))
    ev.unpersist()

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = "tdps_stream_late_drop"
    with _stream_conf(spark):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # Boundary-insensitive emission check: exclude a window whose end
    # equals the watermark (the oracle's strict < mirrors this), so the
    # result doesn't depend on Spark's eviction predicate at ==.
    return (
        spark.table(name)
        .filter(F.col("w.end") < F.lit(bounds.mid))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "streaming_stream_stream_join",
    ops=("J7", "A1", "A3"),
    doc="Watermarked stream-stream interval join: the click stream "
    "joins the purchase stream per user where the click lands inside "
    "[purchase - 1h, purchase] — both sides watermarked 2h, so the "
    "join state the engine buffers is bounded by watermark + "
    "interval, not by stream length (THE state-bound that makes "
    "stream-stream joins viable at 100 TB/day). Matched pairs drain "
    "append-mode into a memory sink; the batch rollup of the drained "
    "pairs equals the batch interval-join exactly.",
    oracle=f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, value,
         {SQL_EVENT_TIME} AS et
  FROM events
)
SELECT p.event_id AS purchase_id,
       p.user_id,
       p.value AS purchase_value,
       COUNT(*) AS n_clicks_1h
FROM ev p
JOIN ev c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.et BETWEEN p.et - INTERVAL 1 HOUR AND p.et
GROUP BY 1, 2, 3
""",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", "2 hours")
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("value").alias("purchase_value"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "2 hours")
    )
    pairs = purchases.join(
        clicks,
        F.expr(
            "c_user_id = p_user_id AND "
            "click_time BETWEEN purchase_time - INTERVAL 1 HOUR "
            "AND purchase_time"
        ),
    )
    name = "tdps_stream_ssjoin"
    with _stream_conf(spark):
        q = (
            pairs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # Batch rollup of the drained pair stream (one row per matched
    # click): counts per purchase.
    return (
        spark.table(name)
        .groupBy(
            "purchase_id",
            F.col("p_user_id").alias("user_id"),
            "purchase_value",
        )
        .agg(F.count(F.lit(1)).alias("n_clicks_1h"))
    )


@register(
    "streaming_session_window",
    ops=("W3", "A1", "A3"),
    doc="Native session-window streaming aggregation: "
    "session_window(event_time, '30 minutes') merges events while "
    "each arrives before the current session's close — the built-in "
    "dual of the applyInPandasWithState sessionizer (engine-managed "
    "state, no Python in the loop). Boundary semantics match the "
    "batch LAG version: session_window coalesces ADJACENT windows, "
    "so an event at exactly the session close still merges and only "
    "a gap STRICTLY greater than 30 min opens a new session "
    "(pinned by test_session_window_closes_at_exact_30min_gap); "
    "the oracle islands on gap > 30 min in microseconds.",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_us,
    CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
         OR LAG(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT user_id, ts_us,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS seq
  FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       COUNT(*) AS n_events,
       (MAX(ts_us) - MIN(ts_us)) // 1000000 AS duration_sec
FROM sess
GROUP BY user_id, seq
""",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy(
            "user_id",
            F.session_window("event_time", "30 minutes").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.expr("ts div 1000")).alias("session_start_us"),
            F.max(F.expr("ts div 1000")).alias("max_us"),
        )
    )
    name = "tdps_stream_sesswin"
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        "session_start_us",
        "n_events",
        F.expr("(max_us - session_start_us) div 1000000").alias("duration_sec"),
    )


@register(
    "streaming_topk_trending",
    ops=("W4", "A1", "F5"),
    doc="Streaming trending detector: tumbling 1-hour windowed counts "
    "per event type maintained by the engine (complete mode — the "
    "windowed-agg state is hours × types, watermark-free because the "
    "drain is a full snapshot), then the drained snapshot is ranked "
    "per hour and only the top-3 types survive, ties broken by type "
    "name — the 'what's trending right now' dashboard query. The "
    "rank runs BATCH-side on the drained aggregate (hours × types "
    "rows), so the streaming state never holds per-event data.",
    oracle=f"""
WITH hourly AS (
  SELECT strftime(date_trunc('hour', {SQL_EVENT_TIME}), '%Y-%m-%d %H:00')
           AS hour_bucket,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_bucket
              ORDER BY n_events DESC, event_type) AS rnk
  FROM hourly
)
SELECT hour_bucket, event_type, n_events, rnk AS trend_rank
FROM ranked WHERE rnk <= 3
""",
)
def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = "tdps_stream_trending"
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    hourly = spark.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("hour_bucket"),
        "event_type",
        "n_events",
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("hour_bucket").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
    )
    return hourly.select(
        "hour_bucket", "event_type", "n_events", rnk.alias("trend_rank")
    ).filter(F.col("trend_rank") <= 3)


@register(
    "streaming_cdc_upsert",
    ops=("S4", "S3", "W4", "A3"),
    doc="Streaming CDC upsert (keyed latest-wins materialization): "
    "each micro-batch folds into a per-user state store — read the "
    "current store, union the batch's per-user latest rows, re-pick "
    "the winner by (event_time, event_id), accumulate event counts, "
    "then ATOMICALLY swap the store directory (stage-write + rename, "
    "so a crashed batch can never publish a half-written store). The "
    "result equals the batch argmax over the whole stream regardless "
    "of how the source splits into micro-batches: latest-wins is "
    "associative and counts are additive. State is one row per key — "
    "the 100 TB knob is partitioning the store by key range.",
    oracle=f"""
WITH ranked AS (
  SELECT user_id, event_type, value,
    epoch_ns(ts) // 1000 AS ts_us, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn,
    COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id, event_type AS last_type, value AS last_value,
  CAST(ts_us AS BIGINT) AS last_ts_us,
  CAST(event_id AS BIGINT) AS last_event_id,
  CAST(n_events AS BIGINT) AS n_events
FROM ranked WHERE rn = 1
""",
)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    store = _scratch(sf_dir, "cdc_store")
    stage = _scratch(sf_dir, "cdc_stage")
    ckpt = _scratch(sf_dir, "cdc_ckpt")
    for d in (store, stage, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    state_schema = (
        "user_id bigint, last_type string, last_value double, "
        "last_ts_us bigint, last_event_id bigint, n_events bigint"
    )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts_ns"), F.desc("event_id")
        )
        incoming = (
            batch.select(
                "user_id",
                "event_type",
                "value",
                F.col("ts_ns"),
                "event_id",
            )
            .withColumn("rn", F.row_number().over(w))
            .withColumn(
                "n_new", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
            )
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias("last_type"),
                F.col("value").alias("last_value"),
                F.expr("ts_ns div 1000").cast("bigint").alias("last_ts_us"),
                F.col("event_id").cast("bigint").alias("last_event_id"),
                F.col("n_new").cast("bigint").alias("n_events"),
            )
        )
        spark_ = batch.sparkSession
        if os.path.isdir(store):
            cur = spark_.read.schema(state_schema).parquet(store)
            merged = cur.unionByName(incoming)
            # Cross-batch tiebreak mirrors the in-batch one: the
            # store keeps last_event_id so latest-wins stays a total
            # order even when two events share a timestamp.
            w2 = Window.partitionBy("user_id").orderBy(
                F.desc("last_ts_us"), F.desc("last_event_id")
            )
            nxt = (
                merged.withColumn("rn", F.row_number().over(w2))
                .withColumn(
                    "n_total",
                    F.sum("n_events").over(Window.partitionBy("user_id")),
                )
                .filter(F.col("rn") == 1)
                .select(
                    "user_id",
                    "last_type",
                    "last_value",
                    "last_ts_us",
                    "last_event_id",
                    F.col("n_total").alias("n_events"),
                )
            )
        else:
            nxt = incoming
        # Stage-write then atomic publish: the store is never half-new.
        shutil.rmtree(stage, ignore_errors=True)
        nxt.write.mode("overwrite").parquet(stage)
        old = store + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(store):
            os.rename(store, old)
        os.rename(stage, store)
        shutil.rmtree(old, ignore_errors=True)

    with _stream_conf(spark):
        q = (
            _event_stream(spark, sf_dir)
            .withColumn("ts_ns", F.col("ts"))
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.schema(state_schema).parquet(store)


@register(
    "streaming_backfill_bridge",
    ops=("U1", "A3", "F5", "S3"),
    doc="Kappa-architecture backfill bridge: history BEFORE an "
    "hour-aligned cutoff is served by a batch rollup over the "
    "warehouse, the tail FROM the cutoff by the live windowed "
    "stream, and the union equals the full batch rollup exactly — "
    "the correctness contract every backfill+stream unification "
    "must satisfy. The cutoff is hour-aligned so no window straddles "
    "the seam (each (hour, type) cell is owned by exactly one side; "
    "no partial-aggregate re-merge, no double rounding). Oracle: the "
    "seamless full-corpus rollup.",
    oracle=f"""
SELECT date_trunc('hour', {SQL_EVENT_TIME}) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {N.sql_dsum("value")} AS total_value
FROM events
GROUP BY 1, 2
""",
)
def streaming_backfill_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table as _table

    batch = _table(spark, sf_dir, "events")
    b = batch.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    # Hour-aligned cutoff at ~3/4 of the corpus span (ns arithmetic).
    cut = b.lo + (b.hi - b.lo) * 3 // 4
    cut -= cut % 3_600_000_000_000
    history = (
        batch.filter(F.col("ts") < cut)
        .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), N.dsum("value").alias("total_value"))
    )
    tail_agg = (
        _event_stream(spark, sf_dir)
        .filter(F.col("ts") >= cut)
        .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), N.dsum("value").alias("total_value"))
    )
    name = "tdps_backfill_bridge"
    with _stream_conf(spark):
        q = (
            tail_agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    pick = lambda df: df.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )
    return pick(history).unionByName(pick(spark.table(name)))


#: PSI drift threshold (industry convention: 0.2 = major shift) and
#: reference-period length in days from the stream's first event day.
PSI_DRIFT_THR = 0.2
PSI_REF_DAYS = 15


@register(
    "streaming_psi_drift",
    ops=("A1", "A9", "F5", "J10", "P5"),
    doc="Streaming drift monitor: the event stream drains through a "
    "tumbling 1-DAY windowed count per event type (real engine, "
    "availableNow), the first 15 days of the drained rollup freeze "
    "the reference type-mix, and every later day scores a "
    "Population Stability Index against it — Laplace-smoothed "
    "shares ((n+1)/(N+T)) so an absent type never produces ln(0), "
    "ln rounded to 4 dp and per-type contributions summed through "
    "DECIMAL for bitwise agreement. Day×type grid completed by a "
    "spine cross join, so silent type dropout is scored, not "
    "skipped. State is one day-window per type — watermark-free "
    "because availableNow drains a bounded source; production would "
    "add a 1-day watermark. The monitor every training-data intake "
    "runs: PSI > 0.2 pages a human before the mix shift reaches "
    "training.",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', {SQL_EVENT_TIME}) AS TIMESTAMP) AS d,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(d) + INTERVAL {PSI_REF_DAYS} DAY AS cutoff FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
tcount AS (SELECT COUNT(*) AS t FROM types),
ref AS (
  SELECT event_type, SUM(n) AS rn
  FROM daily, bounds b WHERE d < b.cutoff GROUP BY event_type
),
reftot AS (SELECT SUM(rn) AS rtot FROM ref),
score_days AS (
  SELECT DISTINCT d FROM daily, bounds b WHERE d >= b.cutoff
),
grid AS (
  SELECT sd.d, ty.event_type,
         COALESCE(da.n, 0) AS n
  FROM score_days sd CROSS JOIN types ty
  LEFT JOIN daily da ON da.d = sd.d AND da.event_type = ty.event_type
),
daytot AS (SELECT d, SUM(n) AS dtot FROM grid GROUP BY d),
contrib AS (
  SELECT g.d,
    ROUND(
      (CAST(g.n + 1 AS DOUBLE) / (dt.dtot + tc.t)
        - CAST(COALESCE(r.rn, 0) + 1 AS DOUBLE) / (rt.rtot + tc.t))
      * ROUND(LN((CAST(g.n + 1 AS DOUBLE) / (dt.dtot + tc.t))
                 / (CAST(COALESCE(r.rn, 0) + 1 AS DOUBLE)
                    / (rt.rtot + tc.t))), 4), 8) AS c
  FROM grid g
  JOIN daytot dt USING (d)
  LEFT JOIN ref r ON g.event_type = r.event_type
  CROSS JOIN reftot rt CROSS JOIN tcount tc
)
SELECT strftime(c.d, '%Y-%m-%d') AS score_day,
       CAST(dt.dtot AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(c.c AS DECIMAL(18,8))) AS DOUBLE), 6) AS psi,
       ROUND(CAST(SUM(CAST(c.c AS DECIMAL(18,8))) AS DOUBLE), 6)
         > {PSI_DRIFT_THR} AS drift_flag
FROM contrib c JOIN daytot dt USING (d)
GROUP BY c.d, dt.dtot
""",
)
def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy(F.window("event_time", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "tdps_stream_psi"
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    daily = spark.table(name).select(
        F.col("w.start").alias("d"), "event_type", "n"
    )
    bounds = daily.agg(
        F.date_add(F.min("d").cast("date"), PSI_REF_DAYS)
        .cast("timestamp")
        .alias("cutoff")
    )
    types = daily.select("event_type").distinct()
    tcount = types.agg(F.count(F.lit(1)).alias("t"))
    withb = daily.crossJoin(F.broadcast(bounds))
    # Rename the key before re-joining against grid (which shares the
    # `daily` lineage) — avoids Catalyst's conflicting-reference trap on
    # self-join-shaped plans.
    ref = (
        withb.filter(F.col("d") < F.col("cutoff"))
        .groupBy("event_type")
        .agg(F.sum("n").alias("rn"))
        .select(F.col("event_type").alias("ref_et"), "rn")
    )
    reftot = ref.agg(F.sum("rn").alias("rtot"))
    score_days = (
        withb.filter(F.col("d") >= F.col("cutoff")).select("d").distinct()
    )
    daily2 = daily.select(
        F.col("d").alias("dd"), F.col("event_type").alias("et"), "n"
    )
    grid = (
        score_days.crossJoin(F.broadcast(types))
        .join(
            daily2,
            (F.col("d") == F.col("dd")) & (F.col("event_type") == F.col("et")),
            "left",
        )
        .select("d", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    )
    daytot = grid.groupBy("d").agg(F.sum("n").alias("dtot"))
    j = (
        grid.join(daytot, "d")
        .join(
            F.broadcast(ref),
            F.col("event_type") == F.col("ref_et"),
            "left",
        )
        .crossJoin(F.broadcast(reftot))
        .crossJoin(F.broadcast(tcount))
    )
    p = (F.col("n") + 1).cast("double") / (F.col("dtot") + F.col("t"))
    qq = (F.coalesce(F.col("rn"), F.lit(0)) + 1).cast("double") / (
        F.col("rtot") + F.col("t")
    )
    contrib = j.select(
        "d",
        "dtot",
        F.round((p - qq) * F.round(F.log(p / qq), 4), 8).alias("c"),
    )
    psi = F.sum(F.col("c").cast("decimal(18,8)")).cast("double")
    return contrib.groupBy("d", "dtot").agg(
        F.round(psi, 6).alias("psi"),
        (F.round(psi, 6) > PSI_DRIFT_THR).alias("drift_flag"),
    ).select(
        F.date_format("d", "yyyy-MM-dd").alias("score_day"),
        F.col("dtot").alias("n_events"),
        "psi",
        "drift_flag",
    )


@register(
    "streaming_checkpoint_resume",
    ops=("S3", "S4", "A1", "A3"),
    doc="Exactly-once recovery across a STOPPED and RESUMED stream: "
    "the event feed is staged in two arrival phases; phase 1 drains "
    "file 1 through a checkpointed parquet-append sink, the query "
    "stops, file 2 arrives, and a NEW query started on the SAME "
    "checkpoint drains only the unseen file (the source log "
    "remembers progress — the Spark-native replacement for the "
    "reference's cron high-water mark, airflow/dags/ml_pipeline_"
    "dag.py:105-128). If recovery double-read phase 1 or lost "
    "phase 2, the per-type totals would diverge from the batch "
    "oracle. Scratch dirs are wiped per invocation, so the check "
    "is a fresh end-to-end recovery drill every run; state is the "
    "source file log only — O(files), not O(rows).",
    oracle=f"""
SELECT event_type,
  COUNT(*) AS n_events,
  {N.sql_dsum("value")} AS total_value
FROM events
GROUP BY 1
""",
)
def streaming_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    src_dir = _scratch(sf_dir, "resume_src")
    ckpt = _scratch(sf_dir, "resume_ckpt")
    sink = _scratch(sf_dir, "resume_sink")
    for d in (src_dir, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src_dir, exist_ok=True)
    raw = read_events_raw(spark, sf_dir)
    # Stage phase files from the RAW frame so the on-disk encoding
    # matches whatever the fixture uses; the stream schema is derived
    # from the staged footer (see _event_stream).
    # coalesce(1) on these phase files: fixture-scale staging only —
    # a production backfill keeps source partitioning.
    raw.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src_dir, "phase1")
    )
    schema = spark.read.parquet(os.path.join(src_dir, "phase1")).schema

    def drain():
        stream = normalize_events(
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        ).select("event_id", "event_type", "value", "event_time")
        with _stream_conf(spark):
            q = (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    drain()  # phase 1: first file only
    raw.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src_dir, "phase2")
    )
    drain()  # phase 2: NEW query, same checkpoint — reads only phase 2
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            N.dsum("value").alias("total_value"),
        )
    )
