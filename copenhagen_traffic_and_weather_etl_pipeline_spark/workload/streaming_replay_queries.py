"""Batch-replay driver proofs for the Structured Streaming surface
(SURVEY.md §2.8 / O4).

The reference's own architecture IS micro-batch streaming (an hourly
ingestion tick plus a +5-minute snapshot refresh, README.md:79-84);
`streaming/` re-expresses it as Structured Streaming jobs. Those jobs
have pytest evidence but the correctness driver's oracle is batch
DuckDB — so these two entries run the REAL streaming engine end-to-end
(file source -> watermark -> stateful operator -> parquet sink, drained
with Trigger.AvailableNow over multiple micro-batches) and return the
sink as a batch DataFrame the driver can hash against a DuckDB oracle.
The pattern follows extension_queries.dedup_incremental_replay, upgraded
from batch-simulated ticks to the actual streaming runtime.

Why the final frame is deterministic and equal to the batch closure:

- Ticks are a TIME split (first half / second half of the event-time
  span), matching real arrival order, so no tick-2 row is ever below
  the watermark left by tick 1.
- Session windows: watermark delay (24 h) >= session gap (12 h), so a
  session emitted by an earlier batch can never be extended by a later
  tick (any tick-2 event is > gap away from every already-closed
  session); a far-future sentinel row plus AvailableNow's final no-data
  micro-batch pushes the watermark past every real session and flushes
  the state store, making the emitted set exactly the batch gap
  sessionization. (Verified empirically: an event at exactly
  ``last_ts + gap`` EXTENDS the session — split is strictly ``> gap`` —
  and ``session_end = last_ts + gap``.)
- Stream-stream inner joins emit a pair in the micro-batch where its
  second side arrives, so the drained output is split-independent; the
  watermark delay (2 h) >= join tolerance (1 h) keeps straddling state
  alive across the tick boundary.

At 100 TB the same topology holds: the staged JSON files become Kafka
partitions, the parquet sink a date-partitioned table, and the
watermark — not the corpus — sizes the state store. The replay knobs
(12 h gap, 1 h tolerance) are scaled to the driver testdata's density
(~1 event/user/10 h); production gap/tolerance in streaming/sessions.py
stays 30 min.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load, register

_US = 1_000_000
# Single source of truth for the session gap: the Spark session_window
# string, the oracle's session_end interval, and the watermark guard all
# derive from _GAP_HOURS so editing one cannot silently desync the rest.
_GAP_HOURS = 12
_GAP = f"{_GAP_HOURS} hours"
_GAP_US = _GAP_HOURS * 3600 * _US
_SESS_WM_HOURS = 24
_SESS_WM = f"{_SESS_WM_HOURS} hours"
# Correctness invariant (module docstring): a session emitted by an
# earlier micro-batch must never be extendable by a later tick.
assert _SESS_WM_HOURS >= _GAP_HOURS, "watermark delay must cover the session gap"
_TOL = "1 hour"
_JOIN_WM = "2 hours"  # must stay >= _TOL

# Ticks serialize event time as unix micros (long) — an exact JSON
# round-trip; ISO strings would truncate to millis.
_TICK_SCHEMA = "event_id long, ts_us long, user_id long, event_type string, value double"


def _stage_ticks(spark: SparkSession, sf_dir: str, sentinel: bool) -> tuple[str, str, str]:
    """Write the events table as two time-split JSON ticks (plus an
    optional far-future sentinel row) into a fresh temp dir; returns
    (input_dir, output_dir, checkpoint_dir).

    The split/write runs distributed as ONE job: `partitionBy("tick")`
    splits both halves in a single scan (round 7 staged each half with
    its own coalesce(1) write = two scans + two jobs; staging was ~40%
    of the replay floor). Each tick directory gets exactly one part
    file per writing task that holds that tick value — `repartition(2,
    "tick")` bounds that at one — and the file source needs one file
    per tick for `maxFilesPerTrigger=1` to mean one micro-batch per
    tick. The sole driver-side collect is the 1-row min/max bounds —
    model-sized, like the k-means centroids. File mtimes are stamped in
    tick order because the file source processes oldest-first; the
    final result is split-order-independent anyway (module docstring),
    this just keeps the replay faithful.
    """
    base = tempfile.mkdtemp(prefix="cph_stream_replay_")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)

    # Ingress guard: Spark's event-time watermark initializes at epoch
    # 0 and never goes below it, so a pre-1970 timestamp is born-late
    # and silently dropped INSIDE the stateful operator, and rows at
    # EXACTLY epoch 0 sit on the initial-watermark boundary — the
    # session aggregation keeps them but the stream-stream join's
    # state-retention predicate drops them on one side (both measured
    # on the eraboost stress shape; the batch oracle kept all of
    # them). Production streaming ingests quarantine ts <= epoch
    # rows BEFORE the watermark — epoch-0 is the classic unset-clock
    # sentinel — and both oracles carry the identical predicate.
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    ).filter(F.col("ts_us") > 0)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    cutoff = (lo + hi) // 2

    now = time.time()
    stage = os.path.join(base, "stage")
    (
        ev.withColumn(
            "tick", F.when(F.col("ts_us") < cutoff, F.lit(1)).otherwise(F.lit(2))
        )
        .repartition(2, "tick")
        .write.partitionBy("tick")
        .json(stage)
    )
    for i in (1, 2):
        tick_dir = os.path.join(stage, f"tick={i}")
        dst = os.path.join(in_dir, f"{i:02d}.json")
        # A degenerate corpus (every event at one timestamp — the
        # tinyboost class) leaves tick 1 empty; partitionBy writes no
        # directory for an absent value, so stage an empty tick file
        # (a 0-row micro-batch, same as the old per-tick empty write).
        if os.path.isdir(tick_dir):
            part = next(f for f in os.listdir(tick_dir) if f.startswith("part-"))
            shutil.move(os.path.join(tick_dir, part), dst)
        else:
            open(dst, "w").close()
        os.utime(dst, (now - 60 + i * 10, now - 60 + i * 10))
    if sentinel:
        # One fake far-future row (user_id -1, filtered out of the
        # result) advances the watermark past every real session so the
        # final no-data micro-batch flushes the state store. Appended
        # to the LAST tick's file rather than staged as its own tick:
        # the watermark update happens at micro-batch end either way,
        # and the no-data batch does the flush — one fewer stateful
        # micro-batch (32 fewer state-store tasks at the old pinning).
        tick2 = os.path.join(in_dir, "02.json")
        with open(tick2, "rb") as f:
            f.seek(-1, os.SEEK_END)
            ends_nl = f.read(1) == b"\n"
        with open(tick2, "a") as f:
            f.write(
                '%s{"event_id": -1, "ts_us": %d, "user_id": -1, '
                '"event_type": "sentinel", "value": 0.0}\n'
                % ("" if ends_nl else "\n", hi + 60 * 86400 * _US)
            )
    return in_dir, os.path.join(base, "out"), os.path.join(base, "ckpt")


def _read_tick_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(_TICK_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # one micro-batch per tick
        .json(in_dir)
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )


_REPLAY_STATE_PARTITIONS = 8


def _drain(stream_df: DataFrame, out_dir: str, ckpt_dir: str):
    """Run the stream to completion; returns the (terminated) query
    handle so tests can assert engine-level evidence (micro-batch count,
    state-store row counts) from ``recentProgress``.

    The stateful operators' partition count is fixed from
    ``spark.sql.shuffle.partitions`` at query start, and EVERY
    micro-batch then runs that many state-store tasks. The replay's
    state is testdata-sized, so a session at Spark's default 200
    multiplies pure task-launch overhead: measured at sf0.01, 200
    partitions took 24 s (sessions) / 43 s (join) vs 13 s each at 32,
    and 8 shaves the floor further (measured in commit 01c3c9f) while
    still exercising multi-partition state merge. Pin the replay to
    min(session, 8) for its own run and restore the session conf after —
    a production streaming job sizes state partitions to its cluster;
    this pins only the replay harness.
    """
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key, None)
    try:
        pinned = min(int(old), _REPLAY_STATE_PARTITIONS) if old and old.isdigit() else _REPLAY_STATE_PARTITIONS
        spark.conf.set(key, str(pinned))
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming replay did not drain within 600s")
    finally:
        if old is not None:
            spark.conf.set(key, old)
    return q


def _session_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """The session-window streaming topology the replay drains."""
    return (
        _read_tick_stream(spark, in_dir)
        .withWatermark("ts", _SESS_WM)
        .groupBy(F.session_window("ts", _GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _join_streams(spark: SparkSession, in_dir: str) -> DataFrame:
    """The stream-stream interval-join topology the replay drains."""
    raw = _read_tick_stream(spark, in_dir)
    views = (
        raw.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", _JOIN_WM)
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 6).alias("purchase_value"),
        )
        .withWatermark("purchase_ts", _JOIN_WM)
    )
    return views.join(
        purchases,
        (F.col("v_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.expr(f"view_ts + INTERVAL {_TOL}")),
        "inner",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def _cleanup_staging(base: str) -> None:
    """Drop everything under the replay temp base except the parquet
    sink (what the returned DataFrame lazily reads): staged ticks,
    checkpoint, AND the stage1/stage2 write dirs the tick split leaves
    behind. The sink itself is registered for atexit removal — bench and
    the driver invoke these replays repeatedly, and before this the
    mkdtemp bases accumulated roughly one events-table copy per call."""
    for child in os.listdir(base):
        if child != "out":
            shutil.rmtree(os.path.join(base, child), ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)


@register(
    "sessionize_stream_replay",
    oracle=f"""
WITH x AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsm,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
  WHERE epoch_us(CAST(ts AS TIMESTAMP)) > 0
), f AS (
  SELECT user_id, event_id, tsm,
         CASE WHEN us - lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > {_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id)
), s AS (
  SELECT user_id, tsm,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsm, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
  FROM f
)
SELECT user_id, min(tsm) AS session_start,
       max(tsm) + INTERVAL {_GAP_HOURS} HOUR AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sidx
""",
    doc="REAL Structured Streaming session_window run (streaming/"
    "sessions.py semantics): events stream in as two time-split "
    "micro-batches (a far-future sentinel row rides the second tick "
    "to advance the watermark; the final no-data micro-batch flushes "
    "state); native gap sessionization "
    "merges cross-batch state in the state store; the drained parquet "
    "sink must equal DuckDB's batch gaps-and-islands closure "
    "(session_end = last event + gap; an event at exactly the gap "
    "boundary extends the session)",
    tags=["streaming", "session", "replay"],
)
def sessionize_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    in_dir, out_dir, ckpt = _stage_ticks(spark, sf_dir, sentinel=True)
    try:
        _drain(_session_stream(spark, in_dir), out_dir, ckpt)
    finally:
        _cleanup_staging(os.path.dirname(in_dir))
    return spark.read.parquet(out_dir).filter(F.col("user_id") >= 0)


@register(
    "stream_join_replay",
    oracle="""
SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
       CAST(a.ts AS TIMESTAMP) AS view_ts,
       CAST(b.ts AS TIMESTAMP) AS purchase_ts,
       round(b.value, 6) AS purchase_value
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'view' AND b.event_type = 'purchase'
  AND epoch_us(CAST(a.ts AS TIMESTAMP)) > 0
  AND epoch_us(CAST(b.ts AS TIMESTAMP)) > 0
  AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
  AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR
""",
    doc="REAL stream-stream interval join (streaming/__init__.py "
    "join_traffic_weather_streams shape): views and purchases from the "
    "same event stream pair up per user when the purchase lands within "
    "1 h of the view; both sides watermarked, event-time range bound in "
    "the join condition expires state; inner-join emission is "
    "per-match, so the drained sink equals the batch interval join",
    tags=["streaming", "join", "replay"],
)
def stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    in_dir, out_dir, ckpt = _stage_ticks(spark, sf_dir, sentinel=False)
    try:
        _drain(_join_streams(spark, in_dir), out_dir, ckpt)
    finally:
        _cleanup_staging(os.path.dirname(in_dir))
    return spark.read.parquet(out_dir)
