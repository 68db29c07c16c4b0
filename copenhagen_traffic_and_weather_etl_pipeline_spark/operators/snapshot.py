"""The flagship snapshot query (bigquery_scheduled_query.sql:1-17):

    SELECT * FROM traffic INNER JOIN weather
    USING (date, time, geo_name, original_coordinates)
    WHERE DATETIME(PARSE_DATE(date), PARSE_TIME(time)) =
          (SELECT MAX(...) FROM traffic)

Covers J1 (multi-key USING inner join), J2 (uncorrelated scalar
subquery), F0 (latest-snapshot filter), A1 (global MAX), D1-D3 (date/time
parse + compose).

Scale notes (100 TB): the scalar-subquery MAX is a partial+final agg over
one column, but over the whole history. The USING join shuffles both sides
on the 4-key tuple; ``latest_snapshot_join`` filters each side first —
semantically identical because the filter is on join keys — so the join
reads one snapshot, yet the MAX still scans every row ever written. The
hourly refresh (``streaming.ingest_and_refresh``) avoids that scan: it
knows the stamp its batch just appended and calls
``latest_snapshot_since``, which reads one date partition and, through
parquet min/max statistics on ``time``, one tick's files of it. The full
``latest_snapshot_join`` stays the path for a tick that cannot vouch for
its stamp (no traffic row landed, or some were quarantined).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions import compose_event_ts
from ..schemas import JOIN_KEYS


def using_join(
    left: DataFrame, right: DataFrame, keys: list[str] | None = None, how: str = "inner"
) -> DataFrame:
    """J1: SQL USING-join semantics — list-form ``on`` coalesces the key
    columns into single outputs, exactly like BigQuery's USING
    (bigquery_scheduled_query.sql:6)."""
    return left.join(right, on=keys or JOIN_KEYS, how=how)


def latest_event_ts(df: DataFrame) -> DataFrame:
    """J2+A1: the uncorrelated scalar subquery
    ``SELECT MAX(DATETIME(PARSE_DATE(date), PARSE_TIME(time)))`` as a
    1-row DataFrame (partial+final max agg, no shuffle of data rows)."""
    return df.select(
        F.max(compose_event_ts("date", "time")).alias("max_event_ts")
    )


def latest_snapshot_join(
    traffic: DataFrame, weather: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """The full flagship query, filter pushed BELOW the join.

    The reference filters after the join; because the predicate only
    touches join keys (date, time), filtering both inputs first is
    semantically identical and cuts the join input from full-table to
    one snapshot — the difference between shuffling 100 TB and
    shuffling one hour's partition. The max is computed once and
    broadcast as a literal via a cross-join of the 1-row aggregate
    (Catalyst plans it as BroadcastNestedLoopJoin over 1 row).
    """
    keys = keys or JOIN_KEYS
    max_ts = latest_event_ts(traffic)
    ts = compose_event_ts("date", "time")
    t = traffic.crossJoin(F.broadcast(max_ts)).filter(
        ts == F.col("max_event_ts")
    ).drop("max_event_ts")
    # Weather side: same key-only predicate (inner join makes this safe).
    w = weather.crossJoin(F.broadcast(max_ts)).filter(
        ts == F.col("max_event_ts")
    ).drop("max_event_ts")
    return using_join(t, w, keys)


def latest_snapshot_since(
    traffic: DataFrame,
    weather: DataFrame,
    stamp: tuple[str, str],
    keys: list[str] | None = None,
) -> DataFrame:
    """The flagship query when ``stamp`` — a (``date``, ``time``) pair
    of the pipeline's ``DATE_FMT``/``TIME_FMT`` strings — is known to
    be present in ``traffic``: the snapshot cannot be older than it, so
    only stamps >= ``stamp`` are read. Equal to
    ``latest_snapshot_join(traffic, weather)`` under that precondition.

    One ``LIMIT 1`` probe asks whether any traffic row is newer, pruned
    to ``date >= stamp.date`` (static partition pruning) with ``time``
    pushed down for parquet row-group skipping:

    - none (the tick just appended the newest stamp): both sides are
      filtered by the literals ``date = d AND time = t`` and joined —
      one partition, the files of one tick, a static broadcast join;
    - some (a late or replayed batch): the flagship join runs over both
      sides pruned to stamps >= ``stamp``, so the snapshot never moves
      backwards.

    The probe is one job: ``coalesce(1)`` hands the pruned files to one
    task, where ``limit``'s own scale-up would launch a job per wave of
    files; with ``time`` pushed down, that task reads little more than
    the footers of one day's files.

    The canonical zero-padded strings sort like the times they stamp,
    which is what makes string predicates here agree with
    ``compose_event_ts`` in ``latest_snapshot_join``.
    """
    d, t = F.lit(stamp[0]), F.lit(stamp[1])
    date, time = F.col("date"), F.col("time")
    newer = (date > d) | ((date == d) & (time > t))
    if traffic.where(date >= d).where(newer).coalesce(1).limit(1).collect():
        since = (date > d) | ((date == d) & (time >= t))
        return latest_snapshot_join(
            traffic.where(date >= d).where(since),
            weather.where(date >= d).where(since),
            keys,
        )
    at = (date == d) & (time == t)
    return using_join(traffic.where(at), weather.where(at), keys)


def latest_snapshot_join_faithful(
    traffic: DataFrame, weather: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Literal operator order of bigquery_scheduled_query.sql: join first,
    filter after. Kept for parity testing; same result set."""
    joined = using_join(traffic, weather, keys or JOIN_KEYS)
    max_ts = latest_event_ts(traffic)
    return (
        joined.crossJoin(F.broadcast(max_ts))
        .filter(compose_event_ts("date", "time") == F.col("max_event_ts"))
        .drop("max_event_ts")
    )


def latest_snapshot_rows(df: DataFrame, order_col: str = "event_ts") -> DataFrame:
    """F0 alternative: all rows carrying the global max of ``order_col``
    (the dense_rank()==1-over-desc semantics), computed scale-safe.

    A global ``Window.orderBy(desc)`` funnels the whole table through one
    task, so instead the max is a partial+final agg (one row) broadcast
    back as a filter literal — identical result, fully parallel at any
    scale.
    """
    mx = df.agg(F.max(order_col).alias("_max_v"))
    return (
        df.crossJoin(F.broadcast(mx))
        .filter(F.col(order_col) == F.col("_max_v"))
        .drop("_max_v")
    )


def latest_per_key(df: DataFrame, key_cols: list[str], order_col: str, tiebreak: str | None = None) -> DataFrame:
    """Latest-row-per-key via row_number window — the scalable version of
    the snapshot pattern when 'latest' is per entity rather than global."""
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = W.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
