"""Scalar function library — the reference's scalar surface re-expressed
with built-in ``pyspark.sql.functions`` (JVM-side, codegen'd; zero Python
UDFs).

Reference parity map (SURVEY.md §2.6):
- D1-D3 PARSE_DATE + PARSE_TIME + DATETIME(d, t) -> :func:`compose_event_ts`
  (Spark has no TIME type, so date+time compose directly to a timestamp,
  which is the only thing the reference ever does with the parsed DATE
  and TIME: bigquery_scheduled_query.sql:8-15)
- D4 strftime date/time stamping      -> :func:`stamp_audit_columns`
- M1 Kelvin→Celsius (x - 273.15)      -> ``operators.flatten._celsius``
- T1/T2 "lat,lon" concat + str cast   -> ``operators.flatten._coords``
  (both SQL strings: flatten is their only caller)
- T3 base64 payload decode            -> :func:`decode_pubsub_payload`
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DATE_FMT = "yyyy-MM-dd"  # reference '%Y-%m-%d' (deployment_function.py:62)
TIME_FMT = "HH:mm"  # reference '%H:%M'    (deployment_function.py:63)
KELVIN_OFFSET = 273.15  # deployment_function.py:140-143


def compose_event_ts(date: Column | str, time: Column | str) -> Column:
    """D1-D3: DATETIME(PARSE_DATE(date), PARSE_TIME(time)) -> timestamp.

    bigquery_scheduled_query.sql:8-11. Composed as one to_timestamp over
    the concatenated strings so Spark and the SQL oracle share identical
    semantics (and Catalyst folds it into a single codegen'd expression).
    """
    d = F.col(date) if isinstance(date, str) else date
    t = F.col(time) if isinstance(time, str) else time
    return F.to_timestamp(F.concat_ws(" ", d, t), f"{DATE_FMT} {TIME_FMT}")


def stamp_audit_columns(ts: Column | None = None) -> dict[str, Column]:
    """D4/D5/P8: the run-time ``date``/``time`` string stamps every ingested
    row carries (deployment_function.py:61-63). Pass an event-time column
    to stamp event time instead of wall clock (better for late data)."""
    ts = F.current_timestamp() if ts is None else ts
    return {
        "date": F.date_format(ts, DATE_FMT),
        "time": F.date_format(ts, TIME_FMT),
    }


def decode_pubsub_payload(col: Column | str) -> Column:
    """T3: base64-decode of the trigger payload (deployment_function.py:18)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unbase64(c).cast("string")
