"""Per-layer metrics of a traced run.

Every metric is computed per traced operation over that operation's
timed region and reported as the mean over the traced operations (so
a count is "per tick" or "per pass"), except the whole-run figures:
``session.failed_tasks``, ``session.trace_overhead_ratio`` and
``workload.<query>_s`` (median over that query's traced runs). A layer
a workload leaves idle reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from . import trace
from .workloads import MIX

# Which public calls make up each layer's spans.
SOURCES = {"sources.fetch_endpoints"}
APPEND = {"sinks.append_table"}
PUBLISH = {"sinks.overwrite_table_versioned"}
STREAMING = {"streaming.ingest_and_refresh"}
DEDUP = {"dedup.minhash_signature", "dedup.incremental_dedup"}

UNITS = {
    "session.executor_cpu_s": "s",
    "session.cpu_util": "ratio",
    "session.gc_s": "s",
    "session.tasks": "count",
    "session.failed_tasks": "count",
    "session.trace_overhead_ratio": "ratio",
    "sources.fetch_s": "s",
    "sources.calls": "count",
    "sources.ok_ratio": "ratio",
    "sources.error_rows": "count",
    "flatten.rows_in": "count",
    "flatten.rows_out": "count",
    "flatten.drop_ratio": "ratio",
    "sinks.append_s": "s",
    "sinks.append_jobs": "count",
    "sinks.quarantined_rows": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.table_files": "count",
    "sinks.publish_s": "s",
    "sinks.publish_files": "count",
    "snapshot.scan_rows": "count",
    "snapshot.scan_bytes": "bytes",
    "snapshot.rows_out": "count",
    "snapshot.useful_ratio": "ratio",
    "streaming.self_s": "s",
    "streaming.jobs_per_tick": "count",
    "streaming.read_s": "s",
    "dedup.self_s": "s",
    "dedup.jobs": "count",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.input_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "plans.fan_out_calls": "count",
    "plans.materialize_calls": "count",
    "workload.jobs": "count",
    "workload.shuffle_write_bytes": "bytes",
    **{f"workload.{q}_s": "s" for q in MIX},
}


def _extend_dedup_spans(spans: list[trace.Span]) -> None:
    """``operators.dedup`` only builds plans; the query's write executes
    them later in the same ``workload.<query>`` span. Each dedup span is
    extended to the end of that span, so the jobs that execute the plan
    count as dedup work."""
    queries = [s for s in spans if s.name.startswith("workload.")]
    for s in spans:
        if s.name in DEDUP:
            for q in queries:
                if q.start <= s.start <= q.end:
                    s.end = q.end


def _overhead_ratio(ops) -> float:
    """Traced over untraced median operation time, the cold first
    operation left out."""
    traced = [res.wall_s for res, t in ops if t]
    untraced = [res.wall_s for res, t in ops if not t and res.index > 0]
    if not (traced and untraced):
        return 1.0
    return statistics.median(traced) / statistics.median(untraced)


def per_layer(ops, spans: list[trace.Span], jobs: list[trace.Job], cores: int) -> dict[str, float]:
    _extend_dedup_spans(spans)
    self_s = trace.self_times(spans)
    owned = trace.assign_jobs(spans, jobs)
    per_op: dict[str, list[float]] = defaultdict(list)
    query_walls: dict[str, list[float]] = defaultdict(list)
    for res, traced in ops:
        if not traced:
            continue
        lo, hi = res.t0 - trace.EPS, res.t0 + res.wall_s + trace.EPS
        idx = [i for i, s in enumerate(spans) if lo <= s.start and s.end <= hi]

        def spans_of(names):
            return [i for i in idx if spans[i].name in names]

        def jobs_of(names):
            return [j for i in spans_of(names) for j in owned.get(i, [])]

        def total(js, key):
            return sum(j.metrics.get(key, 0.0) for j in js)

        window_jobs = [j for j in jobs if lo <= j.submit <= hi]

        def jobs_within(names):
            """Every job submitted inside these spans, their children's included."""
            ivs = [(spans[i].start - trace.EPS, spans[i].end + trace.EPS) for i in spans_of(names)]
            return [j for j in window_jobs if any(a <= j.submit <= b for a, b in ivs)]

        cpu =total(window_jobs, "cpu_s")
        extra = res.extra
        appends = spans_of(APPEND)
        publish_jobs = jobs_of(PUBLISH)
        scan_rows = total(publish_jobs, "input_rows")
        dedup_jobs = jobs_of(DEDUP)
        workload_jobs = jobs_within({s.name for s in spans if s.name.startswith("workload.")})
        calls = extra.get("calls", 0)
        values = {
            "session.executor_cpu_s": cpu,
            "session.cpu_util": cpu / (res.wall_s * cores),
            "session.gc_s": total(window_jobs, "gc_s"),
            "session.tasks": total(window_jobs, "tasks"),
            "session.failed_tasks": total(window_jobs, "failed_tasks"),
            "sources.fetch_s": sum(spans[i].dur for i in spans_of(SOURCES)),
            "sources.calls": calls,
            "sources.ok_ratio": extra.get("ok", 0) / calls if calls else 0.0,
            "sources.error_rows": extra.get("sources.error_rows", 0),
            "flatten.rows_in": extra.get("flatten.rows_in", 0),
            "flatten.rows_out": extra.get("flatten.rows_out", 0),
            "flatten.drop_ratio": extra.get("flatten.drop_ratio", 0.0),
            "sinks.append_s": sum(spans[i].dur for i in appends),
            "sinks.append_jobs": len(jobs_of(APPEND)) / len(appends) if appends else 0.0,
            "sinks.quarantined_rows": sum(spans[i].result or 0 for i in appends),
            "sinks.files_written": extra.get("sinks.files_written", 0),
            "sinks.bytes_written": extra.get("sinks.bytes_written", 0),
            "sinks.table_files": extra.get("sinks.table_files", 0),
            "sinks.publish_s": sum(spans[i].dur for i in spans_of(PUBLISH)),
            "sinks.publish_files": extra.get("sinks.publish_files", 0),
            "snapshot.scan_rows": scan_rows,
            "snapshot.scan_bytes": total(publish_jobs, "input_bytes"),
            "snapshot.rows_out": extra.get("snapshot.rows_out", 0),
            "snapshot.useful_ratio": (
                extra.get("snapshot.rows_out", 0) / scan_rows if scan_rows else 0.0
            ),
            "streaming.self_s": sum(self_s[i] for i in spans_of(STREAMING)),
            "streaming.jobs_per_tick": len(jobs_within(STREAMING)),
            "streaming.read_s": extra.get("read_s", 0.0),
            "dedup.self_s": sum(self_s[i] for i in spans_of(DEDUP)),
            "dedup.jobs": len(dedup_jobs),
            "dedup.shuffle_write_bytes": total(dedup_jobs, "shuffle_write_bytes"),
            "dedup.input_bytes": total(dedup_jobs, "input_bytes"),
            "dedup.spill_bytes": total(dedup_jobs, "spill_bytes"),
            "plans.fan_out_calls": len(spans_of({"plans.fan_out_small_scan"})),
            "plans.materialize_calls": len(spans_of({"plans.materialize_once"})),
            "workload.jobs": len(workload_jobs),
            "workload.shuffle_write_bytes": total(workload_jobs, "shuffle_write_bytes"),
        }
        for k, v in values.items():
            per_op[k].append(v)
        for q in MIX:
            if q in extra:
                query_walls[q].append(extra[q])

    out = {k: statistics.fmean(v) for k, v in per_op.items()}
    out["session.failed_tasks"] = sum(per_op["session.failed_tasks"])
    out["session.trace_overhead_ratio"] = _overhead_ratio(ops)
    for q in MIX:
        out[f"workload.{q}_s"] = statistics.median(query_walls[q]) if query_walls[q] else 0.0
    return {k: float(out[k]) for k in UNITS}
