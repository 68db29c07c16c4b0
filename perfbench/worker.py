"""One benchmark run in one Spark process: set up, measure, check,
report. Started by ``run.py``, which pins the environment, owns the
work directory and cleans up every process this one leaves behind.

Usage: python3 perfbench/worker.py --workload W --seed N --seconds S
       --trace 0|1 --work DIR --result FILE [--scale full|tiny]
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import trace  # noqa: E402
from perfbench.workloads import WORKLOADS, OpResult  # noqa: E402

# A run stops failing operations early rather than spin on a broken build.
MAX_CONSECUTIVE_FAILURES = 3


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(q, value) for the highest percentile q that leaves at least ten
    samples above it, or (None, None) when there are fewer than 11."""
    n = len(values)
    if n < 11:
        return None, None
    q = 1 - 10 / n
    return q, sorted(values)[int(q * n) - 1]


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the run. This process and every
    process under the driver JVM (the Python workers) count by their
    VmHWM. The JVM counts as its peak non-heap resident size plus its
    peak used heap: its heap is committed and touched in full at start
    (see ``start_spark``), so its own VmHWM would read the heap size the
    launcher chose rather than the heap the run used."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap_committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    heap_peak = sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP"
    )
    jvm_kb = _vm_hwm_kb(jvm_pid) - heap_committed / 1024 + heap_peak / 1024
    children = defaultdict(list)
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.parent.name))
    pids, todo = [os.getpid()], list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return (jvm_kb + sum(_vm_hwm_kb(pid) for pid in pids)) / 1024


def start_spark(workload: str, work: Path, traced: bool):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.session import get_spark

    # The whole heap is committed and touched at start: the JVM's resident
    # size otherwise follows when G1 chooses to grow the heap, which
    # moved a VmHWM-based peak_rss_mb by 15 % between runs of one build.
    # No hsperfdata file in /tmp: the run writes only inside its work dir.
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "eventlog").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        }
    return get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit, so the
    event log is complete and no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def measure(wl, seconds: float, tracer, traced_run: bool):
    """Closed loop: the next operation starts when the previous one and
    its output check are done. In a traced run the odd-numbered
    operations are traced and the even ones after the first give the
    tracing overhead. The first is left out of both sides, because it
    is the coldest, so a traced run makes at least three."""
    ops: list[tuple[OpResult, bool]] = []
    failures: list[str] = []
    attempted = 0
    deadline = time.perf_counter() + seconds
    min_ops = max(wl.min_ops, 3) if traced_run else wl.min_ops
    consecutive = 0
    while time.perf_counter() < deadline or attempted < min_ops:
        traced = traced_run and attempted % 2 == 1
        tracer.active = traced
        tracer.op = attempted
        attempted += 1
        try:
            res = wl.op()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            tracer.active = False
            failures.append(f"op {attempted - 1}: {exc!r}"[:500])
            consecutive += 1
            if consecutive >= MAX_CONSECUTIVE_FAILURES:
                break
            continue
        tracer.active = False
        res.index = attempted - 1
        why = wl.check(res)
        if why:
            failures.append(f"op {attempted - 1}: {why}")
            consecutive += 1
            if consecutive >= MAX_CONSECUTIVE_FAILURES:
                break
            continue
        consecutive = 0
        ops.append((res, traced))
    return ops, attempted, failures


def end_to_end(ops, setup_s: float, rss_mb: float) -> dict[str, float]:
    walls = [r.wall_s for r, _ in ops]
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(walls),
        "items_per_s": sum(r.items for r, _ in ops) / sum(walls),
        "peak_rss_mb": rss_mb,
    }


def report_lines(wl, ops, attempted, failures) -> list[str]:
    """Human-readable summary printed before the result line."""
    walls = [r.wall_s for r, _ in ops] or [float("nan")]
    q, tv = tail(walls)
    lines = [
        f"{wl.name}: {len(ops)} timed ops passed, {len(failures)} of {attempted} checked "
        f"operations failed; p50 {statistics.median(walls):.4f} s, "
        + (f"p{100 * q:.1f} {tv:.4f} s (n={len(walls)})" if q else f"tail n/a (n={len(walls)} < 11)")
        + f", max {max(walls):.4f} s",
    ]
    reads = [r.extra["read_s"] for r, _ in ops if "read_s" in r.extra]
    if reads:
        lines.append(f"  dashboard_read_p50_s {statistics.median(reads):.4f}")
    for f in failures[:10]:
        lines.append(f"  FAILED {f}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--result", type=Path, required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    from perfbench import layers

    tracer = trace.Tracer()
    wl = WORKLOADS[args.workload](args.seed, args.scale, tracer)
    traced_run = bool(args.trace)
    if traced_run:
        wl.wrap()
    spark = start_spark(args.workload, args.work, traced_run)
    bookkeeping_s = wl.setup(spark, args.work) or 0.0
    setup_s = time.time() - PROCESS_START - bookkeeping_s
    ops, attempted, failures = measure(wl, args.seconds, tracer, traced_run)
    # Checks made once in set-up (the mix's oracle comparisons) count
    # as operations too.
    attempted += wl.setup_checks
    failures += wl.setup_failures
    rss = peak_rss_mb(spark)
    cores = spark.sparkContext.defaultParallelism
    stop_spark(spark)
    tracer.unwrap_all()
    for line in report_lines(wl, ops, attempted, failures):
        print(line, flush=True)
    if not ops:
        print("no operation completed", file=sys.stderr)
        return 1
    if traced_run:
        jobs = trace.read_event_log(args.work / "eventlog")
        metrics = layers.per_layer(ops, tracer.spans, jobs, cores)
        units = layers.UNITS
    else:
        metrics = end_to_end(ops, setup_s, rss)
        units = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    args.result.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
