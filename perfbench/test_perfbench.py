"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

The span arithmetic and the harness's failure accounting run without
Spark. The output checks run against real outputs of the tiny workloads,
which are then corrupted on disk. The smoke runs drive ``run.py``
end to end at ``--scale tiny``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import layers, run, trace, worker  # noqa: E402
from perfbench.workloads import OpResult  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


# ---------------------------------------------------------------------------
# span arithmetic


def _span(name, start, end):
    return trace.Span(name, start, end, op=0)


def test_self_times_partition_a_tick_and_jobs_go_to_the_innermost_span():
    spans = [
        _span("sources.fetch_endpoints", 0.0, 3.0),
        # Recorded from the foreachBatch thread, inside the ingest span.
        _span("sinks.append_table", 4.0, 5.0),
        _span("sinks.overwrite_table_versioned", 6.0, 8.0),
        _span("streaming.ingest_and_refresh", 3.0, 9.5),
    ]
    self_s = trace.self_times(spans)
    assert self_s == pytest.approx([3.0, 1.0, 2.0, 3.5])
    assert sum(self_s) == pytest.approx(9.5)
    jobs = [trace.Job(i, t, t + 0.1) for i, t in enumerate([1.0, 4.5, 7.0, 9.2, 20.0])]
    owned = trace.assign_jobs(spans, jobs)
    assert {i: [j.job_id for j in js] for i, js in owned.items()} == {
        0: [0],
        1: [1],
        2: [2],
        3: [3],
    }


def test_identical_intervals_nest_in_recording_order():
    inner, outer = _span("a", 1.0, 2.0), _span("b", 1.0, 2.0)
    assert trace.parents([inner, outer]) == {0: 1, 1: None}
    assert trace.self_times([inner, outer]) == pytest.approx([1.0, 0.0])


def test_spans_from_another_thread_nest_by_time():
    tracer = trace.Tracer()
    tracer.active = True

    def callback():
        with tracer.span("sinks.append_table"):
            time.sleep(0.05)

    with tracer.span("streaming.ingest_and_refresh"):
        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    names = [s.name for s in tracer.spans]
    assert names == ["sinks.append_table", "streaming.ingest_and_refresh"]
    assert trace.parents(tracer.spans) == {0: 1, 1: None}
    child, parent = trace.self_times(tracer.spans)
    assert child + parent == pytest.approx(tracer.spans[1].dur)
    assert child >= 0.05


def test_wrap_records_only_while_active_and_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tracer = trace.Tracer()
    tracer.wrap(Mod, "f", "layer.f")
    assert Mod.f(1) == 2 and tracer.spans == []
    tracer.active = True
    assert Mod.f(2) == 3
    assert [(s.name, s.result) for s in tracer.spans] == [("layer.f", 3)]
    tracer.unwrap_all()
    assert not hasattr(Mod.f, "__wrapped__")


def test_lazy_dedup_calls_own_the_jobs_of_the_query_that_runs_them():
    spans = [
        _span("plans.fan_out_small_scan", 1.00, 1.01),
        _span("dedup.minhash_signature", 1.00, 1.02),
        _span("dedup.incremental_dedup", 1.03, 1.05),
        _span("workload.dedup_incremental", 0.0, 10.0),
    ]
    jobs = [trace.Job(i, t, t + 0.1) for i, t in enumerate([0.5, 4.0, 6.0, 12.0])]
    ops = [(OpResult(10.0, t0=0.0), True)]
    values = layers.per_layer(ops, spans, jobs, cores=4)
    assert values["dedup.jobs"] == 2
    assert values["workload.jobs"] == 3
    assert values["plans.fan_out_calls"] == 1
    assert values["sinks.append_s"] == values["streaming.jobs_per_tick"] == 0


def test_trace_overhead_leaves_the_cold_first_operation_out():
    ops = [
        (OpResult(9.0, index=0), False),
        (OpResult(2.2, index=1), True),
        (OpResult(2.0, index=2), False),
    ]
    assert layers._overhead_ratio(ops) == pytest.approx(1.1)


def test_tail_percentile_leaves_ten_samples_above():
    assert worker.tail(list(range(10))) == (None, None)
    q, v = worker.tail([float(i) for i in range(20)])
    assert q == pytest.approx(0.5)
    assert sum(1 for x in range(20) if x > v) == 10


# ---------------------------------------------------------------------------
# failure accounting


class _FakeWorkload:
    """Op 2 of 3 produces a corrupted output."""

    min_ops = 3

    def __init__(self):
        self.n = 0

    def op(self):
        self.n += 1
        return OpResult(0.01, items=1, t0=time.time())

    def check(self, res):
        return "corrupted" if self.n == 2 else ""


def test_a_corrupted_output_counts_as_failed():
    ops, attempted, failures = worker.measure(_FakeWorkload(), 0.0, trace.Tracer(), True)
    assert attempted == 3 and len(ops) == 2
    assert failures == ["op 1: corrupted"]


# ---------------------------------------------------------------------------
# output checks against real, then corrupted, outputs


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import os

    work = tmp_path_factory.mktemp("spark")
    (work / "tmp").mkdir()
    saved = dict(os.environ)
    os.environ.update(run.pinned_env(work))
    session = worker.start_spark("selftest", work, traced=False)
    yield session, work
    worker.stop_spark(session)
    os.environ.clear()
    os.environ.update(saved)


def test_hourly_check_catches_a_lost_fact_file(spark):
    from perfbench.workloads import HourlyRefresh

    session, work = spark
    wl = HourlyRefresh(5, "tiny", trace.Tracer())
    wl.setup(session, work / "hourly")
    before = set(worker_files(wl.base / "traffic_table"))
    res = wl.op()
    lost = sorted(set(worker_files(wl.base / "traffic_table")) - before)
    Path(lost[0]).unlink()
    assert "traffic_table grew" in wl.check(res)


def test_oracle_compare_catches_a_missing_row():
    import pandas as pd

    from perfbench import oracle

    want = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert oracle.compare(want.iloc[::-1].reset_index(drop=True), want) == ""
    assert oracle.compare(want.iloc[:2], want) == "rows 2 != 3"


def worker_files(root: Path) -> list[str]:
    from perfbench.workloads import _parquet_files

    return list(_parquet_files(root))


# ---------------------------------------------------------------------------
# end-to-end smoke runs


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=180,
    )


@pytest.mark.parametrize(
    "workload,traced",
    [("hourly_refresh", 0), ("hourly_refresh", 1), ("analytics_mix", 1)],
)
def test_tiny_run_is_correct_and_reports_every_metric(workload, traced):
    proc = _run(
        f"--workload={workload}", "--seed=3", "--seconds=1", f"--trace={traced}", "--scale=tiny"
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = BENCHMARK["per_layer" if traced else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in wanted)
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not traced:
        assert all(v > 0 for v in values.values())
    elif workload == "hourly_refresh":
        assert values["snapshot.rows_out"] > 0 and values["sinks.append_jobs"] > 0
        assert values["dedup.jobs"] == values["workload.jobs"] == 0
    elif workload == "analytics_mix":
        assert values["dedup.jobs"] > 0 and values["workload.jobs"] > values["dedup.jobs"]
        assert values["plans.fan_out_calls"] > 0
        assert values["sources.calls"] == values["sinks.append_s"] == 0
        assert values["snapshot.scan_rows"] == 0


def test_without_the_package_the_run_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("--workload=hourly_refresh", "--seed=1", "--seconds=1", "--trace=0", cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
