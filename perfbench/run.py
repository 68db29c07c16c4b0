"""Benchmark launcher.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It pins the environment (cores, driver
heap, Spark scratch dirs, module path), starts one worker process per
run in a work directory under ``perfbench/.work/``, kills whatever that
process group leaves behind, deletes the work directory and prints the
worker's result as the last line of standard output. Workloads, metrics
and their rationale are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "copenhagen_traffic_and_weather_etl_pipeline_spark"
WORKLOADS = ("hourly_refresh", "analytics_mix")
# The run must end within 180 s; leave room for clean-up.
TIMEOUT_S = 165
# Printed with every result, so a figure can be traced to its set-up.
RECORDED = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONHASHSEED")


def pinned_env(work: Path) -> dict[str, str]:
    env = {
        k: v
        for k, v in os.environ.items()
        # Knobs that change the package's behaviour are not the benchmark's
        # to inherit from whoever runs it.
        if not k.startswith("SPARK_GRAFT_")
    }
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        # Well below physical RAM (the session's own default is 16g).
        SPARK_GRAFT_DRIVER_MEM=f"{max(1024, min(1536, ram_mb // 4))}m",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        # Spark's Python workers import the package and the benchmark's
        # fetcher by module name.
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        PYTHONHASHSEED="0",
    )
    return env


def _group_alive(pgid: int) -> bool:
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def reap_group(pgid: int) -> None:
    """Kill every process left in the worker's group and wait until
    none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        choices=("full", "tiny"),
        default="full",
        help="tiny: minimal inputs, for the benchmark's own self-tests",
    )
    args = ap.parse_args()
    if not (PACKAGE / "__init__.py").is_file():
        print(f"package not found at {PACKAGE}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = [
        sys.executable,
        str(HERE / "worker.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--work={work}",
        f"--result={result}",
        f"--scale={args.scale}",
    ]
    # A terminated launcher still reaps the worker's group (``finally``).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = pinned_env(work)
    proc = subprocess.Popen(cmd, env=env, cwd=work, start_new_session=True)
    rc = line = None
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
    finally:
        reap_group(proc.pid)
        proc.wait()
        if rc == 0 and result.is_file():
            line = result.read_text()
        shutil.rmtree(work, ignore_errors=True)
    if line is None:
        print(f"worker failed (exit {rc})", file=sys.stderr)
        return 1
    print("environment: " + " ".join(f"{k}={env[k]}" for k in RECORDED))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
