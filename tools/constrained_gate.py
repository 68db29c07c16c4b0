"""Constrained-heap completion gate: run the costliest queries (plus
the whole embedding-pair family) under a deliberately SMALL driver
heap, oracle-compared, in a fresh subprocess JVM.

Why this exists as a checked-in tool: full-heap runs MASK per-task
memory blowups — a working set that is "bounded per task by
construction" should complete under a heap far smaller than the data.
The 4 GiB protocol caught a real scale defect in each of its first
three uses, in code that was green at every gated SF on a full heap:

- round 12: `dedup_embedding_cosine` DNF (2h15m, interpreted per-pair
  fold on a single task) — found only when sf1 ran constrained;
- round 13: grouped `applyInPandas` serializing a dense block's ~50M
  pairs as ONE ~1.6 GB Arrow batch per task — OOM under 4 GiB, green
  under the default 16 GiB that simply absorbed the spike;
- round 13: `dedup_semantic_kmeans` still on the interpreted fold its
  two siblings were cured of — caught by the constrained sf1 gate.

Protocol:
- the gate forks a FRESH subprocess with
  ``SPARK_GRAFT_DRIVER_MEM=<mem>`` (default 4g) — the heap cap must be
  set before the JVM launches, and a fresh JVM also keeps the
  measurement free of session-tail allocator state;
- the fork runs ``tools/check_correctness.py``: a full Spark-vs-DuckDB
  value compare of every chosen query;
- default query set: the ten costliest queries at sf0.1 plus ALL
  THREE embedding-pair queries (the family with the quadratic
  candidate space — the one place per-task bounds are
  load-bearing rather than incidental);
- default SF 0.1 (the bench SF: data comfortably exceeds what a 4 GiB
  heap could hold resident, so completion means streaming/bounded
  working sets, not luck); CI runs the sf0.01 oracle variant on every
  pytest run (tests/test_constrained_gate.py).

Usage:
    python tools/constrained_gate.py                  # default set, sf0.1, 4g
    python tools/constrained_gate.py --full           # all 175 entries
    python tools/constrained_gate.py q1 q2 --mem 3g   # explicit set
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Top-10 by sf0.1 wall time in the per-query scaling sweep (its report
# is kept in commit 81b5af4), plus the two embedding-pair queries not
# already in that top-10. Revisit when the cost ordering shifts
# materially.
GATE_QUERIES = [
    "stream_join_replay",
    "triangle_count_coorder",
    "sessionize_stream_replay",
    "dedup_ngram_jaccard",
    "decontaminate_bloom",
    "dedup_embedding_lsh",
    "dedup_prefix_filter_jaccard",
    "bpe_pair_merges",
    "dedup_minhash_lsh",
    "equidepth_histogram",
    "dedup_embedding_cosine",
    "dedup_semantic_kmeans",
]


def run_gate(
    queries: list[str] | None,
    sf: str = "0.1",
    mem: str = "4g",
    full: bool = False,
) -> int:
    """Fork the oracle checker under a constrained heap; return its rc."""
    qlist = queries if queries else GATE_QUERIES
    cmd = [sys.executable, str(REPO / "tools" / "check_correctness.py")]
    if not full:
        cmd += qlist
    cmd += ["--sf", sf]
    env = os.environ.copy()
    env["SPARK_GRAFT_DRIVER_MEM"] = mem
    print(
        f"[constrained_gate] heap={mem} sf={sf} "
        f"queries={'ALL' if full else len(qlist)}",
        flush=True,
    )
    return subprocess.run(cmd, env=env, cwd=str(REPO)).returncode


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="override the default gate set")
    ap.add_argument("--sf", default="0.1", help="scale factor or sf dir")
    ap.add_argument("--mem", default="4g", help="driver heap cap (JVM -Xmx)")
    ap.add_argument(
        "--full", action="store_true", help="run the entire registry instead"
    )
    args = ap.parse_args()
    return run_gate(args.queries or None, sf=args.sf, mem=args.mem, full=args.full)


if __name__ == "__main__":
    raise SystemExit(main())
