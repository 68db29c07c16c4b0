"""Table sinks (SURVEY.md §2.1 S5/S6/S7).

The reference appends one-row CSV load jobs to BigQuery
(deployment_function.py:182-196, ``if_exists='append'``) and refreshes
``latest_joined_data`` with WRITE_TRUNCATE (README.md:84). Here:
date-partitioned Parquet fact tables that only ever take appends
(partition pruning makes the latest-snapshot query touch one partition
instead of the whole history), and a snapshot that is replaced only
through the version-pointer layout (:func:`overwrite_table_versioned`),
so a reader never sees a partial or missing table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _not_null_violation_cond(cols: list[str]):
    """One ``a IS NULL OR b IS NULL OR ...`` expression: a single
    Python->JVM call however many columns the guard covers."""
    from pyspark.sql import functions as F

    quoted = ("`" + c.replace("`", "``") + "`" for c in cols)
    return F.expr(" OR ".join(f"{c} IS NULL" for c in quoted))


def _append(df: DataFrame, path: str, partition_by: list[str] | None) -> None:
    df.write.save(path, format="parquet", mode="append", partitionBy=partition_by)


def append_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    not_null: list[str] | None = None,
) -> int | None:
    """S5: append-mode Parquet fact-table sink (deployment_function.py:188).

    Unlike the reference's 40 one-row load jobs per tick, a single
    distributed write lands the whole batch; ``partition_by=['date']``
    keeps per-day files together so time filters prune.

    NOT NULL enforcement (bigquery_table_creation_queries.sql:2-19):
    the reference's BigQuery DDL makes every ingested column NOT NULL;
    Spark's parquet catalog treats declared nullability as advisory, so
    the guard lives at the write. Pass ``not_null=[cols...]`` and the
    batch is split: clean rows append to ``path``, violating rows land
    in ``<path>_quarantine`` with the same layout — the dead-letter
    pattern, so one bad record never kills the stream.

    The QUARANTINE write lands FIRST, deliberately: the two appends are
    not atomic together, so whichever commits before a failure gets
    duplicated when the caller (e.g. foreachBatch) retries the whole
    batch. Under commit-on-job-success semantics (FileOutputCommitter
    algorithm v1 — Spark's default here) a failed append commits
    nothing visible, so quarantine-first bounds the retry damage to
    duplicate DEAD-LETTER rows — benign for a triage table nothing
    downstream aggregates — whereas clean-first would silently
    duplicate FACT rows that the snapshot join and every downstream
    aggregate read. Committer v2 / direct cloud committers publish
    per-TASK, so a mid-job failure can leave partial files on either
    table; quarantine-first is still the better order, but exactly-once
    it is not.

    Probe first: a ``LIMIT 1`` probe looks for a violating row over the
    persisted batch. A clean batch — the normal tick — then costs two
    jobs, the probe and the append. Only when the probe finds a row are
    the violating rows written (counted by an observation on that
    write, not by a second pass) and filtered out of the append.

    Returns the quarantined-row count, or None when no ``not_null``
    check was requested. The batch is persisted for the duration of the
    check so the probe, the split, and the writes all see ONE
    materialization of the input — without it a non-deterministic plan
    (rand/sample/re-read of a moving source) could drop or duplicate
    rows between the two splits. Scale note: on a clean batch the probe
    scans the whole batch (nothing stops it early), filling the cache
    the append then reads, so the guard costs one extra scan of the
    batch plus its cache footprint; batches here are per-tick appends,
    orders of magnitude smaller than the table. The probe takes one job
    per wave of partitions it scans (Spark's ``limit`` scale-up), so a
    one-file tick is one job. Never run the guard over the accumulated
    table itself (that's ``dq_expectations``' job as a publish gate).
    """
    _guard_not_versioned_root(path)
    if not not_null:
        _append(df, path, partition_by)
        return None
    missing = [c for c in not_null if c not in df.columns]
    if missing:
        raise ValueError(f"not_null columns absent from batch: {missing}")
    from pyspark.sql import functions as F

    from .plans import with_run_metrics

    df = df.persist()
    try:
        viol = _not_null_violation_cond(not_null)
        if not df.where(viol).limit(1).collect():
            _append(df, path, partition_by)
            return 0
        bad, seen = with_run_metrics(df.where(viol), rows=F.count(F.lit(1)))
        _append(bad, path.rstrip("/") + "_quarantine", partition_by)
        _append(df.where(~viol), path, partition_by)
        return seen.get["rows"]
    finally:
        df.unpersist()


_CURRENT_POINTER = "_CURRENT"


def _guard_not_versioned_root(path: str) -> None:
    """Refuse appends into a version-pointer root: an append would land
    part files beside ``v_<n>``/``_CURRENT``, a mixed layout the
    retention sweep never cleans and path readers choke on. The mirror
    image of :func:`overwrite_table_versioned`'s migration guard."""
    from pathlib import Path

    if (Path(path) / _CURRENT_POINTER).exists():
        raise ValueError(
            f"append_table refused: {path} is a version-pointer table "
            "(_CURRENT present). Publish through "
            "overwrite_table_versioned instead, or use a different path."
        )


def overwrite_table_versioned(
    df: DataFrame, path: str, keep: int = 1
) -> str:
    """Reader-safe, crash-atomic snapshot refresh via a version-pointer
    layout — MVCC-in-a-directory, the trick every ACID table format
    (Iceberg's metadata pointer, Delta's _last_checkpoint) builds on,
    reduced to its single-table essence with no format dependency.

    Layout: ``path/`` holds immutable version dirs ``v_<n>/`` plus a
    ``_CURRENT`` pointer file whose FIRST line names the live one (the
    following lines are the retained publish history, newest first —
    the pointer file doubles as the publication log, so "previously
    published" never has to be guessed from sibling dir names, which
    may be crash garbage). A refresh

    1. writes the new snapshot to the next ``v_<n>`` (invisible to
       readers — nothing points at it), then fsyncs every file in it
       plus the dir tree — Spark's local-FS committer does NOT fsync
       data blocks, so without this a power loss could persist a
       durable pointer naming a version whose data never reached disk,
    2. publishes by writing ``_CURRENT.tmp.<uuid>``, fsyncing it, and
       ``os.replace``-ing it over ``_CURRENT``, then fsyncing the
       directory — the rename is atomic on POSIX and the fsync pair
       makes the POINTER durable and tear-free (every reader sees
       either the old pointer or the new one, never a missing or
       half-written table). The step-1 data fsync holds for local
       filesystems only: on a real cluster writing HDFS/object storage,
       data durability is the store's contract (HDFS hflush/hsync on
       commit, object-store PUT-is-durable), not this function's,
    3. sweeps every version dir not on the new history: the current
       one plus the ``keep`` most recently PUBLISHED predecessors
       survive, so a reader that resolved the pointer up to ``keep``
       refreshes ago can still finish its scan. Crash orphans (dirs
       that were written but never pointed) are always swept — they
       are not on the history. Size ``keep`` to the longest scan a
       reader may run measured in refresh intervals (a per-micro-batch
       streaming refresh with long dashboard scans wants more than the
       default 1).

    A crash before step 2 leaves the old version live and an orphaned
    unpointed dir (swept by the next refresh); a crash after step 2 is
    a completed refresh. Single-writer protocol, like the reference's
    one scheduled refresh (README.md:84) — concurrent refreshers would
    race the version numbering and need a lock or a conditional-PUT
    pointer flip. Returns the published version dir path.

    Migration guard: a pointer-less ``path`` already holding plain
    table files is REFUSED — writing ``v_0`` beside root-level part
    files would leave a mixed layout where path-based readers see
    conflicting directory structures and the stale root files are
    never swept. Migrate explicitly: read the plain table, publish it
    through this function at a fresh path (or clear the old files),
    then retire the plain location.

    Scale note: on object stores without atomic rename, step 2 becomes
    a conditional PUT (S3 If-None-Match / GCS generation preconditions)
    — same protocol, different primitive; at that point you are
    reimplementing Iceberg's commit and should just use it. The
    pointer file read adds one metadata round-trip per query — noise
    against any real scan.
    """
    import errno
    import os
    import shutil
    import uuid
    from pathlib import Path

    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)
    pointer = root / _CURRENT_POINTER
    if not pointer.exists():
        foreign = [
            e.name
            for e in root.iterdir()
            if not (e.is_dir() and e.name.startswith("v_"))
            and not e.name.startswith(_CURRENT_POINTER)
        ]
        if foreign:
            raise ValueError(
                f"refusing to version-initialize {path}: it already holds "
                f"non-versioned entries {sorted(foreign)[:5]} — a plain "
                "table. Publish to a fresh path or clear it first (see "
                "overwrite_table_versioned docstring, migration guard)."
            )
    history = pointer.read_text().splitlines() if pointer.exists() else []
    versions = sorted(
        (d for d in root.iterdir() if d.is_dir() and d.name.startswith("v_")),
        key=lambda d: int(d.name[2:]),
    )
    nxt = root / f"v_{int(versions[-1].name[2:]) + 1 if versions else 0}"

    df.write.save(str(nxt), format="parquet", mode="overwrite")

    # Data-before-pointer durability (docstring step 1): local-FS writes
    # are not fsynced by Spark's committer; flush the version's blocks
    # and dir entries before anything durable points at them. Cheap
    # relative to the snapshot write itself.
    if nxt.exists():
        for entry in [nxt, *nxt.rglob("*")]:
            # Tolerate entries VANISHING between rglob and open —
            # Spark's committer leaves transient .crc/_temporary
            # droppings it may still be clearing; a gone-again temp
            # file must not abort a refresh whose snapshot data is
            # already written. Only ENOENT/ESTALE qualify: a broader
            # OSError catch (EMFILE/EACCES/EIO) could skip fsyncing a
            # REAL snapshot parquet and publish the pointer over
            # unflushed data, silently voiding the data-before-pointer
            # guarantee. Skip non-regular, non-directory entries
            # (sockets/fifos can't be fsynced).
            try:
                if not (entry.is_file() or entry.is_dir()):
                    continue
                fd = os.open(entry, os.O_RDONLY)
            except OSError as e:
                if e.errno in (errno.ENOENT, errno.ESTALE):
                    continue
                raise
            try:
                os.fsync(fd)
            finally:
                os.close(fd)

    new_history = [nxt.name] + [v for v in history if v != nxt.name][: max(keep, 0)]
    tmp = root / f"{_CURRENT_POINTER}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write("\n".join(new_history))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, pointer)
    dirfd = os.open(root, os.O_RDONLY)
    try:
        os.fsync(dirfd)
    finally:
        os.close(dirfd)

    live = set(new_history)
    for d in versions:
        if d.name not in live:
            shutil.rmtree(d)
    for stale in root.glob(f"{_CURRENT_POINTER}.tmp.*"):
        stale.unlink(missing_ok=True)
    return str(nxt)


def read_table_versioned(spark: SparkSession, path: str) -> DataFrame:
    """Resolve a version-pointer table (see
    :func:`overwrite_table_versioned`) and read its live version (the
    pointer's first line; the rest is retained history). The pointer
    resolution pins THIS query to one immutable version dir — a
    refresh committing mid-scan is invisible (snapshot isolation for
    a single reader), because published version dirs are never
    mutated, only superseded and eventually swept (after ``keep``
    further refreshes)."""
    return spark.read.parquet(live_version(path))


def live_version(path: str) -> str:
    """The live ``v_<n>`` dir of a version-pointer table, resolved once
    from ``_CURRENT`` (FileNotFoundError if nothing was published)."""
    from pathlib import Path

    pointer = Path(path) / _CURRENT_POINTER
    return str(Path(path) / pointer.read_text().splitlines()[0].strip())


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int,
    key_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed external table: rows are hash-clustered on ``key_cols``
    into ``n_buckets`` files (optionally sorted within each bucket).

    This is the co-located-join lever at 100 TB: two tables bucketed the
    same way join with ZERO exchange — Catalyst sees the matching output
    partitioning and drops the shuffle on both sides (proved in
    tests/test_plan_quality.py). Bucket count should be sized so one
    bucket ≈ one task's worth of data at the target scale.
    """
    writer = df.write.bucketBy(n_buckets, *key_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.option("path", path).mode("overwrite").format("parquet").saveAsTable(
        table_name
    )


def zorder_key(c1, c2, bits: int = 16):
    """Morton (Z-order) interleave of two bucketed integer columns —
    the multi-dimensional clustering key Spark has no built-in for.

    Range-sorting on ONE column makes that column's row-group min/max
    disjoint but leaves every other column's stats spanning the full
    domain (no skipping). Interleaving the bits of two columns gives a
    single sort key whose locality is shared: a range of Z values maps
    to a bounded rectangle in (c1, c2) space, so BOTH columns' min/max
    per file shrink to ~sqrt(files) of the domain — predicates on either
    column skip files. Inputs must already be integers in
    [0, 2**bits); pure shift/or/and expressions, fully codegen'd.

    Bit convention: ``c1`` occupies the EVEN bits, ``c2`` the odd bits.
    The registry's ``zorder_cluster_key`` builds its key with this
    function; its DuckDB oracle mirrors the layout in
    ``workload.layout_queries._morton_expr`` (pinned by
    tests/test_layout_queries.py::test_zorder_key_matches_layout_query_convention).
    """
    from pyspark.sql import functions as F

    key = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(c1.cast("long"), i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(c2.cast("long"), i).bitwiseAND(F.lit(1))
        key = key.bitwiseOR(F.shiftleft(b1, 2 * i)).bitwiseOR(
            F.shiftleft(b2, 2 * i + 1)
        )
    return key


def zorder_decode(zkey, bits: int = 16):
    """Inverse of :func:`zorder_key`: split a Morton key back into its
    two component columns ``(c1, c2)``.

    Needed when debugging file layout (which (c1, c2) rectangle does
    this file's [min_z, max_z] range cover?) and when building z-range
    pushdown predicates for a rectangle query. Pure shift/or/and
    expressions like the encoder; ``zorder_decode(zorder_key(a, b))``
    is the identity for inputs in [0, 2**bits) — property-tested with
    hypothesis in tests/test_layout_queries.py.
    """
    from pyspark.sql import functions as F

    c1 = F.lit(0).cast("long")
    c2 = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(zkey.cast("long"), 2 * i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(zkey.cast("long"), 2 * i + 1).bitwiseAND(F.lit(1))
        c1 = c1.bitwiseOR(F.shiftleft(b1, i))
        c2 = c2.bitwiseOR(F.shiftleft(b2, i))
    return c1, c2


def read_table_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table whose schema evolved across appends (new
    columns added by later ticks — the reference's upstream APIs add
    fields without notice; TomTom's ``@version`` bumps are the live
    example).

    ``mergeSchema=true`` unions the footers of every file: rows written
    before a column existed surface it as NULL, so downstream queries
    never break on mixed-vintage partitions. Scale note: footer merging
    reads one footer per file (driver-side listing + distributed footer
    reads) — at 100 TB keep it off (Spark's default) for steady-state
    scans and pin the evolved schema explicitly via
    ``spark.read.schema(...)`` once the evolution is known; this helper
    is for the transition window and ad-hoc exploration.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def create_table_ddl(spark: SparkSession, name: str, schema, location: str) -> None:
    """S7: declarative table creation mirroring
    bigquery_table_creation_queries.sql. NOT NULL is advisory in Spark's
    parquet catalog; enforcement lives at the write instead —
    :func:`append_table`'s ``not_null`` quarantine, which the streaming
    ingestion path passes for every schema-declared non-nullable
    column."""
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet LOCATION '{location}'"
    )
