"""Property-based test (hypothesis) of the version-pointer publish
protocol (`sinks.overwrite_table_versioned` / `read_table_versioned`).

The protocol's safety claim is about CRASH POINTS, not about Spark:
whatever interleaving of successful refreshes and crashes (during the
version write, or between the completed write and the pointer flip)
occurs, a reader resolving the pointer must always land on the most
recently PUBLISHED complete version — never a partial dir, never a
crash orphan, and (with keep_previous) the predecessor must survive
exactly one further publish. So we fuzz the protocol with a fake
DataFrame whose writer just drops a payload + completeness marker on
disk: every step of the real function runs (version numbering, tmp
pointer, os.replace flip, retention sweep) in microseconds, letting
hypothesis explore hundreds of histories a Spark-backed test could
never afford."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from copenhagen_traffic_and_weather_etl_pipeline_spark import sinks


class _FakeWriter:
    """Stands in for DataFrame.write: save() materializes a payload file
    plus a _COMPLETE marker, or crashes partway (payload written, no
    marker) to model a mid-write failure."""

    def __init__(self, payload: str, crash_mid_write: bool):
        self.payload = payload
        self.crash_mid_write = crash_mid_write

    def save(self, path: str, format=None, mode=None, partitionBy=None):
        p = Path(path)
        p.mkdir(parents=True, exist_ok=True)
        (p / "part-00000.parquet").write_text(self.payload)
        if self.crash_mid_write:
            raise RuntimeError("simulated crash during version write")
        (p / "_COMPLETE").write_text(self.payload)


class _FakeDF:
    def __init__(self, payload: str, crash_mid_write: bool = False):
        self.write = _FakeWriter(payload, crash_mid_write)


def _read_published(path: str) -> str:
    """A reader: resolve the pointer exactly like read_table_versioned,
    then require the resolved dir to be COMPLETE and return its payload."""
    pointer = Path(path) / sinks._CURRENT_POINTER
    version = pointer.read_text().splitlines()[0].strip()
    vdir = Path(path) / version
    assert vdir.is_dir(), f"pointer names missing dir {version}"
    marker = vdir / "_COMPLETE"
    assert marker.exists(), f"pointer names incomplete dir {version}"
    return marker.read_text()


# Each op: ("ok" | "crash_write" | "crash_flip", payload)
_op = st.tuples(
    st.sampled_from(["ok", "crash_write", "crash_flip"]),
    st.integers(min_value=0, max_value=99),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_op, min_size=1, max_size=8))
def test_pointer_always_resolves_last_published_complete_version(tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("vt") / "table")
    published: list[str] = []  # payloads in publish order

    real_replace = os.replace
    for kind, n in ops:
        payload = f"payload-{n}"
        if kind == "ok":
            sinks.overwrite_table_versioned(_FakeDF(payload), path)
            published.append(payload)
        elif kind == "crash_write":
            with pytest.raises(RuntimeError, match="simulated crash"):
                sinks.overwrite_table_versioned(_FakeDF(payload, True), path)
        else:  # crash_flip: version write completes, pointer flip crashes
            def crashing_replace(src, dst, *a, **kw):
                raise RuntimeError("simulated crash at pointer flip")

            os.replace = crashing_replace
            try:
                with pytest.raises(RuntimeError, match="pointer flip"):
                    sinks.overwrite_table_versioned(_FakeDF(payload), path)
            finally:
                os.replace = real_replace

        # Invariant after EVERY op: if anything was ever published, a
        # reader resolves exactly the latest published payload.
        if published:
            assert _read_published(path) == published[-1]

    # Retention after the dust settles. Orphans (partial dirs from
    # crash_write, complete-but-unpointed dirs from crash_flip, stale
    # tmp pointer files) are swept by the NEXT successful publish — so
    # only ops AFTER the last success can leave debris. Bound the
    # surviving layout exactly by that tail:
    if published:
        last_ok = max(i for i, (k, _) in enumerate(ops) if k == "ok")
        tail = [k for k, _ in ops[last_ok + 1 :]]
        root = Path(path)
        dirs = [d for d in root.iterdir() if d.is_dir() and d.name.startswith("v_")]
        incomplete = [d for d in dirs if not (d / "_COMPLETE").exists()]
        # partial dirs: one per trailing crash_write, nothing older.
        assert len(incomplete) == tail.count("crash_write")
        # current + kept previous + one dir per trailing crash (of
        # either kind — crash_flip's completed dir also lingers).
        assert len(dirs) <= 2 + len(tail)
        # stale tmp pointer files: only trailing crash_flips leave one.
        tmps = list(root.glob(f"{sinks._CURRENT_POINTER}.tmp.*"))
        assert len(tmps) == tail.count("crash_flip")


def test_retention_depth_keeps_n_published_predecessors(tmp_path):
    """keep=N retains the N most recently PUBLISHED versions besides
    the current one — crash orphans are never retained (the pointer
    file's history lines, not sibling dir names, define 'published')."""
    path = str(tmp_path / "table")
    for i in range(5):
        sinks.overwrite_table_versioned(_FakeDF(f"gen-{i}"), path, keep=2)
    root = Path(path)
    dirs = sorted(d.name for d in root.iterdir() if d.is_dir())
    assert dirs == ["v_2", "v_3", "v_4"]  # current + 2 predecessors
    history = (root / sinks._CURRENT_POINTER).read_text().splitlines()
    assert history == ["v_4", "v_3", "v_2"]
    assert _read_published(path) == "gen-4"

    # A crash orphan numbered HIGHER than every published version must
    # not displace a published predecessor from retention.
    orphan = root / "v_99"
    orphan.mkdir()
    (orphan / "part-junk.parquet").write_text("garbage")
    sinks.overwrite_table_versioned(_FakeDF("gen-5"), path, keep=2)
    dirs = sorted(d.name for d in root.iterdir() if d.is_dir())
    assert dirs == ["v_100", "v_3", "v_4"]  # orphan swept, history kept
    assert _read_published(path) == "gen-5"


def test_plain_writes_into_versioned_root_are_refused(tmp_path):
    """The mirror guard: append_table would land part files beside
    v_<n>/_CURRENT (mixed layout), so it must refuse."""
    path = str(tmp_path / "vtable")
    sinks.overwrite_table_versioned(_FakeDF("gen-0"), path)

    with pytest.raises(ValueError, match="version-pointer table"):
        sinks.append_table(_FakeDF("batch"), path)
    # The table is untouched and still readable.
    assert _read_published(path) == "gen-0"


def test_migration_guard_refuses_plain_table_root(tmp_path):
    """version-initializing a dir that already holds plain table files
    must be refused — writing v_0 beside root-level part files would
    leave a mixed layout path-based readers choke on."""
    path = tmp_path / "plain"
    path.mkdir()
    (path / "part-00000.parquet").write_text("plain table data")
    with pytest.raises(ValueError, match="non-versioned entries"):
        sinks.overwrite_table_versioned(_FakeDF("gen-0"), str(path))
    # The plain table is untouched.
    assert (path / "part-00000.parquet").read_text() == "plain table data"


def test_crash_window_between_data_fsync_and_pointer_publish(tmp_path, monkeypatch):
    """Round-15 verdict item #5: the narrowest crash window — the
    snapshot's data blocks are fully written AND fsynced, but the
    pointer publish (tmp write → replace) has not begun. The protocol's
    guarantee there: the previous version is still served verbatim, the
    orphaned (complete, durable, unpointed) version dir is invisible to
    readers, and the next successful refresh garbage-collects it.

    Injection point: ``uuid.uuid4()`` is the first call after the
    step-1 fsync loop and before a single pointer byte exists
    (sinks.py: ``tmp = root / f"..{uuid.uuid4().hex[:8]}"``), so
    raising there lands exactly inside the window."""
    import uuid as uuid_mod

    path = str(tmp_path / "table")
    sinks.overwrite_table_versioned(_FakeDF("gen-0"), path)
    assert _read_published(path) == "gen-0"

    fsynced: list[str] = []
    real_fsync = os.fsync

    def tracking_fsync(fd):
        fsynced.append(os.readlink(f"/proc/self/fd/{fd}"))
        return real_fsync(fd)

    def crash_before_pointer(*a, **kw):
        raise RuntimeError("simulated crash after data fsync, before pointer")

    monkeypatch.setattr(os, "fsync", tracking_fsync)
    monkeypatch.setattr(uuid_mod, "uuid4", crash_before_pointer)
    with pytest.raises(RuntimeError, match="before pointer"):
        sinks.overwrite_table_versioned(_FakeDF("gen-1"), path)
    monkeypatch.undo()

    root = Path(path)
    # The window is real: the orphan's data reached disk durably (its
    # parquet file and the dir itself were both fsynced) ...
    orphan = root / "v_1"
    assert orphan.is_dir() and (orphan / "_COMPLETE").exists()
    assert any(p.endswith("v_1/part-00000.parquet") for p in fsynced)
    assert any(p.endswith("/v_1") for p in fsynced)
    # ... yet not one pointer byte exists for it: no tmp file, and the
    # durable pointer still names (and serves) the previous version.
    assert list(root.glob(f"{sinks._CURRENT_POINTER}.tmp.*")) == []
    pointer_lines = (root / sinks._CURRENT_POINTER).read_text().splitlines()
    assert pointer_lines[0] == "v_0" and "v_1" not in pointer_lines
    assert _read_published(path) == "gen-0"

    # The orphan is GC-able: the next successful refresh sweeps it (it
    # is not on the publish history) and versions past it.
    sinks.overwrite_table_versioned(_FakeDF("gen-2"), path)
    assert _read_published(path) == "gen-2"
    dirs = sorted(d.name for d in root.iterdir() if d.is_dir())
    assert "v_1" not in dirs
    history = (root / sinks._CURRENT_POINTER).read_text().splitlines()
    assert history[0] == "v_2" and "v_1" not in history
