"""The registry's DuckDB oracle comparison, reused from
``tools/check_correctness.py``."""

from __future__ import annotations

import sys

from .gen import REPO

sys.path.insert(0, str(REPO / "tools"))
try:
    from check_correctness import TABLES, equalize_null_columns, frame_normalize
finally:
    sys.path.pop(0)


def compare(got, want) -> str:
    """"" when the Spark frame ``got`` matches the oracle frame ``want``
    by the checker's rules (column names, row count, dtype families and
    order-insensitive values); otherwise what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    gdt, grows = frame_normalize(got)
    wdt, wrows = frame_normalize(want)
    equalize_null_columns(gdt, wdt)
    if gdt != wdt:
        return f"dtypes {gdt} != {wdt}"
    if grows != wrows:
        return "values differ"
    return ""


__all__ = ["TABLES", "compare"]
