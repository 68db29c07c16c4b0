"""MERGE INTO as a reusable operator.

The reference refreshes its featured table by full rebuild
(deployment_function.py:187-208 + WRITE_TRUNCATE); ``merge_into`` is
the O(delta) alternative: apply a CDC batch (inserts, updates,
deletes) to a target in ONE equi full-outer join on the merge key.
The registry entry ``merge_upsert_cdc`` runs this operator over a CDC
batch derived from ``customer``, so its DuckDB oracle checks the code
callers import.

Scale: both sides shuffle once on the key (AQE picks the strategy;
broadcast if the batch is small). At 100 TB pair this with a
bucketed/partitioned target so the join prunes to the CDC key range
instead of re-reading the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_into(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply ``changes`` to ``target`` with MERGE semantics.

    ``changes`` carries the merge key, an ``op_col`` marker (any value;
    rows marked ``delete_op`` delete), and the new values for every
    data column it includes — a column the batch should leave untouched
    is excluded from the ``changes`` schema (columns it does include
    are set verbatim, NULLs included). Semantics per key:

    - key in both, op == delete_op        -> row dropped
    - key in both, op != delete_op        -> change columns win (update)
    - key only in target                  -> row kept unchanged
    - key only in changes (not delete)    -> row inserted

    Columns present in ``target`` but absent from ``changes`` pass
    through; columns in both coalesce change-first for matched
    non-delete rows and inserts. Column order follows ``target`` plus
    any change-only columns.
    """
    t_cols = [c for c in target.columns if c != key]
    c_cols = [c for c in changes.columns if c not in (key, op_col)]

    t = target.select(
        F.col(key), *[F.col(c).alias(f"__t_{c}") for c in t_cols]
    )
    c = changes.select(
        F.col(key),
        F.col(op_col).alias("__op"),
        *[F.col(col).alias(f"__c_{col}") for col in c_cols],
    )
    merged = t.join(c, key, "full_outer").filter(
        F.col("__op").isNull() | (F.col("__op") != delete_op)
    )

    out_cols = [F.col(key)]
    for col in t_cols + [x for x in c_cols if x not in t_cols]:
        has_t, has_c = col in t_cols, col in c_cols
        if has_t and has_c:
            # change wins whenever this row carries a change (update or
            # insert); otherwise the target value passes through.
            expr = F.when(
                F.col("__op").isNotNull(), F.col(f"__c_{col}")
            ).otherwise(F.col(f"__t_{col}"))
        elif has_t:
            expr = F.col(f"__t_{col}")
        else:
            expr = F.col(f"__c_{col}")
        out_cols.append(expr.alias(col))
    return merged.select(*out_cols)
