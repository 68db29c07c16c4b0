"""Shared DuckDB-oracle CTE generators.

The unrolled-SQL oracles for the trained-model queries (k-means, IVF)
repeat the same Lloyd-iteration CTE block; this module is the single
source of that text so the two recipes cannot drift apart. The emitted
SQL is byte-identical to what the per-query generators produced before
the extraction (verified by string equality over all 175 registered
oracles at the refactor commit).

Oracle strings are materialized at registration, so an edit here changes
the oracle of every entry that embeds the generated text, exactly as if
the SQL were edited in place: re-run ``tools/check_correctness.py`` over
those entries.
"""

from __future__ import annotations

# The shared corpus CTE: embeddings as DOUBLE lists.
PTS_CTE_LINES = [
    "WITH pts AS (",
    "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
    "  FROM embeddings",
    "),",
]


def lloyd_iter_ctes(it: int, src: str, dist: str, rng: str) -> list[str]:
    """One Lloyd iteration as CTE lines: assign `src` rows to the
    nearest `c{it-1}` centroid (ties to the lowest cid), micro-unit
    centroid update (exact BIGINT sum then round(s/n)/1e6 — identical
    integers on both engines, so no aggregation-order drift can cross a
    rounding boundary), and carry forward any centroid whose cell went
    empty."""
    prev = f"c{it - 1}"
    return [
        f"a{it} AS (",
        f"  SELECT p.vec_id, p.v, c.cid, {dist} AS d",
        f"  FROM {src} p CROSS JOIN {prev} c",
        "),",
        f"s{it} AS (",
        "  SELECT vec_id, v, cid AS cluster FROM (",
        "    SELECT vec_id, v, cid,",
        "           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn",
        f"    FROM a{it}",
        "  ) WHERE rn = 1",
        "),",
        f"m{it} AS (",
        "  SELECT cluster AS cid, i,",
        "         round(sum(CAST(round(v[i] * 1000000) AS BIGINT))"
        " / count(*)) / 1000000.0 AS m",
        f"  FROM s{it}, UNNEST({rng}) AS t(i)",
        "  GROUP BY cluster, i",
        "),",
        f"c{it} AS (",
        f"  SELECT {prev}.cid,",
        f"         coalesce(n.cv, {prev}.cv) AS cv",
        f"  FROM {prev} LEFT JOIN (",
        f"    SELECT cid, list(m ORDER BY i) AS cv FROM m{it} GROUP BY cid",
        "  ) n USING (cid)",
        "),",
    ]
