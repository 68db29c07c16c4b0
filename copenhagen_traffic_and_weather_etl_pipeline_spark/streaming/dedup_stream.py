"""Streaming corpus dedup: the incremental MinHash-LSH path
(operators/dedup.py) mounted inside the reference's hourly-tick
architecture (streaming/__init__.py ingest_and_refresh — the Spark-first
replacement for deployment_function.py's cron loop).

Each micro-batch of new documents is deduplicated against the PERSISTENT
band-bucket index (parquet on disk, so it survives query restarts and is
shared across jobs), then the accepted documents and their index rows are
appended. Per-tick work is O(batch + index) — the corpus documents are
never re-scanned, but the batch-vs-index semi-join scans the whole band
index (4 rows per accepted doc) every tick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..operators.dedup import incremental_dedup

_INDEX_SCHEMA_NATIVE = "doc_id long, band_idx int, band_key long"
_INDEX_SCHEMA_PORTABLE = "doc_id long, band_idx int, band_key string"


def _read_index(spark: SparkSession, index_path: str, portable: bool) -> DataFrame:
    """The persistent band-bucket index; empty-with-schema before the
    first batch ever commits (bootstrap)."""
    try:
        return spark.read.parquet(index_path)
    except AnalysisException:
        schema = _INDEX_SCHEMA_PORTABLE if portable else _INDEX_SCHEMA_NATIVE
        return spark.createDataFrame([], schema)


def dedup_ingest_stream(
    docs_stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    portable: bool = False,
):
    """foreachBatch writer: dedup each micro-batch against the index and
    itself, append survivors to ``accepted_path`` and their bucket rows
    to ``index_path``. Returns the started StreamingQuery.

    The batch is persisted across the two write actions so signatures
    are computed once; the index append happens LAST so a mid-batch
    failure replays against the pre-batch index (foreachBatch replays
    the whole batch — appends of the same accepted set are idempotent
    per doc_id for downstream consumers that dedup on read, and the
    checkpoint prevents reprocessing committed batches).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            index = _read_index(spark, index_path, portable)
            accepted, new_index_rows = incremental_dedup(
                index, batch_df, portable=portable
            )
            # Materialize the decision once; both writes reuse it.
            new_index_rows = new_index_rows.localCheckpoint(eager=True)
            accepted.write.mode("append").parquet(accepted_path)
            new_index_rows.select("doc_id", "band_idx", "band_key").write.mode(
                "append"
            ).parquet(index_path)
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_dedup_tick(
    spark: SparkSession,
    docs_dir: str,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    portable: bool = False,
) -> None:
    """One availableNow tick over a document drop directory — the batch
    twin of the hourly trigger (new parquet files land, get deduped,
    the query drains and stops)."""
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(docs_dir)
    )
    q = dedup_ingest_stream(stream, index_path, accepted_path, checkpoint, portable)
    q.awaitTermination()


__all__ = ["dedup_ingest_stream", "run_dedup_tick"]
