"""Structured Streaming index ingest: file source -> foreachBatch ->
log-committed segments.

The reference's persistent-mode reader turns an endless document
stream into bounded, individually-committed slices (dateSlicer.ts:77-83
persistent lifecycle; date-helpers.ts:267 delayedStreamSegment). The
write-side Spark-native equivalent: each micro-batch becomes ``n_parts``
new index segments through plans/manifest.ingest_segment_batch, whose
per-segment ``add`` in the index's commit log is the commit point — the
same lineage + resume machinery the batch builder uses, so a streamed
index is served, compacted, and crash-recovered identically to a
batch-built one.

Exactly-once story (no distributed transaction needed):
- the file source's checkpoint re-delivers a failed batch with the
  SAME batch_id and the same files;
- segment ids derive deterministically from batch_id, and docs hash to
  segments by content-derived doc_id;
- so re-execution skips committed segments and rebuilds uncommitted
  ones byte-identically. Idempotent replay == effectively-once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from elasticsearch_assets_spark.plans.manifest import ingest_segment_batch


def stream_index_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    index_path: str,
    checkpoint_dir: str,
    n_parts: int = 4,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    keep_positions: bool = False,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming query that ingests parquet files landing in
    ``src_dir`` into the resumable index at ``index_path``.

    available_now=True drains everything currently in the source and
    terminates (the batch-backfill / catch-up mode); False runs
    continuously on the default trigger. Restarting with the same
    ``checkpoint_dir`` processes only files not yet committed to the
    checkpoint — the streaming analogue of the batch builder's
    commit-log resume.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)

    def _sink(batch_df, batch_id: int) -> None:
        ingest_segment_batch(
            batch_df,
            index_path,
            int(batch_id),
            n_parts=n_parts,
            n_buckets=n_buckets,
            text_col=text_col,
            id_cols=id_cols,
            keep_positions=keep_positions,
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
