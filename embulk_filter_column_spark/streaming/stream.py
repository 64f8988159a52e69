"""Structured-Streaming mode of the CDC pipeline (SURVEY.md §2.3).

``readStream`` tails the WAL directory as a file stream
(``WalReader.stream``); ``foreachBatch`` runs every micro-batch through
the batch pipeline's own per-batch body (``CDCPipeline._apply_batch``)
under batch id epoch + 1, so exactly-once composes from (streaming
checkpoint offsets) × (batch-id-idempotent sink commits) — the standard
Spark recipe for transactional foreachBatch sinks. Each epoch writes the
same ``_lineage`` and ``_metrics`` rows as a batch run, with NULL WAL
offsets; a replayed epoch keeps the rows of its first run.

Last-writer-wins MERGE is order-insensitive (tombstones retained), so
late data folds in correctly without watermarking; a watermark is only
needed if a bounded-state windowed aggregate is added on top.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..cdc.pipeline import CDCPipeline


class StreamingCDC:
    def __init__(self, spark: SparkSession, wal_path: str, lake_path: str,
                 checkpoint_path: str, filter_config=None,
                 key: str = "url", order: tuple = ("warc_ts", "seq"),
                 num_buckets: int = 64,
                 max_files_per_trigger: int | None = None,
                 merge_mode: str = "cow",
                 dedup_index=None, dedup_text_col: str = "text",
                 dlq_path: str | None = None):
        """``merge_mode="delta"`` is the natural fit for streaming: a
        trickle of small micro-batches appends O(batch) delta files per
        epoch instead of rewriting every touched bucket, with
        ``table().compact()`` as the maintenance pass (see
        LakeTable.merge).

        ``dedup_index`` enables the same content-dedup-at-ingest as
        the batch pipeline (CDCPipeline docstring): each micro-batch's
        upserts are checked against all previously accepted content
        before the merge. The index journal keys on the streaming
        epoch id — epoch replay after a crash returns the journaled
        accept/reject decision, composing with the lake's idempotent
        commits to keep exactly-once.

        ``dlq_path`` enables the batch pipeline's dead-letter queue in
        the streaming path: unmergeable micro-batch events (NULL key,
        unknown op, NULL order column) divert to
        ``dlq_path/batch=<epoch+1>/`` — deterministic per-epoch
        overwrite, replay-idempotent; read via ``dlq()``.

        Every epoch journals one ``_lineage`` and one ``_metrics`` row
        under the lake path (cdc.metrics), keyed by batch id epoch + 1,
        with NULL ``chunk_lo``/``chunk_hi``."""
        self.checkpoint_path = checkpoint_path
        self.max_files_per_trigger = max_files_per_trigger
        # one pipeline for the life of the stream — per-epoch
        # construction would re-derive checkpoint/journal state and
        # re-compile the rule tree every micro-batch (VERDICT r1 item 6)
        self._pipeline = CDCPipeline(
            spark, wal_path, lake_path,
            os.path.join(checkpoint_path, "_sink_cp"),
            filter_config=filter_config, key=key, order=order,
            num_buckets=num_buckets, merge_mode=merge_mode,
            dedup_index=dedup_index, dedup_text_col=dedup_text_col,
            dlq_path=dlq_path)

    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        # epoch ids are 0-based and replayed on recovery; the lake skips
        # batch ids it has already committed
        self._pipeline._apply_batch(batch_df, epoch_id + 1)

    def run_available_now(self) -> None:
        """Drain everything currently in the WAL, then stop (the
        streaming analog of CDCPipeline.run())."""
        q = (self._pipeline.reader.stream(self.max_files_per_trigger)
             .writeStream
             .foreachBatch(self._apply)
             .option("checkpointLocation", self.checkpoint_path)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    def dlq(self):
        """Quarantined events across all processed epochs."""
        return self._pipeline.dlq()

    def table(self):
        return self._pipeline.table()
