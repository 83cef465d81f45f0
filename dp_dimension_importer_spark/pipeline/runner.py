"""Pipeline runners: batch and Structured Streaming (reference §3.1 flow).

Streaming shape: ``readStream(events) → strict decode → foreachBatch {
run_import → ordered sink writes }`` with checkpointing. foreachBatch gives
the reference's batch-scoped staging (SURVEY.md §1.4): within a micro-batch
the sink order is nodes → edges → patches → completion, and a failure
aborts the batch before later stages run; checkpoint + idempotent writes
turn redelivery into a no-op (at-least-once + idempotent ≥ the reference's
at-most-once).

Driver-side state per micro-batch is bounded by the batch, never by the
graph's history: the distinct instance ids of its payloads (collected one
row per payload, with a NULL row per dead letter) and the new-id list that
``importer.resolve`` derives from them."""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from dp_dimension_importer_spark.pipeline import importer, sources
from dp_dimension_importer_spark.pipeline.sinks import (
    ParquetGraphStore,
    jsonl_event_sink,
    patch_sink,
)


def import_batch(
    raw_events: DataFrame,
    instances: DataFrame,
    dimensions: DataFrame,
    code_lists: DataFrame,
    store: ParquetGraphStore,
    patch_send: Callable[[str, list[dict]], None],
    completed_dir: str,
    dead_letter_dir: str,
    enable_patch_node_id: bool = True,
) -> importer.ImportResult:
    """One micro-batch end to end, sinks applied in the reference's stage
    order (fail-fast between stages — a sink error leaves later stages
    unexecuted, mirroring handler tests :247-304).

    The batch is resolved once: one collect reads its instance ids and
    whether it has dead letters, the commit-record probe reads only those
    ids' partitions of the graph, and ``run_import`` collects the new ids.
    Every sink then runs a small plan filtered on that literal list, and
    with no new ids the graph, patch and completion sinks run no job."""
    # Several sinks read the payloads; keep them in memory rather than
    # recompute their source for each (the foreachBatch idiom).
    raw_events.persist()
    try:
        events, dead = sources.decode_events(raw_events)
        valid, rejected = importer.validate_events(events)
        dead_all = dead.unionByName(
            rejected.select(rejected.instance_id.alias("payload"), "reason")
        )
        # one row per payload: its instance id, or NULL for a dead letter
        no_id = F.lit(None).cast("string").alias("instance_id")
        seen = {
            r[0]
            for r in valid.select("instance_id")
            .unionByName(dead_all.select(no_id))
            .collect()
        }
        result = importer.run_import(
            events,
            instances,
            dimensions,
            code_lists,
            existing_nodes=store.nodes(sorted(seen - {None})),
            enable_patch_node_id=enable_patch_node_id,
        )
        # Stage order: dead letters first (bad payloads are never lost),
        # then dimension nodes → edges → patches → completed, and the
        # INSTANCE node LAST — it is the batch's COMMIT RECORD. The
        # instance-exists skip (R9, handler test :939-968) keys on that
        # node, so writing it first (the reference's call order) would
        # turn a crash between it and the later sinks into a permanently
        # half-imported instance that every redelivery then skips.
        # Writing it last makes redelivery semantics exact: node absent →
        # reprocess (row-idempotent sinks swallow any partial writes);
        # node present → every prior stage provably ran, so the skip is
        # safe. Net guarantee: graph store exactly-once OBSERVABLE,
        # completion events at-least-once (only a crash inside the
        # completed→instance-node window can duplicate one — the same
        # contract a Kafka producer gives). Fail-fast between stages is
        # unchanged (handler tests :247-304).
        if None in seen:
            jsonl_event_sink(dead_all, dead_letter_dir)
        if result.new_ids:
            store.write_nodes(result.dimension_nodes)
            store.write_edges(result.edges)
            patch_sink(result.patches, patch_send)
            jsonl_event_sink(result.completed, completed_dir)
            store.write_nodes(result.instance_nodes)
        return result
    finally:
        raw_events.unpersist()


def run_stream(
    spark: SparkSession,
    event_dir: str,
    instances: DataFrame,
    dimensions: DataFrame,
    code_lists: DataFrame,
    out_dir: str,
    patch_send: Callable[[str, list[dict]], None],
    checkpoint_dir: str | None = None,
):
    """The service loop as a streaming query over a growing event dir.
    Returns the started StreamingQuery (caller awaits/stops — graceful
    shutdown = query.stop() + checkpoint recovery, R23)."""
    store = ParquetGraphStore(spark, os.path.join(out_dir, "graph"))
    completed_dir = os.path.join(out_dir, "completed")
    dead_dir = os.path.join(out_dir, "dead_letter")
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="import_ckpt_")

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        import_batch(
            batch_df,
            instances,
            dimensions,
            code_lists,
            store,
            patch_send,
            completed_dir,
            dead_dir,
        )

    return (
        sources.read_event_stream(spark, event_dir)
        .writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
