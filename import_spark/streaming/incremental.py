"""Incremental transcript ingest with Structured Streaming.

The reference is batch-only (GraphIngestionPipeline.java:74-77 runs
Beam batch mode) — resumability there is re-running imports per
provenance. This module is the Spark-native upgrade the SURVEY's §2.8
flags as the natural stretch: new conversation partitions landing in
the transcripts directory are picked up by a file-source stream with
``Trigger.AvailableNow`` (drain-everything-then-stop — cron-friendly),
pushed through the SAME extract→link transforms, and appended to the
statement snapshot exactly once (checkpointed source offsets make the
ingest idempotent across restarts).

Downstream stages (resolve/canonicalize/merge) remain batch jobs over
the snapshot: local-ref resolution is conversation-local, so appending
whole conversations never invalidates previously resolved ones.

``ingest_to_pipeline_snapshot`` is the production-shaped variant: it
writes the FUSED extract+link output in ``run_pipeline``'s own
checkpoint layout (class-partitioned, digest success marker,
per-partition lineage), so the batch pipeline RESUMES from the
streamed snapshot and the whole streaming path is gated by the same
end-to-end triple oracle as the batch path (queries.kg_streaming).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from import_spark.operators.extract import extract_statements
from import_spark.operators.link import link_statements
from import_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def ingest_available_now(
    spark: SparkSession,
    transcripts_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    dcid_dict,
) -> int:
    """Drain all unprocessed transcript files into the statement
    snapshot; returns the number of micro-batches processed.

    Each batch lands as its own ``_b=batch_id`` partition via dynamic
    partition overwrite (forced at the writer so a caller-supplied
    session with the static default cannot truncate the snapshot): a
    batch replayed after a crash mid-write REPLACES its partition
    instead of appending duplicates — exactly-once together with the
    checkpointed source offsets, the same idempotent-unit pattern as
    ``ingest_to_pipeline_snapshot``."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(transcripts_dir)
    )
    from import_spark.plans.kg_pipeline import _join_strategy_for

    strategy = _join_strategy_for(dcid_dict)
    n_batches = {"n": 0}

    def process(batch_df, batch_id: int) -> None:
        linked = link_statements(
            extract_statements(batch_df), dcid_dict, strategy=strategy
        )
        (
            linked.withColumn("_b", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_b")
            .parquet(snapshot_dir)
        )
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def ingest_to_pipeline_snapshot(
    spark: SparkSession,
    transcripts_dir: str,
    checkpoint_dir: str,
    dcid_dict,
    run_id: str = "run0",
    max_files_per_trigger: int = 8,
    compute_text_digest: bool = True,
) -> int:
    """Stream the transcripts directory into ``run_pipeline``'s own
    extract+link snapshot, exactly-once.

    Each micro-batch runs the fused JVM+Arrow extract+link and lands as
    its own ``(_b=batch_id, _cls=class)`` partition via dynamic
    partition overwrite — a retried batch REPLACES its partitions
    instead of appending duplicates, which with the checkpointed source
    offsets gives exactly-once even across a crash mid-write (the
    idempotent-unit pattern of the reference's Spanner
    delete-before-write, SpannerClient.java:92-137). After the drain,
    the input/dict digest marker is renamed into place — the same
    success contract ``run_pipeline`` checks before resuming — and the
    snapshot's per-partition lineage is recorded. A subsequent
    ``run_pipeline(..., checkpoint_dir=...)`` then resumes past
    extract+link FROM THE STREAMED SNAPSHOT and runs the batch
    resolve → canonicalize → merge stages over it.

    Returns the number of micro-batches processed this invocation
    (0 when the source offsets say everything was already ingested).
    """
    from import_spark.plans.kg_pipeline import (
        _link_dictionary,
        _link_plan,
        _with_cls,
        dict_digest,
        text_digest,
    )
    from import_spark.plans.lineage import write_stage_lineage

    snap = os.path.join(checkpoint_dir, run_id, "linked")
    offsets = os.path.join(checkpoint_dir, run_id, "stream_offsets")
    # the batch pipeline's dictionary gate: fused with a driver dict
    # while it fits the driver budget, else the unfused extract + join
    # link (broadcast/salted by size) — same output contract
    strategy, dmap = _link_dictionary(dcid_dict, "fused")
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(transcripts_dir)
    )
    n_batches = {"n": 0}

    def process(batch_df, batch_id: int) -> None:
        linked = _link_plan(batch_df, dcid_dict, strategy, dmap=dmap)
        out = _with_cls(linked).withColumn("_b", F.lit(batch_id))
        # dynamic overwrite forced at the writer: with the Spark
        # default (static) a caller-supplied session would truncate
        # every earlier batch's partitions on each micro-batch
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_b", "_cls")
            .parquet(snap)
        )
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", offsets)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # success marker in run_pipeline's resume format: digests of the
    # FULL drained input + the dictionary (computed batch-side; any
    # divergence between what streamed in and what the marker claims
    # makes the resume check regenerate rather than trust the snapshot)
    # ``compute_text_digest`` must mirror the downstream run_pipeline
    # call's ``verify_text_invariant`` (which records 0 when skipped),
    # or the resume check will regenerate instead of trusting the
    # streamed snapshot
    tr = spark.read.parquet(transcripts_dir)
    digest = {
        "text_digest": text_digest(tr) if compute_text_digest else 0,
        "dict_digest": dict_digest(dcid_dict),
    }
    digest_path = os.path.join(snap, "_input_digest.json")
    tmp = digest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(digest, f)
    os.replace(tmp, digest_path)
    write_stage_lineage(
        spark, snap, os.path.join(checkpoint_dir, "lineage"), run_id, "link",
        part_col="_cls",
    )
    return n_batches["n"]
