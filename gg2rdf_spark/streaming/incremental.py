"""Incremental / streaming execution (A1 analog).

The reference's "streaming" is a git-webhook job queue with
at-least-once redelivery and idempotent per-file overwrite
(/root/reference/src/action_worker.ts:59-197) — NOT event-time
streaming.  The Spark analog is one runner,
:func:`stream_transcripts_snapshots`: a Structured Streaming file
source over newly arriving transcript files, whose ``foreachBatch``
runs the KG pass on each micro-batch and commits its triples to the
snapshot store (``sources/snapshot_store.py``), reading the batch's
input once.  foreachBatch is the right tool because the pass works one
conversation at a time and each conversation arrives whole (one file);
no cross-batch state store is needed — matching the reference's
one-document-at-a-time unit.  Bulk jobs commit to the same store,
once per job (``jobs/kg_job.py``).

Run ids are ``batch-{token}-{batch_id}``, salted per checkpoint
generation (:func:`_checkpoint_token`); a checkpoint written before
the salt keeps its unsalted ``batch-{batch_id}`` ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import KGPipeline

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _checkpoint_token(checkpoint_dir: str) -> str:
    """Stable per-checkpoint-generation salt for streaming run ids
    (round-5 ADVICE): Spark batch ids restart at 0 after a checkpoint
    is deleted, so a run_id keyed on the bare batch id would make the
    new generation's batch 0 — which may cover old AND new input —
    collide with the old generation's committed 'batch-0' and be
    skipped entirely (silent loss).  The token is created atomically
    ('x' open) alongside the checkpoint and dies with it, giving every
    checkpoint generation a fresh run-id namespace while keeping
    within-generation replays idempotent.

    A checkpoint that already holds Spark offset state but no token
    was written before run ids were salted: its batches were committed
    as ``batch-{id}``, and Spark may replay one of them.  That
    generation gets the empty token, which keeps the unsalted ids
    (:func:`_run_id`), so an upgrade cannot re-commit a batch."""
    import os
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, "gg2rdf-run-token")
    offsets = os.path.join(checkpoint_dir, "offsets")
    legacy = (not os.path.exists(p) and os.path.isdir(offsets)
              and bool(os.listdir(offsets)))
    try:
        with open(p, "x") as f:
            f.write("" if legacy else uuid.uuid4().hex[:12])
    except FileExistsError:
        pass
    with open(p) as f:
        return f.read().strip()


def _run_id(token: str, batch_id: int) -> str:
    return f"batch-{token}-{batch_id}" if token else f"batch-{batch_id}"


def stream_transcripts_snapshots(
    spark: SparkSession, in_dir: str, root: str,
    checkpoint_dir: str, n_buckets: int = 32,
):
    """readStream(files) → per-micro-batch KG pipeline → snapshot-store
    commit.  Returns the StreamingQuery (the caller awaits and stops it).

    Each micro-batch is one :func:`snapshot_store.commit_append` with
    ``run_id = batch id``.  foreachBatch delivers **at-least-once** (a
    failure between the sink write and the streaming checkpoint commit
    re-delivers the batch on restart); commit_append's run-id lineage
    turns the replay into a no-op before any data is written, and an
    attempt that crashed AFTER writing data files but BEFORE publishing
    its manifest left nothing visible (vacuum collects the orphans) —
    so the sink is **exactly-once** end-to-end with no renames,
    journals, or locks, on storage where rename is not atomic (while
    the checkpoint lives; run ids are salted with a per-checkpoint
    token, so losing the checkpoint degrades to at-least-once
    re-commits instead of silently skipping a replayed batch 0 that
    covers new input — round-5 ADVICE).  Each
    committed snapshot is then a unit of :func:`snapshot_store.
    read_changes` for downstream incremental consumers (the reference's
    per-webhook-job git push, action_worker.ts:153-196, has exactly
    this granularity)."""
    from ..sources.snapshot_store import commit_append

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    token = _checkpoint_token(checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness pre-scan: commit_append reads the batch once and
        # publishes no version for an empty one
        commit_append(
            KGPipeline(batch_df, cache=False).triples(), root,
            n_buckets=n_buckets, run_id=_run_id(token, batch_id),
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
