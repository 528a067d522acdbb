"""The bulk sink's two names, over the snapshot store.

``materialize`` is one :func:`snapshot_store.commit_append`; with
``resume`` its run id names the frame's input files, so a rerun on the
same input is skipped before anything is written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .snapshot_store import commit_append, input_run_id, read_triples

__all__ = ["materialize", "read_triples"]


def materialize(
    triples: DataFrame, path: str, n_buckets: int = 32, resume: bool = True,
) -> dict:
    """Append ``triples`` to the snapshot store at ``path`` as one
    commit; ``resume=False`` commits under a fresh run id."""
    return commit_append(
        triples, path, n_buckets=n_buckets,
        run_id=input_run_id(triples) if resume else None)
