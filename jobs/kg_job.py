"""spark-submit entry point for the KG-construction pipeline.

    spark-submit --py-files gg2rdf_spark.zip jobs/kg_job.py \
        --input  /data/transcripts_parquet \
        --output /data/triples_store \
        [--turtle-output /data/ttl] [--buckets 256] \
        [--shuffle-partitions 2048]

Reads a transcripts table (conv_id, turn_idx, role, text, tool, ts),
runs the per-conversation KG pass, and appends its triples to the
snapshot store at ``--output`` as one atomic commit whose run id names
the input files.  A rerun over the same files publishes nothing; a
crash before the publish leaves nothing visible, so the rerun commits
every triple exactly once.  A fresh build takes a fresh ``--output``.
A growing input directory belongs to the streaming runner
(``gg2rdf_spark.streaming.incremental``), which commits each new file
once.

Packaging: `cd /root/repo && zip -r gg2rdf_spark.zip gg2rdf_spark`.
On a cluster, session configs in gg2rdf_spark.session.build_session
apply except master/memory, which spark-submit controls.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="transcripts parquet dir")
    p.add_argument("--output", required=True, help="triple sink dir")
    p.add_argument("--turtle-output", default=None,
                   help="optional per-conversation Turtle parquet dir")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args()

    from gg2rdf_spark.pipeline import KGPipeline
    from gg2rdf_spark.session import build_session
    from gg2rdf_spark.sources.snapshot_store import (
        commit_append, input_run_id,
    )

    spark = build_session(
        app_name="gg2rdf-kg-job",
        shuffle_partitions=args.shuffle_partitions,
    )
    transcripts = spark.read.parquet(args.input)
    # name the input before the pipeline persists its frame: the plan
    # of a persisted frame hides the files it reads
    run_id = input_run_id(transcripts)
    pipe = KGPipeline(transcripts)
    stats = commit_append(
        pipe.triples(), args.output, n_buckets=args.buckets, run_id=run_id)
    status_counts = {
        r.status: r.n
        for r in pipe.status().groupBy("status")
        .count().withColumnRenamed("count", "n").collect()
    }
    if args.turtle_output:
        pipe.turtle().write.mode("overwrite").parquet(args.turtle_output)
    print(json.dumps({"commit": stats, "status_counts": status_counts}))
    spark.stop()


if __name__ == "__main__":
    main()
