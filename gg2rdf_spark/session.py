"""SparkSession factory with scale-oriented defaults.

Tuned for the pipeline's shape (SURVEY.md §4): Arrow-batched pandas
UDF extraction, broadcast entity-dictionary joins, AQE with skew-join
splitting for hot conversations/entities, and shuffle partitioning
sized for local[N] testing while remaining a sensible template for a
multi-executor cluster (see docstrings on each knob).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "gg2rdf-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    if shuffle_partitions is None:
        # match local core count; on a real cluster this would be
        # ~2-3× total executor cores (set via spark-submit --conf)
        inner = master[master.find("[") + 1: master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: skew-join splitting on (north_rule skew), partition
        # COALESCING OFF.  Measured (round 3, 200k-conv corpus,
        # local[32]): coalescing cost 62.5 s -> 52.5 s without it, with
        # erratic 3-5x outlier runs (91/292 s) when it re-planned badly
        # — it serializes small-byte but CPU-heavy Arrow stages (a
        # conversation's turns are ~KB on the wire but cost ms of Python
        # each) and adds re-planning at every stage boundary.
        # This pipeline sizes its shuffles explicitly
        # (spark.sql.shuffle.partitions), which is the cluster-correct
        # practice at 100 TB anyway.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # constraint propagation is O(n²) in predicate/CASE tree size and
        # blows up planning on our wide synthetic-corpus expressions
        # (measured 222s → 7s on the transcripts derivation); the
        # pipeline gains nothing from inferred constraints (no
        # join-pruning opportunities depend on them)
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / mapInPandas extraction (A3/C1-C6)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: pushdown + pruning are defaults; keep splits
        # bounded so one skewed file can't starve executors
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
