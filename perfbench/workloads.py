"""The benchmark's workloads: seeded inputs, one timed iteration each,
and the correctness checks of an iteration's outputs.

Every workload drives the program only through its public functions.
An iteration takes a tracer: the untraced run passes ``NULL_TRACER``
and times the plain call sequence; the traced run passes a
:class:`tracing.Tracer`, which opens one span (and Spark job group) per
layer and, for the bulk pipeline, counts the stage frames in
dependency order so each layer's jobs run under its own group.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import statistics
import time

# conv_id is 'c' || lpad(doc_id, 7, '0') and lpad truncates, so a doc
# id of 10**7 or more would silently collide with a smaller one
DOC_ID_LIMIT = 10**7
# canonicalization node names carry 8 digits ('n' || lpad(id, 8, '0'))
NODE_ID_LIMIT = 10**8


class SeedError(ValueError):
    pass


def seed_slot(seed: int, n: int) -> int:
    """Fold any integer seed onto the ``DOC_ID_LIMIT // n`` slots of
    ``n`` conversations that fit below the limit, so every seed is a
    valid input; seeds that differ by a multiple of the slot count give
    the same input."""
    return seed % (DOC_ID_LIMIT // n)


def doc_range(slot: int, n: int) -> tuple[int, int]:
    """Doc-id range ``[lo, hi)`` of ``n`` conversations for ``slot``:
    distinct slots give disjoint ranges."""
    lo, hi = slot * n, slot * n + n
    if slot < 0 or hi > DOC_ID_LIMIT:
        raise SeedError(
            f"slot {slot} needs doc ids [{lo}, {hi}); conv ids hold 7 "
            f"digits, so ids must stay below {DOC_ID_LIMIT}")
    return lo, hi


class _NullTracer:
    enabled = False

    def span(self, name: str, group: bool = True):
        return contextlib.nullcontext({"rows_out": 0})


NULL_TRACER = _NullTracer()


class Ops:
    """Counts operations (timed public calls and correctness checks)
    and the ones that failed."""

    def __init__(self, log):
        self.attempted = 0
        self.failed = 0
        self.log = log

    def call(self, n: int = 1) -> None:
        self.attempted += n

    def compare(self, prefix: str, got: dict, want: dict) -> None:
        """One correctness check per expected key: observed output
        ``got[key]`` must equal ``want[key]``."""
        for key in sorted(want):
            self.attempted += 1
            if got.get(key) != want[key]:
                self.failed += 1
                self.log(f"check failed: {prefix}.{key}: "
                         f"{_diff(got.get(key), want[key])}")


def transcripts_source(lo: int, hi: int) -> str:
    return f"(SELECT id AS doc_id FROM range({lo}, {hi}))"


def write_transcripts(spark, lo: int, hi: int, path: str) -> int:
    from gg2rdf_spark.sources.synthsql import transcripts_sql

    spark.sql(transcripts_sql(transcripts_source(lo, hi), "spark")) \
        .write.mode("overwrite").parquet(path)
    return (hi - lo) * 5


def warm_up(spark, transcripts: str, turns: int = 100) -> None:
    """A small untimed pass of the pipeline's parse stage over the
    first ``turns`` input turns: starts the Python workers and loads
    the extraction kernels before the timed phase.  (A whole pipeline
    pass would also take the first plan compilations out of the timed
    phase, but costs 15-30 s more than it saves there.)"""
    from gg2rdf_spark.operators.extract import parse_mentions

    parse_mentions(spark.read.parquet(transcripts).limit(turns)).count()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _unpersist_pipeline(pipe) -> None:
    for df in (pipe.mentions, pipe.docs, pipe.tt, pipe.convs, pipe.cits,
               pipe.fold, pipe.figs, pipe.mats):
        df.unpersist()


def pred_counts(df) -> dict[str, int]:
    return {r["pred"]: r["n"] for r in
            df.groupBy("pred").count().withColumnRenamed("count", "n")
            .collect()}


def _diff(got, want) -> str:
    if isinstance(got, dict) and isinstance(want, dict):
        bad = [(k, got.get(k), want.get(k)) for k in sorted(
            set(got) | set(want)) if got.get(k) != want.get(k)]
        return f"{len(bad)} keys differ, first: {bad[:3]}"
    if isinstance(got, list) and isinstance(want, list):
        return f"{len(got)} vs {len(want)} items"
    return f"{got!r} vs {want!r}"


def node_name(col):
    from pyspark.sql import functions as F

    return F.concat(F.lit("n"), F.lpad(col.cast("string"), 8, "0"))


# ---------------------------------------------------------------------------
# bulk: the kg_job sequence, in-process
# ---------------------------------------------------------------------------


class Bulk:
    """The kg_job sequence — ``KGPipeline`` → ``materialize`` (32
    buckets, fresh sink) → status counts → ``turtle()`` written to
    parquet — followed by north-rule stages 2-3 on the same build:
    ``link_mentions`` of the pipeline's mentions against
    ``entity_dictionary``, ``connected_components`` over a chain alias
    graph and ``canonical_triples`` over one triple per graph node.

    The alias graph has ``n_nodes`` nodes in chains of
    ``n_nodes // stride``; the expected component of a node is the
    closed form ``node mod stride`` (relative to the seed's first
    node)."""

    name = "bulk"

    def __init__(self, n_convs: int, n_nodes: int, stride: int,
                 seed: int, work: str):
        slot = seed_slot(seed, n_convs)
        self.lo, self.hi = doc_range(slot, n_convs)
        self.n_nodes, self.stride = n_nodes, stride
        self.node_lo = slot * n_nodes
        if self.node_lo + n_nodes > NODE_ID_LIMIT:
            raise SeedError(f"slot {slot}: node ids reach {NODE_ID_LIMIT}")
        self.work = work
        self.input = os.path.join(work, "transcripts")
        self.edges = os.path.join(work, "edges")
        self.node_triples = os.path.join(work, "node_triples")

    def generate(self, spark) -> int:
        from pyspark.sql import functions as F

        rows = write_transcripts(spark, self.lo, self.hi, self.input)
        ids = spark.range(self.node_lo, self.node_lo + self.n_nodes)
        ids.filter(F.col("id") >= self.node_lo + self.stride).select(
            node_name(F.col("id")).alias("src"),
            node_name(F.col("id") - self.stride).alias("dst"),
        ).write.mode("overwrite").parquet(self.edges)
        ids.select(
            F.lit("graph").alias("conv_id"),
            node_name(F.col("id")).alias("subj"),
            F.lit("rdfs:label").alias("pred"),
            F.concat(F.lit('"'), F.col("id").cast("string"),
                     F.lit('"')).alias("obj"),
        ).write.mode("overwrite").parquet(self.node_triples)
        return rows

    def run(self, spark, ops: Ops, tr) -> dict:
        from gg2rdf_spark.operators.canonicalize import (
            canonical_triples, connected_components)
        from gg2rdf_spark.operators.linking import (
            entity_dictionary, link_mentions, mention_keys)
        from gg2rdf_spark.pipeline import KGPipeline
        from gg2rdf_spark.sources.materialize import materialize

        sink = _fresh(os.path.join(self.work, "sink"))
        ttl = _fresh(os.path.join(self.work, "ttl"))
        canonical = _fresh(os.path.join(self.work, "canonical"))
        out: dict = {"sink": sink, "ttl": ttl, "canonical": canonical,
                     "layer": {}}
        layer = out["layer"]
        t_start = time.time()
        ops.call()
        with tr.span("pipeline"):
            pipe = KGPipeline(spark.read.parquet(self.input))
            layer["pipeline.ctor_s"] = time.time() - t_start
        try:
            if tr.enabled:
                with tr.span("extract") as s:
                    s["rows_out"] = sum(
                        df.count() for df in (pipe.mentions, pipe.docs,
                                              pipe.tt))
                with tr.span("assemble") as s:
                    s["rows_out"] = sum(
                        df.count() for df in (pipe.convs, pipe.cits,
                                              pipe.fold, pipe.figs,
                                              pipe.mats, pipe.verns))
            ops.call()
            with tr.span("triples") as s:
                t0 = time.time()
                triples = pipe.triples()
                layer["triples.build_s"] = time.time() - t0
                if tr.enabled:
                    s["rows_out"] = triples.count()
            ops.call()
            with tr.span("materialize") as s:
                out["stats"] = materialize(triples, sink, n_buckets=32,
                                           resume=False)
                s["rows_out"] = out["stats"]["n_triples"]
            out["batch_commit_s"] = [time.time() - t_start]
            ops.call()
            with tr.span("triples"):
                out["status"] = {
                    str(r["status"]): r["n"] for r in
                    pipe.status().groupBy("status").count()
                    .withColumnRenamed("count", "n").collect()}
            ops.call()
            with tr.span("serialize") as s:
                pipe.turtle().write.mode("overwrite").parquet(ttl)
                if tr.enabled:
                    s["rows_out"] = spark.read.parquet(ttl).count()
                    layer["serialize.docs_out"] = s["rows_out"]
            ops.call()
            with tr.span("linking") as s:
                out["links"] = sorted(
                    [r["conv_id"], r["name_key"], r["entity_id"]] for r in
                    link_mentions(pipe.mentions, entity_dictionary(spark))
                    .select("conv_id", "name_key", "entity_id").collect())
                s["rows_out"] = len(out["links"])
                if tr.enabled:
                    keyed = mention_keys(pipe.mentions).count()
                    layer["linking.hit_ratio"] = (
                        len(out["links"]) / keyed if keyed else 0.0)
        finally:
            _unpersist_pipeline(pipe)
        ops.call(2)
        with tr.span("canonicalize") as s:
            out["labels"] = connected_components(
                spark.read.parquet(self.edges))
            canonical_triples(spark.read.parquet(self.node_triples),
                              out["labels"]).write.parquet(canonical)
            if tr.enabled:
                s["rows_out"] = spark.read.parquet(canonical).count()
        out["triples"] = out["stats"]["n_triples"]
        return out

    def observe(self, spark, out: dict) -> dict:
        """The outputs the checks compare, read back from the sinks."""
        from pyspark.sql import functions as F

        from gg2rdf_spark.functions.ttl_check import validate_turtle
        from gg2rdf_spark.sources.materialize import read_triples

        ttl = spark.read.parquet(out["ttl"])
        sample = ttl.orderBy("conv_id").limit(25).collect()

        def wrong(frame, col, expected):
            r = frame.agg(F.count(F.lit(1)).alias("n"), F.sum(
                (F.col(col) != expected).cast("int")).alias("bad")
            ).collect()[0]
            return {"n": r["n"], "bad": r["bad"]}

        return {
            "n_triples": out["stats"]["n_triples"],
            "triples_by_pred": pred_counts(read_triples(spark, out["sink"])),
            "status_counts": out["status"],
            "ttl_convs": sorted(
                r["conv_id"] for r in ttl.select("conv_id").collect()),
            "ttl_errors": [e for r in sample
                           for e in validate_turtle(r["ttl"])],
            "ttl_sampled": len(sample),
            "links": out["links"],
            "components": wrong(out["labels"], "component", self._expected(
                F.substring("node", 2, 8))),
            "canonical_triples": wrong(
                spark.read.parquet(out["canonical"]), "subj",
                self._expected(F.regexp_extract("obj", r"(\d+)", 1))),
        }

    def expect(self, oracles) -> dict:
        by_pred = oracles.triples_by_pred()
        convs = oracles.ttl_convs()
        return {
            "n_triples": sum(by_pred.values()),
            "triples_by_pred": by_pred,
            "status_counts": oracles.status_counts(),
            "ttl_convs": convs,
            "ttl_errors": [],
            "ttl_sampled": min(25, len(convs)),
            "links": oracles.links(),
            "components": {"n": self.n_nodes, "bad": 0},
            "canonical_triples": {"n": self.n_nodes, "bad": 0},
        }

    def _expected(self, node_digits):
        """Closed-form component of the node whose id is
        ``node_digits``: the first node of its chain."""
        from pyspark.sql import functions as F

        return node_name(
            F.lit(self.node_lo)
            + (node_digits.cast("long") - self.node_lo) % self.stride)


# ---------------------------------------------------------------------------
# stream: the snapshot-store streaming runner plus a downstream reader
# ---------------------------------------------------------------------------


class Stream:
    """``stream_transcripts_snapshots`` over files of ``per_file``
    conversations — ``n_files`` of them, so ``n_files / 8`` micro-batches
    (the runner's ``maxFilesPerTrigger`` is 8) — then a downstream
    reader: ``read_changes`` over the new versions, ``compact``, and
    ``read_triples``.  Closed loop: every file is present at start."""

    name = "stream"
    per_file = 25
    files_per_batch = 8  # the runner's maxFilesPerTrigger

    def __init__(self, n_files: int, seed: int, work: str):
        self.n_files = n_files
        self.n = n_files * self.per_file
        self.lo, self.hi = doc_range(seed_slot(seed, self.n), self.n)
        self.work = work
        self.input = os.path.join(work, "stream_in")

    def generate(self, spark) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gg2rdf_spark.sources.synthsql import transcripts_sql

        _fresh(self.input)
        os.makedirs(self.input)
        # Arrow, not pandas: ts grows an hour per doc id, so high seeds
        # give timestamps past the range of pandas' nanosecond type
        table = spark.sql(transcripts_sql(
            transcripts_source(self.lo, self.hi), "spark")).toArrow()
        schema = pa.schema([("conv_id", pa.string()),
                            ("turn_idx", pa.int32()),
                            ("role", pa.string()), ("text", pa.string()),
                            ("tool", pa.string()),
                            ("ts", pa.timestamp("us", tz="UTC"))])
        table = table.select(schema.names).cast(schema).sort_by(
            [("conv_id", "ascending"), ("turn_idx", "ascending")])
        rows_per_file = self.per_file * 5
        for i in range(self.n_files):
            pq.write_table(
                table.slice(i * rows_per_file, rows_per_file),
                os.path.join(self.input, f"part-{i:04d}.parquet"))
        return table.num_rows

    def run(self, spark, ops: Ops, tr) -> dict:
        from gg2rdf_spark.sources import snapshot_store as store
        from gg2rdf_spark.streaming import incremental

        root = _fresh(os.path.join(self.work, "store"))
        ckpt = _fresh(os.path.join(self.work, "ckpt"))
        out: dict = {"root": root, "layer": {}}
        layer = out["layer"]
        timings: dict[str, list[float]] = {
            "pipeline.ctor_s": [], "triples.build_s": [],
            "snapshot_store.commit_s": []}
        orig_commit = store.commit_append
        orig_pipeline = incremental.KGPipeline
        if tr.enabled:
            # Time the runner's calls into the pipeline and the store
            # from inside the micro-batch.  The spans keep the job group:
            # the micro-batch's jobs stay under the stream's group.
            def timed(layer_name, metric, fn, *a, **kw):
                with tr.span(layer_name, group=False):
                    t0 = time.time()
                    try:
                        return fn(*a, **kw)
                    finally:
                        timings[metric].append(time.time() - t0)

            class TimedPipeline(orig_pipeline):
                def __init__(self, *a, **kw):
                    timed("pipeline", "pipeline.ctor_s",
                          super().__init__, *a, **kw)

                def triples(self):
                    return timed("triples", "triples.build_s",
                                 super().triples)

            store.commit_append = functools.partial(
                timed, "snapshot_store", "snapshot_store.commit_s",
                orig_commit)
            incremental.KGPipeline = TimedPipeline
        ops.call()
        try:
            with tr.span("incremental") as inc:
                q = incremental.stream_transcripts_snapshots(
                    spark, self.input, root, ckpt)
                try:
                    q.awaitTermination(150)
                finally:
                    q.stop()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
        finally:
            store.commit_append = orig_commit
            incremental.KGPipeline = orig_pipeline
        out["query_id"] = str(q.runId)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        out["batches"] = len(progress)
        out["batch_commit_s"] = [
            p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        layer["incremental.rows_scanned_ratio"] = (
            sum(p["numInputRows"] for p in progress) / (self.n * 5))
        ops.call(3)
        with tr.span("snapshot_store") as s:
            t0 = time.time()
            out["changes"] = store.read_changes(spark, root, 0).count()
            layer["snapshot_store.read_changes_s"] = time.time() - t0
            store.compact(spark, root)
            out["by_pred"] = pred_counts(store.read_triples(spark, root))
            s["rows_out"] = out["changes"] + sum(out["by_pred"].values())
        out["triples"] = inc["rows_out"] = out["changes"]
        out["versions"] = store.current_version(root)
        layer["snapshot_store.versions"] = out["versions"]
        for metric, values in timings.items():
            if values:
                layer[metric] = statistics.median(values)
        return out

    def observe(self, spark, out: dict) -> dict:
        return {k: out[k] for k in ("batches", "versions", "changes",
                                    "by_pred")}

    def expect(self, oracles) -> dict:
        want = oracles.triples_by_pred()
        batches = -(-self.n_files // self.files_per_batch)
        return {
            "batches": batches,
            # one append per micro-batch, plus a compaction once a
            # bucket holds more than one append
            "versions": batches + (1 if batches > 1 else 0),
            "changes": sum(want.values()),
            "by_pred": want,
        }
