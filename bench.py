"""Benchmark harness (driver-run per round → BENCH_r{N}.json).

Headline: the full KG-construction pipeline (parse → bundles → fold →
assemble → dedup) at $SPARK_GRAFT_SF_DIR, reported as wall seconds
plus derived triples/sec (BASELINE.json metric).  Side queries cover
the other operator families (TPC-H-ish aggregates/joins, MinHash LSH
dedup, brute-force ANN, text quality).

Drift control (round-4 VERDICT): the sandbox box's absolute
throughput drifts by tens of percent across hours (hypervisor
neighbors) — round-over-round raw deltas are noise-dominated (round 4:
every UNCHANGED query "regressed" ~1.5-2.2×).  So this harness

* times a fixed-plan pure-JVM CONTROL (bit_xor(xxhash64) over a
  constant range, 64 partitions — identical plan every round) at the
  start and again at the end: ``control_sec`` indexes box speed for
  the run, ``control_sec_end``/``control_drift`` bound WITHIN-run
  drift.  Cross-round comparisons should use
  ``queries[q] / control_sec`` ratios, not raw seconds.
* runs every side query twice and reports the BEST (the two raw
  timings are kept in ``runs``); the cold first pass of the headline
  pipeline is kept as the headline (cold = what a fresh job pays) with
  a warm re-run reported as ``kg_pipeline_warm``.

Prints ONE JSON line:
  {"metric": "kg_pipeline_sec", "value": <sec>, "unit": "sec",
   "queries": {...per-query best sec...}, "runs": {...raw timings...},
   "control_sec": N, "control_sec_end": N, "control_drift": N,
   "sf": <sf>, "triples": N, "triples_per_sec": N, "cpus": N}

Scaling evidence (1 -> 4 executor JVMs on pinned corpora) is produced
separately by tools/scaling_cluster.py → BENCH.md (BASELINE.json
north_rule: efficiency ≥0.8 from N→4N; reported as the MEDIAN of ≥5
interleaved [N, 4N] pairs).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Fixed-plan control: 16e9-row range → xxhash64 → bit_xor, 64 input
# partitions regardless of cpus.  Pure whole-stage-codegen JVM work
# (no I/O, no Python, no shuffle beyond the final single-row agg), so
# it indexes the box's compute speed and nothing about this repo's
# code — its plan must NEVER change across rounds or the normalization
# breaks.  Sized to run ~4 s at nominal box speed (a 1 s control is
# itself JIT/scheduler-noise-dominated: measured 1.06 vs 0.83 s
# back-to-back), and each measurement is the MIN of 2 passes after a
# warm-up pass.
_CONTROL_ROWS = 16_000_000_000


def _control_once(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.range(0, _CONTROL_ROWS, 1, 64).select(
        F.expr("bit_xor(xxhash64(id)) AS x")
    ).collect()
    return round(time.time() - t0, 3)


def _control(spark) -> float:
    return min(_control_once(spark), _control_once(spark))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as E
    from gg2rdf_spark.pipeline import KGPipeline
    from gg2rdf_spark.session import build_session
    from gg2rdf_spark.sources.synthsql import transcripts_sql

    spark = build_session(
        app_name="gg2rdf-bench", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    queries: dict[str, float] = {}
    runs: dict[str, list[float]] = {}

    # -- control (timed FIRST; first pass is JIT warm-up, second is
    #    the box-speed index) -------------------------------------------
    _control_once(spark)  # JIT warm-up pass
    control_sec = _control(spark)

    # -- corpus generation (engine-side, measured separately) -----------
    tmp = tempfile.mkdtemp(prefix="bench_transcripts_")
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    t0 = time.time()
    spark.sql(transcripts_sql("documents", dialect="spark")) \
        .write.mode("overwrite").parquet(tmp)
    queries["kg_transcripts_gen"] = round(time.time() - t0, 3)

    transcripts = spark.read.parquet(tmp)
    n_turns = transcripts.count()

    # -- headline: full KG pipeline (cold) ------------------------------
    t0 = time.time()
    pipe = KGPipeline(transcripts)
    n_triples = pipe.triples().count()
    kg_sec = time.time() - t0
    queries["kg_pipeline"] = round(kg_sec, 3)

    # warm re-run (fresh stage frames, warm JVM/JIT/Python workers):
    # separates code cost from first-run compilation + box state
    pipe.kg.unpersist()
    t0 = time.time()
    pipe = KGPipeline(transcripts)
    pipe.triples().count()
    queries["kg_pipeline_warm"] = round(time.time() - t0, 3)

    t0 = time.time()
    pipe.status().count()
    queries["kg_status"] = round(time.time() - t0, 3)

    # -- side queries: best of 2 (drift control) ------------------------
    for name in ("tpch_q1", "tpch_q3", "dedup_minhash_lsh",
                 "ann_bruteforce", "text_quality", "dedup_exact",
                 "canon_cc"):
        fn = E.queries()[name]
        timings = []
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).count()
            timings.append(round(time.time() - t0, 3))
        runs[name] = timings
        queries[name] = min(timings)

    control_end = _control(spark)

    out = {
        "metric": "kg_pipeline_sec",
        "value": round(kg_sec, 3),
        "unit": "sec",
        "queries": queries,
        "runs": runs,
        "control_sec": control_sec,
        "control_sec_end": control_end,
        "control_drift": round(control_end / control_sec, 3),
        "sf": sf,
        "n_turns": n_turns,
        "triples": n_triples,
        "triples_per_sec": round(n_triples / kg_sec, 1),
        "cpus": cpus,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
