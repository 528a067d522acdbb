"""gg2rdf-spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload bulk --seed 0 --seconds 10 --trace 0

Runs from the root of a source checkout: the program is imported from
there, and everything the run writes (inputs, sinks, Spark scratch,
event logs, the oracle cache, span files) stays under ``.perfbench/``
in that checkout.  Spark runs ``local[4]`` in this process.

Phases: set-up (session start, seeded input generation — repeated
three times, the median counts — and an untimed warm-up pass on a
small input), then the timed phase: whole workload iterations repeated
until ``--seconds`` have passed, then the correctness checks of the
last iteration's outputs against DuckDB oracles.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs one
untraced and one traced iteration, turns the Spark event log and the
harness's spans into per-layer metrics, and writes the spans to
``.perfbench/traces/``.  The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
import uuid

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-workload sizes (README.md says why each was chosen)
SIZES = {
    "bulk": {"n_convs": 1000, "n_nodes": 10000, "stride": 100},
    "stream": {"n_files": 8},
}
GEN_REPEATS = 3
CPUS = 4

LAYERS = ("session", "synthsql", "pipeline", "extract", "assemble",
          "triples", "serialize", "materialize", "snapshot_store",
          "incremental", "linking", "canonicalize")
LAYER_COUNTERS = ("busy_s", "self_s", "jobs", "tasks", "executor_run_s",
                  "executor_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
                  "rows_out")
LAYER_SPECIFIC = ("pipeline.ctor_s", "pipeline.gate_jobs",
                  "triples.build_s", "serialize.docs_out",
                  "materialize.input_evaluations",
                  "materialize.bytes_written", "snapshot_store.versions",
                  "snapshot_store.commit_s",
                  "snapshot_store.read_changes_s",
                  "incremental.rows_scanned_ratio", "linking.hit_ratio",
                  "tracing.overhead_s")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def make_workload(name: str, seed: int, work: str):
    from perfbench.workloads import Bulk, Stream

    cls = {"bulk": Bulk, "stream": Stream}[name]
    return cls(seed=seed, work=work, **SIZES[name])


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def layer_metrics(tracer, evlog_dir: str, layer_extra: dict,
                  alias: dict) -> dict[str, float]:
    from perfbench.tracing import layer_times, parse_event_log

    lines = []
    for name in sorted(os.listdir(evlog_dir)):
        with open(os.path.join(evlog_dir, name)) as f:
            lines.extend(f)
    counters = parse_event_log(lines, tracer.spans, alias)
    times = layer_times(tracer.spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        c = counters.get(layer, {})
        t = times.get(layer, {})
        for k in LAYER_COUNTERS:
            out[f"{layer}.{k}"] = float(t.get(k, c.get(k, 0.0)))
    out["pipeline.gate_jobs"] = counters.get("pipeline", {}).get("jobs", 0)
    mat = counters.get("materialize", {})
    out["materialize.input_evaluations"] = mat.get("input_evaluations", 0)
    out["materialize.bytes_written"] = mat.get("bytes_written", 0)
    for k in LAYER_SPECIFIC:
        out.setdefault(k, float(layer_extra.get(k, 0.0)))
    return {k: float(v) for k, v in out.items()}


def run(args, base: str, work: str) -> dict:
    from perfbench.oracles import Oracles
    from perfbench.tracing import Tracer
    from perfbench.workloads import NULL_TRACER, Ops, warm_up

    run_id = uuid.uuid4().hex[:12]
    wl = make_workload(args.workload, args.seed, work)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every scratch file of Spark, the JVM and Python workers
    # inside the checkout
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(work, "tmp"),
        # cap the driver heap below the session's 8g default: with 3g
        # the process tree already peaks at ~4.5 GB resident
        "SPARK_GRAFT_DRIVER_MEM": "3g",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from gg2rdf_spark.session import build_session

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    evlog = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(evlog)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # count the stage frames layer by layer instead of in
            # concurrent eager waves
            "spark.gg2rdf.eagerCache": "false",
        })
    oracles = Oracles(os.path.join(base, "cache"), wl.lo, wl.hi)
    oracles.start()
    ops = Ops(log)
    tracer = Tracer(run_id)
    setup_tr = tracer if args.trace else NULL_TRACER
    with setup_tr.span("session"):
        spark = build_session(app_name="perfbench", master=f"local[{CPUS}]",
                              shuffle_partitions=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if args.trace:
        tracer.spark = spark
    session_s = time.time() - T_PROCESS
    try:
        gen_s = []
        for i in range(GEN_REPEATS):
            last = i == GEN_REPEATS - 1
            with (setup_tr if last else NULL_TRACER).span("synthsql") as s:
                t = time.time()
                s["rows_out"] = wl.generate(spark)
                gen_s.append(time.time() - t)
        t = time.time()
        warm_up(spark, wl.input)
        warm_s = time.time() - t
        setup_s = session_s + _median(gen_s) + warm_s
        log(f"setup: session {session_s:.2f}s, generate "
            f"{[round(g, 2) for g in gen_s]}s, warm-up {warm_s:.2f}s")

        oracles.wait()  # the oracle query must not overlap the timed phase
        walls, rates, outs = [], [], []
        extra: dict = {}
        t_phase = time.time()
        while True:
            t = time.time()
            try:
                out = wl.run(spark, ops, NULL_TRACER)
            except Exception:  # a failed call fails the iteration
                ops.failed += 1
                log(traceback.format_exc())
                break
            wall = time.time() - t
            walls.append(wall)
            rates.append(out["triples"] / wall)
            outs.append(out)
            log(f"iteration {len(walls)}: {wall:.2f}s")
            if args.trace or time.time() - t_phase >= args.seconds:
                break
        if args.trace and outs:
            t = time.time()
            try:
                traced = wl.run(spark, ops, tracer)
                extra = traced["layer"]
                extra["tracing.overhead_s"] = (time.time() - t) - walls[0]
                outs.append(traced)
            except Exception:
                ops.failed += 1
                log(traceback.format_exc())
        if outs:
            try:
                ops.compare(wl.name, wl.observe(spark, outs[-1]),
                            wl.expect(oracles))
            except Exception:
                ops.failed += 1
                log(traceback.format_exc())
        commits = [c for o in outs for c in o.get("batch_commit_s", [])]
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (_median(walls), "s"),
            "triples_per_s": (_median(rates), "1/s"),
            "batch_commit_s": (_median(commits), "s"),
        }
        alias = {outs[-1]["query_id"]: "incremental"} if (
            outs and "query_id" in outs[-1]) else {}
    finally:
        try:
            _stop_spark(spark)
        finally:
            # a DuckDB query still running at interpreter exit aborts it
            oracles.wait()
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        span_path = os.path.join(
            base, "traces", f"{args.workload}-seed{args.seed}-{run_id}.jsonl")
        tracer.write(span_path)
        log(f"spans written to {span_path}")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in
                   layer_metrics(tracer, evlog, extra, alias).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": ops.failed == 0, "attempted": max(ops.attempted, 1),
            "failed": ops.failed, "metrics": metrics}


def _unit(metric: str) -> str:
    k = metric.split(".", 1)[1]
    if k.endswith("_s"):
        return "s"
    if k.endswith("_mb"):
        return "MB"
    if k == "bytes_written":
        return "bytes"
    if k.endswith("ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    import shutil

    from perfbench.workloads import SeedError

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    try:
        result = run(args, base, work)
    except SeedError as e:
        log(str(e))
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the checkout, not this directory
    sys.exit(main())
