"""``jobs/kg_job.py`` end to end: run the spark-submit entry point as a
subprocess on a small recipe corpus, then check what it printed and
wrote against the library in the test session."""

import json
import os
import subprocess
import sys

import pytest

from gg2rdf_spark.sources import recipe

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_CONVS = 50


def _run_job(*args: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "kg_job.py"), *args],
        env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def job(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("kg_job")
    rows = [t for doc_id in range(N_CONVS)
            for t in recipe.conversation_turns(doc_id)]
    inp = str(d / "transcripts.parquet")
    pd.DataFrame(rows).astype({"turn_idx": "int32"}).to_parquet(inp)
    sink, ttl = str(d / "sink"), str(d / "ttl")
    first = _run_job("--input", inp, "--output", sink,
                     "--turtle-output", ttl, "--buckets", "8")
    second = _run_job("--input", inp, "--output", sink, "--buckets", "8")
    return {"input": inp, "sink": sink, "ttl": ttl,
            "first": first, "second": second}


@pytest.fixture(scope="module")
def pipe(spark, job):
    from gg2rdf_spark.pipeline import KGPipeline

    p = KGPipeline(spark.read.parquet(job["input"]))
    yield p
    p.kg.unpersist()


def test_triple_counts_agree(spark, job, pipe):
    from gg2rdf_spark.sources.snapshot_store import read_triples

    n = job["first"]["commit"]["n_triples"]
    assert n > 0
    assert n == read_triples(spark, job["sink"]).count()
    assert n == pipe.triples().count()


def test_status_counts_agree(job, pipe):
    want = {str(r["status"]): r["count"]
            for r in pipe.status().groupBy("status").count().collect()}
    assert job["first"]["status_counts"] == want
    assert sum(want.values()) == N_CONVS


def test_one_turtle_document_per_conversation_with_triples(spark, job):
    from gg2rdf_spark.sources.snapshot_store import read_triples

    ttl = [r["conv_id"] for r in
           spark.read.parquet(job["ttl"]).select("conv_id").collect()]
    with_triples = {r["conv_id"] for r in read_triples(spark, job["sink"])
                    .select("conv_id").distinct().collect()}
    assert len(ttl) == len(set(ttl))
    assert set(ttl) == with_triples


def test_rerun_commits_nothing(job):
    """The commit's run id names the input files: a rerun over the same
    input publishes no version and writes no rows."""
    first, second = job["first"]["commit"], job["second"]["commit"]
    assert not first["skipped"] and first["version"] == 1
    assert second["skipped"] and second["n_triples"] == 0
    assert second["run_id"] == first["run_id"]
    assert second["version"] == first["version"]
    # one commit's data files, nothing written by the rerun
    assert len(os.listdir(os.path.join(job["sink"], "files"))) == 1
