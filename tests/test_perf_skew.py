"""Skew + plan-shape checks (north_rule: hot conversations / hot
entities; SURVEY.md §4)."""

import pytest
from pyspark.sql import functions as F


def _hot_corpus(spark, n_normal=40, hot_turns=400):
    """n_normal ordinary conversations + ONE conversation with
    ``hot_turns`` mention-bearing turns (the 1000× hot-conv fixture,
    FIXTURES.md §1.2), plus one entity mentioned in half the convs."""
    from gg2rdf_spark.sources import recipe

    rows = []
    for doc_id in range(n_normal):
        for t in recipe.conversation_turns(doc_id):
            rows.append((t["conv_id"], t["turn_idx"], t["role"], t["text"],
                         t["tool"]))
    # the hot conversation: header + many description turns with figures
    doc0 = ('[[document docId=HOT docAuthor="Smith, A" docDate=2020 '
            'docTitle="hot"]] [[mods authors="Smith, A" '
            'classification=book]]')
    rows.append(("hot", 0, "user", doc0, None))
    rows.append((
        "hot", 1, "assistant",
        "[[taxonomicName section=nomenclature rank=species "
        "kingdom=Animalia genus=Saigona species=calida "
        "authorityName=Smith authorityYear=2020 status=\"sp. nov.\"]]"
        "S. calida[[/]]", None,
    ))
    for i in range(hot_turns):
        rows.append((
            "hot", 2 + i, "assistant",
            f'Fig ref. [[figureCitation httpUri="http://dx.doi.org/10.5281/'
            f'zenodo.{9000 + i % 37}" captionText="F{i}"]] '
            f"[[materialsCitation id=h{i} specimenCode=\"HM {i}\"]]", None,
        ))
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string",
    )


@pytest.mark.slow
def test_hot_conversation_correct(spark):
    """The 1000×-skewed conversation still produces exactly the oracle
    triple set (and doesn't blow up any stage)."""
    from collections import defaultdict

    from gg2rdf_spark import refimpl
    from gg2rdf_spark.pipeline import KGPipeline, precision_recall

    tr = _hot_corpus(spark).cache()
    turns = defaultdict(list)
    for r in tr.collect():
        turns[r.conv_id].append((r.turn_idx, r.text))
    ref = []
    for cid, ts in turns.items():
        for s, p, o in refimpl.transform_turns(cid, ts).triples():
            ref.append((cid, s, p, o))
    ours = [(r.conv_id, r.subj, r.pred, r.obj)
            for r in KGPipeline(tr).flat_triples().collect()]
    pr = precision_recall(ours, ref)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr


def test_parquet_pushdown(spark):
    """Filters and column pruning reach the parquet scan (SURVEY §4)."""
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter((F.col("event_type") == "error") & (F.col("value") > 5))
        .select("event_id", "user_id")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "event_type" in plan
    # pruned read schema: only the needed columns are read
    assert "value" in plan and "props" not in plan.split("ReadSchema")[1][:200]


def test_broadcast_join_selected(spark):
    """The linking dictionary join compiles to a broadcast hash join."""
    from gg2rdf_spark.operators.extract import parse_mentions
    from gg2rdf_spark.operators.linking import entity_dictionary, link_mentions
    from gg2rdf_spark.sources.synthsql import transcripts_sql

    tr = spark.sql(transcripts_sql(
        "(SELECT id AS doc_id FROM range(20))", dialect="spark"))
    out = link_mentions(parse_mentions(tr), entity_dictionary(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

