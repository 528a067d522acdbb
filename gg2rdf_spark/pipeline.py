"""KG-construction pipeline facade: one Arrow pass per conversation.

    transcripts ──repartition/sort on conv_id──▶ stream_groups
        └─▶ refimpl.transform_turns (one conversation at a time)
              └─▶ (conv_id, status, ttl, triples[]) ──▶ triples()
                                                   ├──▶ status()
                                                   └──▶ turtle()

Every output of gg2rdf is a function of one document (gg2rdf.ts:52-1532:
one parse, one registry of subjects, one serialization).  A
conversation plays that document here, so the engine shuffles the
turns once on ``conv_id``, crosses the Python boundary once per Arrow
chunk, and runs the serial per-document transform
(:mod:`gg2rdf_spark.refimpl`) on each complete conversation.  The
triples, the Status and the Turtle document all come out of the same
call, in one row per conversation; the three outputs are projections
of that row.  Memory is bounded by one Arrow chunk plus the largest
conversation (:func:`grouped.stream_groups`); a very large
conversation lands on one task, as the reference converts one
document in one process.

``parse_mentions`` still runs on its own for entity linking, which
reads the raw mention stream (:mod:`operators.linking`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from . import refimpl
from .operators.extract import parse_mentions
from .operators.grouped import stream_groups

# One row per emitted triple.  Raw comment lines (errors/warnings
# written into the document) are subj='', pred='#', obj=line.  The
# ordering columns give refimpl's emission order: ``block`` is the
# position of the subject (or raw line) in the Turtle document,
# ``subj_ord`` the predicate's insertion position within its subject,
# ``obj_ord`` the object's insertion position within that predicate.
TRIPLE_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("block", IntegerType()),
    StructField("subj_ord", LongType()),
    StructField("subj", StringType()),
    StructField("pred", StringType()),
    StructField("obj", StringType()),
    StructField("obj_ord", LongType()),
])

CONV_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("status", IntegerType()),
    StructField("ttl", StringType()),
    StructField("triples", ArrayType(TRIPLE_SCHEMA)),
])


def transform_conversation(turns: pd.DataFrame) -> list[tuple]:
    """One conversation's turns, in any order (the transform parses
    them in ``turn_idx`` order) → its single ``CONV_SCHEMA`` row."""
    conv_id = turns["conv_id"].iloc[0]
    res = refimpl.transform_turns(conv_id, [
        (int(t), x) for t, x in zip(turns["turn_idx"], turns["text"])])
    triples = []
    for block, (kind, payload) in enumerate(res.events):
        if kind == "raw":
            triples.append((conv_id, block, 0, "", "#", payload, 0))
            continue
        for p_ord, pred in enumerate(payload.properties):
            for o_ord, obj in enumerate(payload.objs(pred)):
                triples.append(
                    (conv_id, block, p_ord, payload.uri, pred, obj, o_ord))
    return [(conv_id, res.status, res.turtle(), triples)]


class KGPipeline:
    """The per-conversation frame of one transcripts input and its
    projections.  ``cache=True`` persists that frame, so the triples,
    status and Turtle outputs share one evaluation; the streaming
    runner passes ``cache=False`` (one output per micro-batch, which
    the sink persists itself)."""

    def __init__(self, transcripts: DataFrame, cache: bool = True):
        self.transcripts = transcripts
        self.mentions = parse_mentions(transcripts)
        kg = stream_groups(
            transcripts.select("conv_id", "turn_idx", "text"), "conv_id",
            transform_conversation, CONV_SCHEMA)
        self.kg = kg.persist() if cache else kg
        # The stage frames of the former relational pipeline all name
        # the one per-conversation frame: callers that count or
        # unpersist them per stage keep working, and see the one pass.
        self.docs = self.tt = self.convs = self.cits = self.kg
        self.fold = self.figs = self.mats = self.verns = self.kg

    def triples(self) -> DataFrame:
        return self.kg.select(F.inline("triples"))

    def flat_triples(self) -> DataFrame:
        """P/R-comparison shape: (conv_id, subj, pred, obj)."""
        return self.triples().select("conv_id", "subj", "pred", "obj")

    def turtle(self) -> DataFrame:
        """(conv_id, ttl): one document per conversation that emits at
        least one triple."""
        return self.kg.filter(F.size("triples") > 0).select("conv_id", "ttl")

    def status(self) -> DataFrame:
        return self.kg.select("conv_id", "status")


def kg_triples(transcripts: DataFrame, cache: bool = True) -> DataFrame:
    return KGPipeline(transcripts, cache).triples()


def precision_recall(
    ours: list[tuple], reference: list[tuple]
) -> dict[str, float]:
    """Order-insensitive triple-set P/R (oracle shape:
    /root/reference/test_noxslt.fish:34-48)."""
    a, b = set(ours), set(reference)
    inter = len(a & b)
    return {
        "precision": inter / len(a) if a else 1.0,
        "recall": inter / len(b) if b else 1.0,
        "ours": len(a), "reference": len(b), "common": inter,
    }
