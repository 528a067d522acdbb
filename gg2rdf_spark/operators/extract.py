"""Stage 1 — mention extraction (SURVEY.md §2 rows A2-A3, B1-B2).

``parse_mentions`` is the Arrow-vectorized analog of the reference's
DOM parse + CSS selections (gg2rdf.ts:57-60, :136-138, :327-339): a
``mapInPandas`` over transcript turns.  Its one full-stream
exchange is the TURN repartition by conv_id feeding it
(round 4; previously a mention-level row_number window — ~15× more
rows exchanged AND sorted).  On an Iceberg table already bucketed by
conv_id the exchange disappears entirely (storage-partitioned scan).

The mention stream feeds entity linking (``operators/linking.py``);
the KG engine itself parses each conversation inside its one
per-conversation pass (``pipeline.py``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType, MapType, StringType, StructField, StructType,
)

from ..functions.markup import parse_turn

MENTION_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("start", IntegerType()),
    StructField("kind", StringType()),
    StructField("section", StringType()),
    StructField("attrs", MapType(StringType(), StringType())),
    StructField("surface", StringType()),
])

# parse output: MENTION_SCHEMA + the per-conversation document-order
# counter (assigned inside the parse; see parse_mentions docstring)
PARSED_SCHEMA = StructType(
    MENTION_SCHEMA.fields + [StructField("g_ord", IntegerType())]
)


def parse_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts → one row per mention span, with a per-conversation
    global document-order column ``g_ord``.

    The parse's ONE full-stream shuffle happens here — but on the
    RAW TURNS, not the parsed mentions: turns are repartitioned by
    conv_id and sorted by turn_idx within partitions, and the
    Arrow-batched parse then assigns ``g_ord`` with a running
    per-conversation counter.  Semantics are identical to the previous
    ``row_number() over (partitionBy conv_id orderBy turn_idx, start)``
    window because ``parse_turn`` emits mentions in strictly
    increasing ``start`` order (regex finditer) — but the exchange
    and sort now touch ~15× fewer rows (turns vs mentions) and the
    mention-level window sort disappears entirely.  At 10^12-turn
    scale this is the difference between sorting the mention stream
    and sorting the (already conv_id-bucketed, per Iceberg layout)
    turn stream.  Hot-conversation skew lands on single partitions
    exactly as the window form did (same key)."""
    from .grouped import scaled_partitions

    par = scaled_partitions(transcripts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_conv = None
        ctr = 0
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                if conv_id != cur_conv:
                    cur_conv, ctr = conv_id, 0
                for m in parse_turn(text, int(turn_idx)):
                    ctr += 1
                    rows.append(
                        (conv_id, int(turn_idx), m.start, m.kind, m.section,
                         m.attrs, m.surface, ctr)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in PARSED_SCHEMA.fields]
            )

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .repartition(par, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(gen, PARSED_SCHEMA)
    )
