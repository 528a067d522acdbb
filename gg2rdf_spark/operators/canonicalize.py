"""Canonicalization — connected components over alias edges.

north_rule stage 3: same-URI subject merge is already relational
(dropDuplicates, triples.py); *alias* edges discovered by entity
linking (two URIs naming the same entity) need union-find.  Spark has
no built-in CC, and GraphFrames is an external package — so this is a
hand-rolled iterative smallest-label propagation via DataFrame
self-joins (SURVEY.md §4 item 2):

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated to fixpoint.  Converges in O(diameter) rounds — O(log n) with
the large-star-ish shortcut of propagating labels, and each round
``localCheckpoint``s to truncate lineage (otherwise the plan doubles
every iteration and the driver OOMs planning round ~20).

The output maps every node to its component's minimum label — the
canonical representative.  ``canonical_triples`` then rewrites
subjects/objects through that mapping (an optional mode: the
reference-parity triple set is *not* rewritten, P/R is scored on the
un-collapsed graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iter: int = 30, rows_per_partition: int = 250_000,
) -> DataFrame:
    """Returns (node, component) with component = min node id (by
    string/natural ordering) reachable from node.

    The label-propagation loop runs ~4 shuffles per round over frames
    no larger than the edge list — usually 100-1000× smaller than the
    triple stream that produced the alias edges.  With AQE partition
    coalescing disabled session-wide (session.py), those shuffles
    would otherwise run at the full session width (32+ tasks over a
    few k rows, ~6 rounds deep).  So the loop sizes a shuffle width
    from the measured edge count and applies it EXPLICITLY with
    ``repartition(width, key)`` at every shuffle boundary — never by
    mutating ``spark.sql.shuffle.partitions``, which is session-global
    and therefore races every concurrently-built plan (several
    operators read that conf at plan-build time; round-4 ADVICE).  Because both sides
    of each join arrive hash-partitioned on the join key at the SAME
    width, EnsureRequirements elides any extra exchange, so the loop's
    shuffles run at exactly ``width`` regardless of the session
    setting.  At 100 TB the edge list is large and the width scales
    with it (cap: the session width).
    """
    spark = edges.sparkSession
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Width from a cheap narrow count of the INPUT edges (no shuffle):
    # |sym| ≤ 2·|edges|, which is all the sizing heuristic needs.  The
    # round-5 form materialized the symmetric frame twice (distinct at
    # session width → count → re-repartition at loop width → count);
    # one exchange now lays the frame out at loop width directly, and
    # distinct needs no second exchange because hash(b) already
    # clusters (a, b) pairs (partition exprs ⊆ grouping exprs).
    n_edges = edges.count()
    width = max(4, min(session_width, -(-2 * n_edges // rows_per_partition)))
    sym_b = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition(width, "b")
        .distinct()
        .persist()
    )
    sym_b.count()  # materialize the persist
    try:
        return _cc_loop(sym_b, max_iter, width)
    finally:
        sym_b.unpersist()


def _label_checksum(labels: DataFrame):
    """Order-insensitive fingerprint of the (node, component) frame.

    Convergence detection: labels only ever DECREASE (least/min), so
    the assignment changed between rounds iff the multiset of pairs
    changed — compared via one cheap agg job over the checkpointed
    frame (sum of per-row xxhash64) instead of the previous
    join-new-against-old + count, which cost two repartition
    exchanges and a join per round.  A sum collision would need two
    different label states to cancel exactly in a 64-bit sum —
    negligible, and the failure mode is one early loop exit on a
    frame the caller still sees as (node, component)."""
    return labels.agg(
        # decimal sum: a long sum overflows under ANSI mode (Spark 4
        # default) once a few rows' hashes share a sign
        F.sum(F.xxhash64("node", "component").cast("decimal(38,0)"))
        .alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]


def _jump(labels: DataFrame, comp_map_src: DataFrame,
          width: int) -> DataFrame:
    """One pointer-jump (path-halving) step:
    label(v) ← min(label(v), map(label(v))) where ``comp_map_src``
    supplies the node→component map.  The map side is expected to
    arrive hash-partitioned on ``node`` at ``width`` (a Project alias
    preserves it), so the only exchange is the left side's repartition
    by ``component``."""
    comp_map = comp_map_src.select(
        F.col("node").alias("c_node"), F.col("component").alias("c_comp")
    )
    return (
        labels.repartition(width, "component")
        .join(comp_map, F.col("component") == comp_map["c_node"], "left")
        .select(
            F.col("node"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("c_comp"), F.col("component")),
            ).alias("component"),
        )
    )


def _cc_loop(sym_b: DataFrame, max_iter: int, width: int) -> DataFrame:
    # seed from the b side: sym_b is persisted hash(b, width), so the
    # distinct needs no exchange (the symmetric frame's b column covers
    # every node)
    labels = (
        sym_b.select(F.col("b").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    prev = _label_checksum(labels)
    for _ in range(max_iter):
        # One re-layout of the checkpointed labels per round (a
        # localCheckpoint loses partitioning info); every other join in
        # the round then lines up on inherited hash partitioning:
        #   nbr:      sym_b hash(b) ⋈ lab_p renamed node→b   (no exch)
        #   stepped:  lab_p hash(node) ⋈ nbr agg hash(node)  (no exch)
        #   jumps:    map side = stepped hash(node)          (no exch)
        # leaving 4 exchanges/round (labels→node, nbr→a, 2× jump left
        # side→component) vs 7 in the round-5 form.
        lab_p = labels.repartition(width, "node").persist()
        nbr = (
            sym_b.join(lab_p.withColumnRenamed("node", "b"), "b")
            .repartition(width, "a")
            .groupBy("a").agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("a", "node")
        )
        stepped = (
            lab_p.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
            # feeds the jump left side AND both jump maps below;
            # unpersisted, the neighbor-min lineage would re-run per
            # consumer within the checkpoint job
            .persist()
        )
        # TWO pointer-jump (path-halving) steps per round (round 6):
        # both jumps map through the persisted ``stepped`` frame, so
        # reach per round goes from ~2× to ~3× while the map side adds
        # no exchange — the round count (each round pays a checkpoint
        # job, a checksum job, and the neighbor-min join) drops by
        # ~1/3.  The per-round frames stay edge-list-sized at any
        # scale, so the trade holds at cluster widths too.
        j1 = _jump(stepped, stepped, width)
        new_labels = _jump(j1, stepped, width).localCheckpoint()
        lab_p.unpersist()
        stepped.unpersist()
        cur = _label_checksum(new_labels)
        labels = new_labels
        if cur == prev:
            break
        prev = cur
    return labels


def canonical_map(labels: DataFrame) -> DataFrame:
    """(alias_uri, canonical_uri) pairs, identity rows dropped."""
    return labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("alias_uri"),
        F.col("component").alias("canonical_uri"),
    )


def canonical_triples(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the component map (broadcast when the
    alias set is small — it usually is relative to the triple set)."""
    m = F.broadcast(canonical_map(labels))
    t = triples
    t = (
        t.join(m.withColumnRenamed("alias_uri", "subj"), "subj", "left")
        .withColumn("subj", F.coalesce("canonical_uri", "subj"))
        .drop("canonical_uri")
    )
    t = (
        t.join(m.withColumnRenamed("alias_uri", "obj"), "obj", "left")
        .withColumn("obj", F.coalesce("canonical_uri", "obj"))
        .drop("canonical_uri")
    )
    return t.dropDuplicates(["conv_id", "subj", "pred", "obj"])
