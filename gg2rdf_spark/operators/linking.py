"""Entity linking — mention ⋈ canonical dictionary (north_rule stage 2).

Scores taxon-name mentions against a canonical entity dictionary on a
normalized name key.  Join strategy:

* ``link_mentions`` — plain **broadcast** hash join: the dictionary is
  small relative to the mention stream (the common case), so the big
  side never shuffles.
* ``link_mentions_salted`` — the skew-safe variant for when the
  dictionary is too big to broadcast AND some keys are hot (one entity
  mentioned in 50% of conversations — the north_rule skew scenario):
  the mention side gets a salt ``pmod(hash(conv_id), S)`` and the
  dictionary explodes ×S, so a hot key spreads over S reducers instead
  of one.  Results are identical to the plain join (dedup after).

The dictionary itself (``entity_dictionary``) is derived
deterministically from the corpus name pools (FIXTURES.md §2) and
lists each entity's alias forms (abbreviated genus 'X. species').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.synthsql import GENUS, SPECIES


def entity_dictionary(spark) -> DataFrame:
    """Canonical (entity_id, name_key, kingdom, aliases) rows for every
    genus × species pool combination, plus alias keys (abbreviated
    genus) for canonicalization."""
    rows = []
    for g in GENUS:
        for s in SPECIES:
            eid = f"http://taxon-name.plazi.org/id/Animalia/{g}_{s}"
            rows.append((eid, f"{g.lower()} {s}", "Animalia",
                         [f"{g[0].lower()}. {s}"]))
    return spark.createDataFrame(
        rows, "entity_id string, name_key string, kingdom string, "
              "aliases array<string>"
    )


def mention_keys(mentions: DataFrame) -> DataFrame:
    """Normalized join key for taxonomicName mentions: lower(genus
    species) — the normalizeSpace+removePunctuation path reduces to
    this for pool names (kernels do the general case; the linker keys
    on the cheap normalized form)."""
    return (
        mentions.filter(
            (F.col("kind") == "taxonomicName")
            & F.col("attrs")["genus"].isNotNull()
            & F.col("attrs")["species"].isNotNull()
        )
        .select(
            "conv_id", "turn_idx", "start",
            F.lower(
                F.concat_ws(
                    " ",
                    F.regexp_replace(F.col("attrs")["genus"], r"[^\w\-]", ""),
                    F.regexp_replace(F.col("attrs")["species"], r"[^\w\-]", ""),
                )
            ).alias("name_key"),
        )
    )


def link_mentions(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Broadcast hash join on name_key (exact-match score 1.0)."""
    keys = mention_keys(mentions)
    return keys.join(
        F.broadcast(dictionary.select("entity_id", "name_key")), "name_key",
    ).select("conv_id", "turn_idx", "start", "name_key", "entity_id",
             F.lit(1.0).alias("score"))


def link_mentions_salted(
    mentions: DataFrame, dictionary: DataFrame, salts: int = 8
) -> DataFrame:
    """Shuffle hash join with explicit key salting for hot entities.

    Mention side: salt = pmod(hash(conv_id, start), S).
    Dictionary side: exploded ×S.  Join on (name_key, salt) — identical
    output to the plain join, but a hot name_key fans out over S
    reducer partitions (plus AQE skew splitting on top)."""
    keys = mention_keys(mentions).withColumn(
        "salt", F.pmod(F.hash("conv_id", "start"), F.lit(salts))
    )
    dict_salted = dictionary.select("entity_id", "name_key").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    return keys.join(dict_salted, ["name_key", "salt"]).select(
        "conv_id", "turn_idx", "start", "name_key", "entity_id",
        F.lit(1.0).alias("score"),
    )
