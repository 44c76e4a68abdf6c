"""B11/B13: canonical triple table + entity/alias dictionaries.

Outputs (partitioned, per BASELINE.json):
  * triples   — distinct (subj, pred, obj) with first-provenance,
                linkable OBJECTS rewritten to canonical entity ids
                (subjects are file identities and stay verbatim);
  * entities  — (entity_id, canonical_form, n_mentions, n_aliases);
  * aliases   — (entity_id, alias, lang).

Canonical id = the entity id a norm -> entity_id ``mapping`` assigns:
the component label from connected components (minimum normalized
member) on a first build, the pipeline's stable first-assigned id
afterwards. Mentions whose norm is not in the mapping are singletons:
entity_id = own norm (left join + coalesce — no extra pass to
enumerate singletons).

``full_outputs`` is the one way the outputs are produced: one-shot
builds, durable builds, ingests and retractions all aggregate the whole
current corpus under the current mapping, so the outputs are a pure
function of committed state and a replay after any crash rewrites the
same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import LINKABLE_KINDS, norm_col


def entity_tables(
    mentions: DataFrame, labels: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """mentions(surface, lang, norm) + labels(norm, component)
    -> (entities, aliases)."""
    linked = mentions.join(labels, "norm", "left").withColumn(
        "entity_id", F.coalesce("component", "norm")
    )
    aliases = linked.select(
        "entity_id", F.col("surface").alias("alias"), "lang"
    ).distinct()
    entities = (
        linked.groupBy("entity_id")
        .agg(
            F.min("norm").alias("canonical_form"),
            F.countDistinct("surface").alias("n_aliases"),
        )
    )
    return entities, aliases


def canonical_triples(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """B13: rewrite linkable objects to canonical ids, dedup on
    (subj, pred, obj_canonical), keep min provenance (deterministic
    'first'). The labels side is the distinct-norm dictionary — small,
    broadcast by AQE when it fits."""
    t = triples.withColumn(
        "obj_norm",
        F.when(F.col("kind").isin(*LINKABLE_KINDS), norm_col("obj")).otherwise(
            F.col("obj")
        ),
    )
    t = t.join(
        labels.withColumnsRenamed({"norm": "obj_norm", "component": "obj_entity"}),
        "obj_norm",
        "left",
    ).withColumn(
        "obj_canonical",
        F.when(
            F.col("kind").isin(*LINKABLE_KINDS),
            F.coalesce("obj_entity", "obj_norm"),
        ).otherwise(F.col("obj")),
    )
    return (
        t.groupBy("subj", "pred", F.col("obj_canonical").alias("obj"))
        .agg(
            F.min("kind").alias("kind"),
            F.min(F.struct("repo", "path", "commit", "chunk_id")).alias("_prov"),
            F.count("*").alias("n_provenances"),
        )
        .select(
            "subj", "pred", "obj", "kind",
            F.col("_prov.repo").alias("repo"),
            F.col("_prov.path").alias("path"),
            F.col("_prov.commit").alias("commit"),
            F.col("_prov.chunk_id").alias("chunk_id"),
            "n_provenances",
        )
    )


def entity_mention_counts(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """n_mentions per entity over the raw triple stream (for hot-entity
    diagnostics, B14 input)."""
    m = triples.filter(F.col("kind").isin(*LINKABLE_KINDS)).withColumn(
        "norm", norm_col("obj")
    )
    linked = m.join(labels, "norm", "left").withColumn(
        "entity_id", F.coalesce("component", "norm")
    )
    return linked.groupBy("entity_id").agg(F.count("*").alias("n_mentions"))


def full_outputs(
    mentions: DataFrame, triples_raw: DataFrame, mapping: DataFrame
) -> dict[str, DataFrame]:
    """The materialize: canonical triples + entities (with n_mentions)
    + aliases from the full corpus and a norm -> entity_id ``mapping``
    (linked norms via their entity id; norms it lacks are singletons,
    their own id)."""
    labels = mapping.select("norm", F.col("entity_id").alias("component"))
    entities, aliases = entity_tables(mentions, labels)
    n_m = entity_mention_counts(triples_raw, labels)
    entities_full = entities.join(n_m, "entity_id", "left").withColumn(
        "n_mentions", F.coalesce("n_mentions", F.lit(0))
    )
    return {
        "triples": canonical_triples(triples_raw, labels),
        "entities": entities_full,
        "aliases": aliases,
    }
