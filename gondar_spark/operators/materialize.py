"""B11/B13: canonical triple table + entity/alias dictionaries.

Outputs (partitioned, per /root/repo/BASELINE.json:6):
  * triples   — distinct (subj, pred, obj) with first-provenance,
                linkable OBJECTS rewritten to canonical entity ids
                (subjects are file identities and stay verbatim — the
                splice scope derivation depends on this, see
                splice_outputs);
  * entities  — (entity_id, canonical_form, n_mentions, n_aliases);
  * aliases   — (entity_id, alias, lang).

Canonical id = the component label from connected components = minimum
normalized member (deterministic). Mentions whose norm never entered an
edge are singletons: entity_id = own norm (left join + coalesce — no
extra pass to enumerate singletons).

Two ways to produce the outputs: ``full_outputs`` aggregates the whole
corpus (one-shot builds, full rebuilds), ``splice_outputs`` recomputes
only the groups a signed file delta touches — added files on ingest,
removed files on retraction, one scope derivation for both — and
splices them into the prior snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint
from .normalize import LINKABLE_KINDS, norm_col


def _hint(hint_broadcast: bool):
    """Broadcast hint for the batch-proportional scope frames: F.broadcast
    when the caller's size gate passed (the default), identity otherwise —
    the pipeline drops the hints for oversized batches (round-5 verdict
    #2) and AQE picks the strategy from real sizes."""
    return F.broadcast if hint_broadcast else (lambda df: df)


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
    """One-shot materialize: canonical triples + entities (with
    n_mentions) + aliases from the full corpus and a complete
    norm -> entity_id ``mapping`` (linked norms via their component id,
    singletons as themselves)."""
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


def splice_outputs(
    old_triples: DataFrame,
    old_entities: DataFrame,
    old_aliases: DataFrame,
    mentions: DataFrame,
    triples_raw: DataFrame,
    delta_raw: DataFrame,
    mapping: DataFrame,
    prior_map: DataFrame,
    changed: DataFrame,
    hint_broadcast: bool = True,
) -> tuple[dict[str, DataFrame], DataFrame, DataFrame]:
    """Affected-group splice: recompute ONLY the output groups a signed
    delta touches and splice them into the prior snapshot — the
    O(delta) analog of ``full_outputs``, for added and removed files
    alike.

    Inputs: the prior outputs, the CURRENT mention/raw-triple tables,
    the delta's raw triples ``delta_raw`` (the added or the removed
    rows), the current norm -> entity_id ``mapping``, the ledger's
    ``prior_map`` and ``changed`` = mapping \\ prior_map (new or moved
    norms). ``moved`` = prior_map ⋈ changed pairs each moved norm's
    prior id with its current one. Scope (all
    driver-small, broadcast into column-pruned scans):
      * affected entity ids = prior and current ids of the delta's
        linkable norms (their n_mentions/provenance/aliases change) +
        moved norms' prior ids (absorbed or split-off entities) +
        ``changed``'s ids;
      * affected triple groups = the delta's groups under the prior AND
        the current mapping + old groups whose obj is a moved norm's
        prior id + those groups re-keyed to its current id.
    Both scopes are supersets of the true change, and the splices
    recompute any superset exactly from current state — so the result
    equals ``full_outputs`` over the current state (tests
    test_incremental_materialize.py / test_retraction.py, and the
    ``incremental_kg_*`` / ``retract_kg_triples`` DuckDB oracles).
    Returns (outputs, affected_ids, drop_keys) — the two scope frames
    are localCheckpointed so callers can count them for lineage
    without recomputation."""
    B = _hint(hint_broadcast)
    delta_norms = (
        delta_raw.filter(F.col("kind").isin(*LINKABLE_KINDS))
        .select(norm_col("obj").alias("norm"))
        .filter(F.length("norm") > 0).distinct()
    )
    # (norm, id) under the prior AND the current mapping, delta norms only
    delta_ids = (
        prior_map.unionByName(mapping)
        .join(B(delta_norms), "norm", "left_semi").distinct()
    )
    moved = prior_map.join(
        B(changed.withColumnRenamed("entity_id", "new_id")), "norm")
    affected_ids = checkpoint(
        delta_ids.select("entity_id")
        .union(moved.select("entity_id"))
        .union(changed.select("entity_id"))
        .distinct())

    entities_out, aliases_out = _splice_entities(
        old_entities, old_aliases, mentions, triples_raw, mapping,
        affected_ids, hint_broadcast=hint_broadcast)

    # ---- triples: affected group keys -----------------------------------
    # INVARIANT (round-5 advice): the group scope is keyed and re-keyed
    # on obj ONLY because canonical_triples canonicalizes only linkable
    # OBJECTS; canonicalizing subj too would silently break the splice —
    # extend the scope derivation symmetrically if that ever changes
    keys_delta = (
        canonical_triples(delta_raw, delta_ids.withColumnRenamed(
            "entity_id", "component"))
        .select("subj", "pred", "obj")
    )
    keys_moved = (
        old_triples.join(B(moved.select(F.col("entity_id").alias("obj"))),
                         "obj", "left_semi")
        .select("subj", "pred", "obj").distinct()
    )
    keys_rekeyed = (
        keys_moved.join(B(moved.select(F.col("entity_id").alias("obj"),
                                       "new_id")), "obj")
        .select("subj", "pred", F.col("new_id").alias("obj"))
    )
    drop_keys = checkpoint(
        keys_delta.union(keys_moved).union(keys_rekeyed).distinct())

    triples_out = _splice_triples(
        old_triples, triples_raw, mapping, drop_keys,
        hint_broadcast=hint_broadcast)
    outputs = {
        "triples": triples_out,
        "entities": entities_out,
        "aliases": aliases_out,
    }
    return outputs, affected_ids, drop_keys


def _splice_entities(
    old_entities: DataFrame,
    old_aliases: DataFrame,
    mentions: DataFrame,
    triples_raw: DataFrame,
    mapping: DataFrame,
    affected_ids: DataFrame,
    hint_broadcast: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Recompute the entity/alias groups of ``affected_ids`` from the
    current mention/raw-triple state (column-pruned scans with broadcast
    semi-joins) and splice them into the prior snapshots. An affected id
    with no surviving members simply vanishes (dropped, nothing
    recomputed)."""
    B = _hint(hint_broadcast)
    members = checkpoint(mapping.join(
        B(affected_ids), "entity_id", "left_semi"))
    labels_aff = members.select(
        "norm", F.col("entity_id").alias("component"))
    aff_mentions = mentions.join(
        B(members.select("norm")), "norm", "left_semi")
    ents_new, aliases_new = entity_tables(aff_mentions, labels_aff)
    tr_linkable_aff = (
        triples_raw.filter(F.col("kind").isin(*LINKABLE_KINDS))
        .withColumn("_n", norm_col("obj"))
        .join(B(members.select(F.col("norm").alias("_n"))),
              "_n", "left_semi").drop("_n")
    )
    n_m = entity_mention_counts(tr_linkable_aff, labels_aff)
    entities_aff = ents_new.join(n_m, "entity_id", "left").withColumn(
        "n_mentions", F.coalesce("n_mentions", F.lit(0)))
    entities_out = (
        old_entities
        .join(B(affected_ids), "entity_id", "left_anti")
        .unionByName(entities_aff)
    )
    aliases_out = (
        old_aliases
        .join(B(affected_ids), "entity_id", "left_anti")
        .unionByName(aliases_new)
    )
    return entities_out, aliases_out


def _splice_triples(
    old_triples: DataFrame,
    triples_raw: DataFrame,
    mapping: DataFrame,
    drop_keys: DataFrame,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Re-aggregate exactly the ``drop_keys`` canonical groups from a
    candidate slice of ``triples_raw`` (rows that could contribute to an
    affected group: non-linkable rows whose obj is an affected key's
    obj, linkable rows whose norm is the key's obj or maps to it) and
    splice them into the prior snapshot. A dropped group with no
    surviving contributor rows vanishes."""
    B = _hint(hint_broadcast)
    labels_stable = mapping.select(
        "norm", F.col("entity_id").alias("component"))
    xs = drop_keys.select("obj").distinct()
    member_norms_x = (
        mapping.join(B(xs),
                     mapping.entity_id == xs.obj, "left_semi")
        .select("norm")
    )
    cand_nl = triples_raw.filter(
        ~F.col("kind").isin(*LINKABLE_KINDS)
    ).join(B(xs), "obj", "left_semi")
    probe_norms = member_norms_x.union(
        xs.select(F.col("obj").alias("norm"))).distinct()
    cand_l = (
        triples_raw.filter(F.col("kind").isin(*LINKABLE_KINDS))
        .withColumn("_n", norm_col("obj"))
        .join(B(probe_norms.withColumnRenamed("norm", "_n")),
              "_n", "left_semi").drop("_n")
    )
    recomputed = (
        canonical_triples(cand_nl.unionByName(cand_l), labels_stable)
        .join(B(drop_keys), ["subj", "pred", "obj"],
              "left_semi")
    )
    return (
        old_triples.join(B(drop_keys),
                         ["subj", "pred", "obj"], "left_anti")
        .unionByName(recomputed)
    )
