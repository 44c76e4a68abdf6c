"""B11/B13: canonical triple table + entity/alias dictionaries.

Outputs (partitioned, per /root/repo/BASELINE.json:6):
  * triples   — distinct (subj, pred, obj) with first-provenance,
                linkable OBJECTS rewritten to canonical entity ids
                (subjects are file identities and stay verbatim — the
                incremental/retraction splice scope derivation depends
                on this, see incremental_outputs);
  * entities  — (entity_id, canonical_form, n_mentions, n_aliases);
  * aliases   — (entity_id, alias, lang).

Canonical id = the component label from connected components = minimum
normalized member (deterministic). Mentions whose norm never entered an
edge are singletons: entity_id = own norm (left join + coalesce — no
extra pass to enumerate singletons).
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


def incremental_outputs(
    old_triples: DataFrame,
    old_entities: DataFrame,
    old_aliases: DataFrame,
    mentions: DataFrame,
    triples_raw: DataFrame,
    new_raw: DataFrame,
    mapping: DataFrame,
    prior_map: DataFrame,
    changed: DataFrame,
    hint_broadcast: bool = True,
) -> tuple[dict[str, DataFrame], DataFrame, DataFrame]:
    """Affected-group splice: recompute ONLY the output groups an ingest
    touches and splice them into the prior snapshot — the O(new) analog
    of ``full_outputs`` (which re-aggregates every group every run).

    Inputs: the prior outputs, the FULL post-ingest mention/raw-triple
    tables, the pending batch's raw triples ``new_raw``, the full
    post-ingest norm -> entity_id ``mapping``, the pre-ingest
    ``prior_map``, and ``changed`` = mapping \\ prior_map (new or moved
    norms). Scope (all driver-small, broadcast into column-pruned
    scans):
      * affected entity ids = changed mappings' new ids + their prior
        ids (absorbed entities vanish) + ids referenced by the pending
        batch's linkable objects (their n_mentions/provenance grow);
      * affected triple groups = groups of pending rows + groups whose
        obj was an absorbed prior id + those groups re-keyed to the
        surviving id.
    Exact-equal to ``full_outputs`` over the union by construction and
    by test (tests/test_incremental_materialize.py) and by the
    ``incremental_kg_triples``/``incremental_kg_entities`` DuckDB
    oracles. Returns (outputs, affected_ids, drop_keys) — the two scope
    frames are localCheckpointed so callers can count them for lineage
    without recomputation."""
    B = _hint(hint_broadcast)
    # ---- affected entity ids --------------------------------------------
    changed_norms = changed.select("norm").distinct()
    prior_ids = (
        prior_map.join(B(changed_norms), "norm", "left_semi")
        .select("entity_id").distinct()
    )
    new_ids = changed.select("entity_id").distinct()
    pending_norms = (
        new_raw.filter(F.col("kind").isin(*LINKABLE_KINDS))
        .select(norm_col("obj").alias("norm"))
        .filter(F.length("norm") > 0).distinct()
    )
    pending_ids = (
        mapping.join(B(pending_norms), "norm", "left_semi")
        .select("entity_id").distinct()
    )
    affected_ids = checkpoint(
        prior_ids.union(new_ids).union(pending_ids).distinct())

    entities_out, aliases_out = _splice_entities(
        old_entities, old_aliases, mentions, triples_raw, mapping,
        affected_ids, hint_broadcast=hint_broadcast)

    # ---- triples: affected group keys -----------------------------------
    labels_stable = mapping.select(
        "norm", F.col("entity_id").alias("component"))
    keys_a = (
        canonical_triples(new_raw, labels_stable)
        .select("subj", "pred", "obj").distinct()
    )
    # groups whose obj is an absorbed prior id: member rows re-key to
    # the surviving id, so both the old and the rewritten group (and
    # any pre-existing group at the surviving id) recompute.
    # INVARIANT (round-5 advice): this affected-group scope is keyed and
    # re-keyed on obj ONLY because canonical_triples canonicalizes only
    # linkable OBJECTS; canonicalizing subj too would silently break the
    # splice — extend the scope derivation symmetrically if that ever
    # changes
    keys_b_old = (
        old_triples.join(B(prior_ids),
                         old_triples.obj == prior_ids.entity_id,
                         "left_semi")
        .select("subj", "pred", "obj").distinct()
    )
    absorbed_to_new = (
        prior_map.join(B(changed_norms), "norm", "left_semi")
        .join(mapping.withColumnsRenamed(
            {"entity_id": "new_id"}), "norm")
        .select(F.col("entity_id").alias("obj"), "new_id").distinct()
    )
    keys_b_new = (
        keys_b_old.join(B(absorbed_to_new), "obj")
        .select("subj", "pred", F.col("new_id").alias("obj")).distinct()
    )
    drop_keys = checkpoint(
        keys_a.union(keys_b_old).union(keys_b_new).distinct())

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


def retraction_outputs(
    old_triples: DataFrame,
    old_entities: DataFrame,
    old_aliases: DataFrame,
    mentions: DataFrame,
    remaining_raw: DataFrame,
    removed_raw: DataFrame,
    mapping: DataFrame,
    prior_map: DataFrame,
    hint_broadcast: bool = True,
) -> tuple[dict[str, DataFrame], DataFrame, DataFrame]:
    """Retraction analog of ``incremental_outputs``: recompute only the
    output groups a file REMOVAL touches. Inputs are the prior outputs,
    the post-retraction mention table and raw-triple stream, the removed
    files' raw triples, the post-retraction norm -> entity_id
    ``mapping`` (splits already resolved by the holder-aware stable-id
    rule), and the pre-retraction ``prior_map`` (the entity_ids ledger —
    covers every norm ever materialized, including now-dead ones).

    Scope:
      * affected OLD ids = prior ids of the removed rows' norms (their
        n_mentions/provenance shrink or they vanish) + prior ids of
        norms whose mapping moved (splits);
      * affected NEW ids = current ids of those same norms (where they
        survive);
      * affected triple groups = the removed rows' canonical groups
        under the PRIOR mapping + groups whose obj is an affected old id
        + those groups re-keyed to each moved norm's new id.
    Exact-equal to a full rebuild over the remaining corpus with the
    same ledger — pinned by tests/test_retraction.py and the
    ``retract_kg_triples`` oracle."""
    B = _hint(hint_broadcast)
    affected_norms = (
        removed_raw.filter(F.col("kind").isin(*LINKABLE_KINDS))
        .select(norm_col("obj").alias("norm"))
        .filter(F.length("norm") > 0).distinct()
    )
    moved = checkpoint(
        prior_map.join(mapping.withColumnsRenamed(
            {"entity_id": "new_id"}), "norm")
        .filter(F.col("entity_id") != F.col("new_id")))
    old_ids = checkpoint(
        prior_map.join(B(affected_norms), "norm", "left_semi")
        .select("entity_id")
        .union(moved.select("entity_id"))
        .distinct())
    new_ids = (
        mapping.join(B(affected_norms), "norm", "left_semi")
        .select("entity_id")
        .union(moved.select(F.col("new_id").alias("entity_id")))
        .distinct()
    )
    affected_ids = checkpoint(
        old_ids.union(new_ids).distinct())

    entities_out, aliases_out = _splice_entities(
        old_entities, old_aliases, mentions, remaining_raw, mapping,
        affected_ids, hint_broadcast=hint_broadcast)

    prior_stable = prior_map.select(
        "norm", F.col("entity_id").alias("component"))
    keys_a = (
        canonical_triples(removed_raw, prior_stable)
        .select("subj", "pred", "obj").distinct()
    )
    keys_b_old = (
        old_triples.join(B(old_ids),
                         old_triples.obj == old_ids.entity_id,
                         "left_semi")
        .select("subj", "pred", "obj").distinct()
    )
    old_to_new = moved.select(
        F.col("entity_id").alias("obj"), "new_id").distinct()
    keys_b_new = (
        keys_b_old.join(B(old_to_new), "obj")
        .select("subj", "pred", F.col("new_id").alias("obj")).distinct()
    )
    drop_keys = checkpoint(
        keys_a.union(keys_b_old).union(keys_b_new).distinct())
    triples_out = _splice_triples(
        old_triples, remaining_raw, mapping, drop_keys,
        hint_broadcast=hint_broadcast)
    outputs = {
        "triples": triples_out,
        "entities": entities_out,
        "aliases": aliases_out,
    }
    return outputs, affected_ids, drop_keys
