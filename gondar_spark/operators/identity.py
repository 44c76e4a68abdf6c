"""Stable canonical entity ids across incremental runs (round-4 verdict
ask #2).

Connected-components labels are component MINIMA, so ingesting a new
lower-id member relabels the whole component — entity ids would churn
across runs, breaking every downstream consumer that joins on entity_id.
This module resolves each CC component to a FIRST-ASSIGNED stable id:

  * a component none of whose members ever had an id gets its CC label
    (= min member norm) as the id — the first assignment;
  * a component with exactly one previously-assigned id keeps it, even
    when a new lexicographically-smaller member arrived;
  * a component whose members carry SEVERAL previously-assigned ids is a
    MERGE: the surviving id is the minimum of the prior ids
    (deterministic). The pipeline records every absorbed id in lineage:
    it is the prior id of a linked norm whose id moved.

Ids are norms, and a norm belongs to exactly one (append-only growing)
component forever, so a retired id can never be re-assigned to a
different entity — no collision by construction.

The pipeline persists the resulting (norm -> entity_id) mapping as the
``entity_ids`` ledger (segment-appended, latest-row-wins on a _seq
column) and feeds prior mappings back in on the next run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_stable_ids(
    labels: DataFrame, prior_map: DataFrame, all_norms: DataFrame
) -> DataFrame:
    """labels(norm, component) -> assign(component, entity_id), one row
    per component.

    ``prior_map`` (norm, entity_id): the committed ledger — previously
    published ids per linked norm.

    A prior id can be CLAIMED by several components. Under append-only
    growth that only happens within one component's history (a merge,
    where every claimed id's own norm sits in the claiming component);
    after a RETRACTION a component can split, leaving the same prior id
    claimed by every fragment — and min-of-claims would publish one id
    for several entities. The winner rule is holder-aware: a prior id
    goes to the component that CONTAINS the id norm itself; if the id
    norm survives outside every claimant (it became a singleton, which
    republishes it as its own id via materialize's coalesce), no
    component wins it; if the id norm is gone entirely, the claimant
    with the smallest CC label keeps it (deterministic). Each component
    then takes the minimum prior id it actually WON, falling back to its
    CC label (= min member norm — collision-free: every published id is
    a member norm of its own component, and norm sets are disjoint
    across components). For append-only ingest this reduces exactly to
    the old min-of-claims rule. ``all_norms``: the full surviving-norm
    set, needed to see singleton holders after a retraction.

    All frames are small (∝ components / ∝ claims); the groupBys
    shuffle only (component, prior-id) pairs, never the corpus.
    """
    prior_pairs = (
        labels.join(
            prior_map.select("norm", F.col("entity_id").alias("_prior")),
            "norm",
        )
        .select("component", "_prior")
        .distinct()
    )
    # where does each claimed id's own norm live now? (component label,
    # or the sentinel for a surviving singleton, or nowhere)
    single_holders = (
        all_norms.select("norm").distinct()
        .join(labels.select("norm"), "norm", "left_anti")
        .select(F.col("norm").alias("_prior"), F.col("norm").alias("_hc"))
    )
    holder = labels.select(
        F.col("norm").alias("_prior"), F.col("component").alias("_hc")
    ).unionByName(single_holders)
    # restrict the holder lookup to the claimed ids first (broadcast the
    # small claim set into the dictionary scan), so the left join below
    # broadcasts a claim-sized frame instead of shuffling the dictionary
    claimed = prior_pairs.select("_prior").distinct()
    holder = holder.join(F.broadcast(claimed), "_prior", "left_semi")
    per_id = (
        prior_pairs.join(F.broadcast(holder), "_prior", "left")
        .groupBy("_prior")
        .agg(
            F.max(F.when(F.col("component") == F.col("_hc"),
                         F.col("component"))).alias("_held"),
            F.min("component").alias("_minc"),
            F.max("_hc").alias("_hc_any"),
        )
        .select(
            "_prior",
            F.when(F.col("_held").isNotNull(), F.col("_held"))
            .when(F.col("_hc_any").isNull(), F.col("_minc"))
            .alias("_winner"),
        )
    )
    won = per_id.filter(F.col("_winner").isNotNull()).select(
        F.col("_winner").alias("component"), "_prior")
    return (
        labels.select("component")
        .distinct()
        .join(
            won.groupBy("component").agg(F.min("_prior").alias("_m")),
            "component",
            "left",
        )
        .select(
            "component",
            F.coalesce("_m", F.col("component")).alias("entity_id"),
        )
    )
