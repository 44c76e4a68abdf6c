"""B9: connected components via alternating large-star / small-star —
the canonicalization step (SURVEY.md §2B), no GraphFrames dependency.

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14) — alternating rounds converge in O(log^2 n); each round is two
groupBy shuffles. Node ids are strings (normalized mention forms); the
component label is the MINIMUM member, so canonical ids are
partition-order independent (determinism rule, SURVEY.md §7).

Round 6: the loop is preceded by a partition-local union-find contraction
(the same paper's "local contraction" optimization, _contract_partitions)
so the global rounds run over the cross-partition boundary graph only —
one narrow pass + one 2-string-column shuffle replace per-round shuffles
of the full edge set; identical labels (see connected_components). Each
round also drops two Exchanges: _small_star skips re-orienting the loop's
already-decreasing edges, and _min_jump's dedup folds into the round-
final distinct (its consumer aggregates with min, which is duplicate-
insensitive). Measured: 100k-edge bench 13.8s -> 3.7s warm.

Scale notes: `localCheckpoint` after EVERY round truncates the lineage —
measured on a 100k-edge graph: every-round 24s, every-2nd 26s, every-3rd
82s (re-planning stacked iterations costs far more than checkpointing).
Convergence is detected by an edge-checksum aggregate fused into the
checkpoint job via ``observe`` (one action per round), never a collect
of the edge set. Every checkpoint registers with the caller's
session.Scope: each round's blocks are released as soon as the next
round materializes (without this, R rounds leave R edge-set copies in
executor storage and a long session degrades every job after CC); the
final round, the contraction map ``g`` and incremental CC's ``touched``
set stay alive because the returned plan reads them, and are freed when
the caller's scope exits (or by release_caches() outside any scope).
Data scaling measured on the worst-case chain+hub topology: 100k edges
13.4s -> 1M edges 36.5s on local[32] — 10x data, 2.7x wall, because
rounds track component diameter, not edge count (see BENCH/BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import session
from ..errors import StageError


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, attach every neighbor v > u to m = min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        # keep the distinct: dropping it saves a shuffle but lets
        # duplicate (v, m) edges from different centers inflate the
        # next stage ~2x (measured 16s -> 34s on the 100k-edge bench)
        .distinct()
    )


def _min_jump(e: DataFrame) -> DataFrame:
    """Pointer-jumping pass, valid ONLY on _large_star's output.

    Large-star emits a strictly DECREASING edge set (every edge points
    from a larger to a smaller node id), which makes one-step path
    compression safe: each edge (u, v) re-targets to (u, min(out(v)))
    when v has out-edges, else stays — u jumps along an existing path, so
    no edge crosses components (soundness), and components never split
    (completeness, induction on the decreasing-DAG depth of the edge
    head: (u,v) with out(v) ∋ w* = min(out(v)) yields the new edge
    (u, w*) directly, and v~w* holds by induction on the strictly
    smaller head depth of the old edge (v, w*), so u~w*~v).

    Exactly ONE new edge per old edge — never inflates the edge set (a
    jump through ALL of out(v) converges equally fast but multiplies
    edges by out-degree, a blow-up a mega-hub corpus can't afford).
    Stars are a fixed point (component minima have no out-edges), so
    convergence detection is untouched. Cost: one groupBy + one join per
    round; the join key skews toward component minima, which AQE
    skew-join splits. Effect: rounds track ~half the chain depth —
    measured on the 100k-edge chain+hub bench: 10 -> 6 rounds, identical
    final labels (fuzz-checked against the unaccelerated loop on random
    graphs, cycles and cliques included)."""
    tgt = e.groupBy("src").agg(F.min("dst").alias("_t"))
    return (
        e.join(tgt.withColumnRenamed("src", "dst"), "dst", "left")
        .select(
            "src",
            F.least(F.col("dst"), F.coalesce("_t", "dst")).alias("dst"),
        )
        # no distinct here (one Exchange per round saved): the jump maps
        # each already-distinct large-star edge to exactly one row, so
        # only duplicate VALUES can appear; the consumer (_small_star
        # with oriented_input=True) is a groupBy-min (dup-insensitive)
        # plus a join whose fan-out the round-final distinct dedups.
    )


def _small_star(e: DataFrame, oriented_input: bool = False) -> DataFrame:
    """Orient edges downward; attach each node's smaller neighbors (and
    itself) to the minimum of its downward neighborhood.

    ``oriented_input=True`` (the loop's internal call) skips the
    orientation+distinct shuffle: _large_star / _min_jump output is
    strictly DECREASING (src > dst, see their proofs), so greatest/least
    is the identity there, and the groupBy-min below is insensitive to
    duplicate rows while the final distinct dedups the attach fan-out —
    one full Exchange per round removed with identical output."""
    if oriented_input:
        oriented = e
    else:
        oriented = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    attach_nbrs = (
        oriented.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    attach_self = m.select("src", F.col("m").alias("dst"))
    return (
        attach_nbrs.union(attach_self)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _checkpoint_with_checksum(
    e: DataFrame,
) -> tuple[DataFrame, tuple[int, int]]:
    """Materialize one round AND collect its convergence checksum in the
    SAME job via df.observe — halves the per-round action count vs
    localCheckpoint-then-aggregate (measured ~5-10% off the 100k-edge CC
    wall time: the separate checksum scan read cached partitions, so the
    saving is scheduling overhead, not IO). The checkpoint registers with
    the current scope, so the caller can release the PREVIOUS round."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    )
    cp = session.checkpoint(observed)  # runs the job, fires obs
    got = obs.get
    return cp, (int(got["n"]), int(got["h"]))


def _union_find(rows) -> dict:
    """Union-find with path compression over (a, b) pairs; root =
    lexicographic minimum member (labels are strings). Returns
    {node: component}. Runs on the driver over a (small, gated) collected
    edge list, and per task in _contract_partitions."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return {n: find(n) for n in parent}


def _contract_partitions(it):
    """Per-partition union-find over the edge rows this task sees (the
    local-contraction optimization from the Kiveris et al. paper): emits
    (node, root) with root = the node's partition-LOCAL component minimum
    (lexicographic — labels are strings). Narrow: no shuffle; one pass
    over the Arrow batches."""
    import pandas as pd

    comp = _union_find(
        (a, b) for pdf in it
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    if comp:
        yield pd.DataFrame({"node": list(comp), "root": list(comp.values())})


def _star_loop(
    e: DataFrame, max_iter: int, checkpoint: bool, accelerate: bool,
) -> DataFrame:
    """The alternating large-star/small-star fixpoint over an edge set
    that is already (src, dst), src != dst. Input need not be distinct
    (the initial checkpointed distinct handles it). Returns
    labels(norm, component) for every node in ``e``."""
    e = e.distinct()
    if checkpoint:
        e, prev = _checkpoint_with_checksum(e)
    else:
        prev = _checksum(e)
    for _ in range(max_iter):
        half = _large_star(e)
        if accelerate:
            # _min_jump references the large-star output twice (min-target
            # aggregate + join left side). Deliberately NOT persisted:
            # both references hang off the same shuffle output (the round
            # reads from the previous round's checkpoint, so recomputing
            # the projection over it is cheap), and a persist was MEASURED
            # 2x slower per round (24s vs 11s on the 100k bench) — the
            # InMemoryRelation write + cache scan costs more than the
            # recompute it saves at every scale where rounds are
            # shuffle-bound.
            half = _min_jump(half)
        # large_star/min_jump output is strictly decreasing -> skip the
        # orientation+distinct Exchange (see _small_star)
        nxt = _small_star(half, oriented_input=True)
        if checkpoint:
            nxt, cur = _checkpoint_with_checksum(nxt)
            # the new round is materialized: the previous round's blocks
            # are dead weight from here on — free them now
            session.release(e)
        else:
            cur = _checksum(nxt)
        e = nxt
        if cur == prev:
            break
        prev = cur
    else:
        raise StageError(f"connected components did not converge in {max_iter} rounds")
    # converged edge set is (node -> component-min) stars
    labels = e.select(F.col("src").alias("norm"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("norm")).distinct().withColumn(
        "component", F.col("norm")
    )
    return labels.union(roots).distinct()


def connected_components(
    edges: DataFrame, max_iter: int = 20, checkpoint: bool = True,
    accelerate: bool = True, local_contract: bool = True,
    driver_solve_max: int = 200_000,
) -> DataFrame:
    """edges(norm_a, norm_b) -> labels(norm, component) for every node
    that appears in an edge; component = min member of the component.

    ``accelerate`` inserts the _min_jump path-compression pass between
    the large-star and small-star halves of each round (see its proof
    sketch) — same labels, fewer rounds (10 -> 6 on the 100k bench
    topology; each round is a global synchronization barrier, so round
    count is the dominant term at cluster scale).

    ``local_contract`` (default on) runs a partition-local union-find
    pre-pass (narrow, zero shuffle) and the iterative star loop only on
    the CONTRACTED cross-partition graph — the "local contraction"
    optimization of the Kiveris et al. paper. Each task collapses the
    components of its own edge slice to their local minimum; a node read
    by several tasks links its local roots, so the contracted graph is
    one edge per (node, extra-root) pair — proportional to the
    cross-partition boundary, not the corpus. Labels are IDENTICAL:
    every local root is the min of a subset of its global component, so
    the contracted component minimum is the true minimum, and each node
    inherits it through its root (fuzz-pinned against union-find and the
    uncontracted loop). Measured on the 100k-edge chain+hub bench:
    13.8s -> ~3s (rounds run on ~1-2k contracted edges instead of 100k,
    and round count tracks the contracted diameter). Memory note: the
    union-find dict is proportional to the nodes of ONE partition —
    size input splits accordingly at cluster scale (the same class of
    bound as a sort buffer); pass local_contract=False to fall back to
    the pure-shuffle loop.

    Callers union in singleton nodes afterwards (materialize.py)."""
    e = (
        edges.select(F.col("norm_a").alias("src"), F.col("norm_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    if not local_contract:
        return _star_loop(e, max_iter, checkpoint, accelerate)
    # (node, root) pairs; a node appearing in k tasks has k rows. The
    # groupBy is ONE shuffle of 2-string rows (vs one per round over the
    # full edge set in the uncontracted loop). Eagerly checkpointed: it
    # feeds the contracted edge set AND the final label composition.
    g = session.checkpoint(
        e.mapInPandas(_contract_partitions, "node string, root string")
        .groupBy("node")
        .agg(F.min("root").alias("root"), F.collect_set("root").alias("_roots"))
    )
    ce = (
        g.filter(F.size("_roots") > 1)
        .select(F.col("root").alias("src"), F.explode("_roots").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # the contracted boundary graph is usually TINY (999 edges for the
    # 100k-edge bench topology); below the gate, solve it on the driver
    # (bounded collect — the gate is the bound) instead of paying
    # ~1 s/round of stage latency in the distributed loop. Above the
    # gate — a genuinely large boundary graph at cluster scale — the
    # star loop runs as before. Labels identical either way (union-find
    # with lexicographic-min roots IS the loop's fixpoint).
    n_ce = ce.count()
    spark = edges.sparkSession
    if n_ce <= driver_solve_max:
        comp = _union_find(
            [(r["src"], r["dst"]) for r in ce.collect()])
        labels_c = spark.createDataFrame(
            list(comp.items()) or [], "root string, component string")
    else:
        labels_c = _star_loop(
            ce, max_iter, checkpoint, accelerate
        ).withColumnRenamed("norm", "root")
    return (
        g.select("node", "root")
        .join(labels_c, "root", "left")
        .select(
            F.col("node").alias("norm"),
            F.coalesce("component", "root").alias("component"),
        )
    )


def incremental_components(
    old_labels: DataFrame,
    old_edges: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 20,
    accelerate: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Re-label ONLY the components a new edge batch touches — the
    incremental-ingest analog of connected_components: at a daily-ingest
    corpus, re-running CC over the whole graph is an O(corpus) global-
    barrier job paid for an O(new) change (round-4 verdict ask #1).

    Inputs: ``old_labels`` (norm, component) — the committed CC output
    over ``old_edges`` (norm_a, norm_b); ``new_edges`` — this ingest's
    edges (endpoints may be new nodes, old nodes, or bridge two old
    components). Returns (labels, touched_components):

      * touched = distinct old components containing an endpoint of a
        new edge (small — ∝ new batch; resolved via a semi-join of
        old_labels against the new endpoints, broadcast by AQE);
      * the SUBGRAPH = old edges inside touched components (both
        endpoints of an old edge share a component, so filtering on
        norm_a's label suffices) ∪ new edges — extracted with one
        columnar scan of old_edges, no shuffle of the untouched graph;
      * iterative CC runs on the subgraph only, so round count tracks
        the diameter of the TOUCHED region, not the corpus;
      * untouched labels pass through unchanged (anti-join on touched).

    Exactly equal to connected_components(old_edges ∪ new_edges): a
    touched component is fully present in the subgraph, so its new
    min-label is the global min; an untouched component has no new edge
    by definition, so its label set is already converged
    (fuzz-pinned in tests against the full recompute)."""
    new_e = (
        new_edges.select(F.col("norm_a"), F.col("norm_b"))
        .filter(F.col("norm_a") != F.col("norm_b"))
        .distinct()
    )
    endpoints = (
        new_e.select(F.col("norm_a").alias("norm"))
        .union(new_e.select(F.col("norm_b").alias("norm")))
        .distinct()
    )
    # consumed by two joins below AND returned to the caller (merge
    # bookkeeping); eager checkpoint keeps it one tiny materialized set
    # instead of three re-derivations over old_labels
    touched = session.checkpoint(
        old_labels.join(endpoints, "norm", "left_semi")
        .select("component")
        .distinct()
    )
    sub_old = (
        old_edges.select("norm_a", "norm_b")
        .join(
            old_labels.withColumnRenamed("norm", "norm_a"), "norm_a"
        )
        .join(touched, "component", "left_semi")
        .select("norm_a", "norm_b")
    )
    sub_labels = connected_components(
        sub_old.union(new_e), max_iter, accelerate=accelerate
    )
    keep = old_labels.join(touched, "component", "left_anti")
    return keep.unionByName(sub_labels), touched
