"""B9: connected components via alternating large-star / small-star —
the canonicalization step (SURVEY.md §2B), no GraphFrames dependency.

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14) — alternating rounds converge in O(log^2 n); each round is two
groupBy shuffles. Node ids are strings (normalized mention forms); the
component label is the MINIMUM member, so canonical ids are
partition-order independent (determinism rule, SURVEY.md §7).

The loop is always preceded by a partition-local union-find contraction
(the same paper's "local contraction" optimization, _contract_partitions)
so the global rounds run over the cross-partition boundary graph only —
one narrow pass + one 2-string-column shuffle replace per-round shuffles
of the full edge set; identical labels (see connected_components). Each
round is large-star, the _min_jump path compression, then small-star;
it carries two fewer Exchanges than the textbook round: _small_star
never re-orients the loop's already-decreasing edges, and _min_jump's
dedup folds into the round-final distinct (its consumer aggregates with
min, which is duplicate-insensitive). Measured: 100k-edge bench 13.8s ->
3.7s warm.

One gate, ``driver_solve_max`` (edge rows), is checked twice: first on
the raw edge set, then on the contracted boundary graph. An edge set
within the gate is fetched in one bounded job and solved by union-find
on the driver (_driver_solve); only above it do the contraction and
then the star loop run. Link graphs of a ~1 MB corpus (16 to ~1.4k
edges) thus skip the Python-worker contraction, its checkpoint and the
label join: the pipeline's labels stage (CC + its write) went from 9
to 2 Spark jobs and 3.8-5.9 to 0.6-0.9 CPU-s per build (local[4],
perfbench build_linked corpus).

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
    final labels (fuzz-checked against union-find on random graphs,
    cycles and cliques included)."""
    tgt = e.groupBy("src").agg(F.min("dst").alias("_t"))
    return (
        e.join(tgt.withColumnRenamed("src", "dst"), "dst", "left")
        .select(
            "src",
            F.least(F.col("dst"), F.coalesce("_t", "dst")).alias("dst"),
        )
        # no distinct here (one Exchange per round saved): the jump maps
        # each already-distinct large-star edge to exactly one row, so
        # only duplicate VALUES can appear; the consumer (_small_star) is
        # a groupBy-min (dup-insensitive) plus a join whose fan-out the
        # round-final distinct dedups.
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Attach each node's smaller neighbors (and itself) to the minimum of
    its downward neighborhood.

    Input must already point downward: _large_star / _min_jump output is
    strictly DECREASING (src > dst, see their proofs), so no orientation
    or distinct pass runs here — the groupBy-min below is insensitive to
    duplicate rows and the final distinct dedups the attach fan-out (one
    full Exchange per round fewer than the textbook small-star)."""
    m = e.groupBy("src").agg(F.min("dst").alias("m"))
    attach_nbrs = (
        e.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    attach_self = m.select("src", F.col("m").alias("dst"))
    return (
        attach_nbrs.union(attach_self)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


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


def _driver_solve(e: DataFrame, max_rows: int, key: str) -> DataFrame | None:
    """Labels (``key``, component) of edge set ``e`` (src, dst), solved by
    union-find on the driver when ``e`` has at most ``max_rows`` rows;
    None (nothing solved) above that, or when ``max_rows`` <= 0. One
    bounded fetch decides and collects at once, so the gate is also the
    driver-memory bound. Arrow both ways: ``toPandas`` is one job where
    ``collect`` of a limit is two, and at 200k edges the round trip
    measured 1.0-1.7 s vs 1.9-2.5 s for Row collect + list
    createDataFrame. The result is a single-partition local DataFrame —
    no Python worker, checkpoint or shuffle. Labels equal the star
    loop's: union-find with lexicographic-min roots IS its fixpoint."""
    import pandas as pd

    if max_rows <= 0:
        return None
    pdf = e.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        return None
    comp = _union_find(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    return e.sparkSession.createDataFrame(
        pd.DataFrame({key: list(comp), "component": list(comp.values())},
                     dtype=object),
        f"{key} string, component string",
    ).coalesce(1)


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


def _star_loop(e: DataFrame, max_iter: int) -> DataFrame:
    """The alternating large-star/small-star fixpoint over an edge set
    that is already (src, dst), src != dst. Input need not be distinct
    (the initial checkpointed distinct handles it). Returns
    labels(norm, component) for every node in ``e``."""
    e, prev = _checkpoint_with_checksum(e.distinct())
    for _ in range(max_iter):
        # _min_jump references the large-star output twice (min-target
        # aggregate + join left side). Deliberately NOT persisted: both
        # references hang off the same shuffle output (the round reads
        # from the previous round's checkpoint, so recomputing the
        # projection over it is cheap), and a persist was MEASURED 2x
        # slower per round (24s vs 11s on the 100k bench) — the
        # InMemoryRelation write + cache scan costs more than the
        # recompute it saves at every scale where rounds are
        # shuffle-bound.
        nxt, cur = _checkpoint_with_checksum(
            _small_star(_min_jump(_large_star(e))))
        # the new round is materialized: the previous round's blocks are
        # dead weight from here on — free them now
        session.release(e)
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
    edges: DataFrame, max_iter: int = 20, driver_solve_max: int = 200_000,
) -> DataFrame:
    """edges(norm_a, norm_b) -> labels(norm, component) for every node
    that appears in an edge; component = min member of the component.

    Above the driver-solve gate, a partition-local union-find pre-pass
    (narrow, zero shuffle) runs first and the iterative star loop only
    on the CONTRACTED cross-partition graph — the "local contraction"
    optimization of the Kiveris et al. paper. Each task collapses the
    components of its own edge slice to their local minimum; a node read
    by several tasks links its local roots, so the contracted graph is
    one edge per (node, extra-root) pair — proportional to the
    cross-partition boundary, not the corpus. Labels are IDENTICAL:
    every local root is the min of a subset of its global component, so
    the contracted component minimum is the true minimum, and each node
    inherits it through its root (fuzz-pinned against union-find).
    Measured on the 100k-edge chain+hub bench: 13.8s -> ~3s (rounds run
    on ~1-2k contracted edges instead of 100k, and round count tracks
    the contracted diameter). Each star round includes the _min_jump
    path compression (see its proof sketch): same labels, fewer rounds
    (10 -> 6 on the 100k bench topology; each round is a global
    synchronization barrier, so round count is the dominant term at
    cluster scale). Memory note: the union-find dict is proportional to
    the nodes of ONE partition — size input splits accordingly at
    cluster scale (the same class of bound as a sort buffer).

    ``driver_solve_max`` is one gate, checked on the raw edges and then
    on the contracted edges: an edge set of at most that many rows is
    solved on the driver in one bounded fetch (_driver_solve), skipping
    the contraction and the star loop. 0 turns the driver path off
    (the contraction and the star loop always run — tests and
    tools/bench_cc_deep.py use it to keep those paths exercised on
    small graphs).

    Callers union in singleton nodes afterwards (materialize.py)."""
    e = (
        edges.select(F.col("norm_a").alias("src"), F.col("norm_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    labels = _driver_solve(e, driver_solve_max, "norm")
    if labels is not None:
        return labels
    # (node, root) pairs; a node appearing in k tasks has k rows. The
    # groupBy is ONE shuffle of 2-string rows (vs one per round over the
    # full edge set in a star loop on raw edges). Eagerly checkpointed: it
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
    # 100k-edge bench topology): the same gate solves it on the driver
    labels_c = _driver_solve(ce, driver_solve_max, "root")
    if labels_c is None:
        labels_c = _star_loop(ce, max_iter).withColumnRenamed("norm", "root")
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
    removed: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Re-label ONLY the components a signed edge delta touches — the
    incremental analog of connected_components for ingest AND
    retraction: at a daily-ingest corpus, re-running CC over the whole
    graph is an O(corpus) global-barrier job paid for an O(delta)
    change (round-4 verdict ask #1).

    Inputs: ``old_labels`` (norm, component) — the committed CC output
    over ``old_edges`` (norm_a, norm_b; may already hold the new edges
    and the edges of removed norms); ``new_edges`` — edges added since
    (endpoints may be new nodes, old nodes, or bridge two old
    components); ``removed`` (norm) — nodes deleted since: every edge
    with a removed endpoint is gone. Returns (labels,
    touched_components):

      * touched = distinct old components containing an endpoint of a
        surviving new edge or a removed node (small — ∝ delta; resolved
        via a semi-join of old_labels, broadcast by AQE);
      * the SUBGRAPH = old edges inside touched components (both
        endpoints of an old edge share a component, so filtering on
        norm_a's label suffices) ∪ new edges, minus edges touching a
        removed node — extracted with one columnar scan of old_edges,
        no shuffle of the untouched graph;
      * iterative CC runs on the subgraph only, so round count tracks
        the diameter of the TOUCHED region, not the corpus; a touched
        component can grow, merge or SPLIT;
      * untouched labels pass through unchanged (anti-join on touched).

    Exactly equal to connected_components over the surviving edges of
    old_edges ∪ new_edges: a touched component is fully present in the
    subgraph, so its new labels are the global ones; an untouched
    component gained and lost no edge, so its label set is already
    converged (fuzz-pinned in tests against the full recompute)."""
    def alive(e: DataFrame) -> DataFrame:
        if removed is None:
            return e
        for side in ("norm_a", "norm_b"):
            e = e.join(removed.select(F.col("norm").alias(side)), side,
                       "left_anti")
        return e

    new_e = alive(
        new_edges.select(F.col("norm_a"), F.col("norm_b"))
        .filter(F.col("norm_a") != F.col("norm_b"))
    ).distinct()
    endpoints = (
        new_e.select(F.col("norm_a").alias("norm"))
        .union(new_e.select(F.col("norm_b").alias("norm")))
        .distinct()
    )
    hits = old_labels.join(endpoints, "norm", "left_semi")
    if removed is not None:
        # its own semi-join, so a caller's broadcast hint on ``removed``
        # reaches the join
        hits = hits.union(old_labels.join(removed, "norm", "left_semi"))
    # consumed by two joins below AND returned to the caller (merge
    # bookkeeping); eager checkpoint keeps it one tiny materialized set
    # instead of three re-derivations over old_labels
    touched = session.checkpoint(hits.select("component").distinct())
    sub_old = (
        old_edges.select("norm_a", "norm_b")
        .join(
            old_labels.withColumnRenamed("norm", "norm_a"), "norm_a"
        )
        .join(touched, "component", "left_semi")
        .select("norm_a", "norm_b")
    )
    sub_labels = connected_components(
        alive(sub_old).unionByName(new_e), max_iter)
    keep = old_labels.join(touched, "component", "left_anti")
    return keep.unionByName(sub_labels), touched
