"""Distributed k-means training + broadcast-join IVF cell assignment.

Covers the round-2 verdict's top item: trained centroids (not samples),
centroid payload as broadcast DATA (constant-size plan in the cell count),
and bit-exact reproducibility of the training loop — the property the
DuckDB oracle (``__spark_entry__._kmeans_cents_ctes``) relies on.
"""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from gondar_spark.operators.similarity import (
    assign_cells,
    kmeans_parallel_init,
    kmeans_train,
)

SCALE = 1_000_000


def _clustered(spark, n=60, dim=3):
    """Three well-separated direction clusters with deterministic jitter."""
    rows = []
    for i in range(n):
        c = i % 3
        v = [0.0] * dim
        v[c] = 1.0
        v[(c + 1) % dim] = 0.01 * (i % 7)
        rows.append((i, v))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _r6(x):
    return math.floor(x * 1e6 + 0.5) / 1e6


def _cos(a, b):
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    na, nb = math.sqrt(na), math.sqrt(nb)
    return dot / (na * nb) if na and nb else 0.0


def _py_kmeans(rows, k, n_iter):
    """Pure-Python mirror of kmeans_train: quantize -> md5-seeded init ->
    Lloyd with exact integer sums. Must match Spark BIT-FOR-BIT."""
    vq = {i: [math.floor(x * SCALE + 0.5) for x in v] for i, v in rows}
    vd = {i: [float(x) for x in v] for i, v in rows}
    order = sorted(vq, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = [[float(q) / float(SCALE) for q in vq[i]] for i in order[:k]]
    dim = len(next(iter(vq.values())))
    for _ in range(n_iter):
        sums = {}
        for i in vq:
            best = max(
                range(len(cents)),
                key=lambda c: (_r6(_cos(vd[i], cents[c])), -c),
            )
            n, s = sums.setdefault(best, [0, [0] * dim])
            sums[best][0] += 1
            for j in range(dim):
                s[j] += vq[i][j]
        cents = list(cents)
        for c, (n, s) in sums.items():
            cents[c] = [float(s[j]) / float(n * SCALE) for j in range(dim)]
    return cents


def test_kmeans_train_matches_python_mirror_bitexact(spark):
    df = _clustered(spark)
    rows = [(r["vec_id"], r["embedding"]) for r in df.collect()]
    got = kmeans_train(df, k=4, n_iter=3)
    want = _py_kmeans(rows, k=4, n_iter=3)
    assert got == want  # == on floats: bit-exact, not approx


def test_kmeans_train_deterministic_across_runs(spark):
    df = _clustered(spark).repartition(7)  # layout must not matter
    assert kmeans_train(df, k=3, n_iter=2) == kmeans_train(df, k=3, n_iter=2)


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    # k > distinct directions: some cells never win a point; their
    # centroids must stay at init values, not NaN out
    df = _clustered(spark, n=9)
    cents = kmeans_train(df, k=6, n_iter=2)
    assert len(cents) == 6
    assert all(all(not math.isnan(x) for x in c) for c in cents)


def test_assign_cells_plan_is_one_broadcast_join_constant_in_k(spark):
    df = _clustered(spark, n=30)
    import random

    rng = random.Random(7)
    big = [[rng.random() for _ in range(3)] for _ in range(64)]
    p8 = assign_cells(df, big[:8])._jdf.queryExecution().executedPlan().toString()
    p64 = assign_cells(df, big)._jdf.queryExecution().executedPlan().toString()
    assert p64.count("BroadcastNestedLoopJoin") == 1
    # centroids travel as broadcast data, not plan literals: 8x the cells
    # must NOT grow the plan (allow only trivial slack)
    assert len(p64) < 1.2 * len(p8)


def test_assign_cells_n_probe_replicates_rows(spark):
    df = _clustered(spark, n=12)
    cents = kmeans_train(df, k=3, n_iter=1)
    one = assign_cells(df, cents, n_probe=1)
    two = assign_cells(df, cents, n_probe=2)
    assert one.count() == 12 and two.count() == 24
    # n_probe=1 cells are each row's best cell — a subset of its n_probe=2 set
    got1 = {(r["vec_id"], r["cell"]) for r in one.collect()}
    got2 = {(r["vec_id"], r["cell"]) for r in two.collect()}
    assert got1 <= got2


def test_kmeans_parallel_init_deterministic_and_improves(spark):
    df = _clustered(spark)
    i1 = kmeans_parallel_init(df, k=3, rounds=2)
    i2 = kmeans_parallel_init(df, k=3, rounds=2)
    assert i1 == i2 and len(i1) == 3
    cents = kmeans_train(df, k=3, n_iter=2, init=i1)
    # with a distance-aware init each trained centroid should be dominated
    # by a distinct axis (the planted cluster structure)
    doms = sorted(max(range(3), key=lambda j: c[j]) for c in cents)
    assert doms == [0, 1, 2]


def test_kmeans_train_empty_input_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        kmeans_train(empty, k=2, n_iter=1)


def test_ivf_index_build_query_parity_and_pruning(spark, tmp_path):
    """Materialized-index top-k == in-memory ivf_topk over the same
    centroids, and the probe scan PRUNES to the probed cell partitions
    (PartitionFilters on cell — file-listing pruning, not a full scan
    plus filter)."""
    from gondar_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    df = _clustered(spark, n=90)
    cents = kmeans_train(df, k=3, n_iter=2)
    path = str(tmp_path / "idx")
    build_ivf_index(df, cents, path)

    import os

    cell_dirs = sorted(
        d for d in os.listdir(path + "/cells") if d.startswith("cell=")
    )
    assert cell_dirs == ["cell=0", "cell=1", "cell=2"]

    q = [1.0, 0.0, 0.0]
    mem = ivf_topk(df, q, cents, k=5, n_probe=2)
    idx = ivf_topk_indexed(spark, path, q, k=5, n_probe=2)
    assert [r.asDict() for r in mem.collect()] == [
        r.asDict() for r in idx.collect()
    ]
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_int8_dequantized_search_domain(spark):
    """with_int8_dequantized: constant vectors collapse to their min,
    reconstruction error is bounded by scale/2 per element, and the
    dequantized values come from the 256-level grid."""
    from gondar_spark.operators.similarity import with_int8_dequantized

    df = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.5, 0.25]), (1, [2.0, 2.0, 2.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: list(r["embedding"])
           for r in with_int8_dequantized(df).collect()}
    assert out[1] == [2.0, 2.0, 2.0, 2.0]  # scale 0 -> min
    sc = 1.0 / 255.0
    orig = [0.0, 1.0, 0.5, 0.25]
    assert all(abs(a - b) <= sc / 2 + 1e-12 for a, b in zip(out[0], orig))
    # grid membership: value = mn + k*sc for integer k
    assert all(abs(round(v / sc) * sc - v) < 1e-9 for v in out[0])


def test_ivf_topk_per_probe_recall_and_parity(spark):
    """Batched IVF probes: on a clustered corpus with planted
    neighborhoods, per-probe results must (a) match brute-force kNN with
    recall >= 0.9 and (b) never fabricate pairs brute force ranks lower
    than the probed-cell approximation allows."""
    from gondar_spark.operators.similarity import (
        cosine_topk_per_probe,
        ivf_topk_per_probe,
    )

    df = _clustered(spark, n=90)
    cents = kmeans_train(df, k=3, n_iter=2)
    probes = df.filter(F.col("vec_id") < 6)
    ivf = ivf_topk_per_probe(df, probes, cents, k=3, n_probe=2)
    exact = cosine_topk_per_probe(df, probes, k=3)
    got = {(r["probe_id"], r["data_id"]) for r in ivf.collect()}
    want = {(r["probe_id"], r["data_id"]) for r in exact.collect()}
    assert len(got) == len(want) == 18
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"recall {recall} on planted clusters"
    # ranks are 1..k per probe, ids never self-paired
    rows = ivf.collect()
    assert all(r["probe_id"] != r["data_id"] for r in rows)
    for pid in {r["probe_id"] for r in rows}:
        assert sorted(r["rank"] for r in rows if r["probe_id"] == pid) == [1, 2, 3]


def test_ivf_topk_per_probe_no_probe_broadcast(spark):
    """The probe set joins the index on cell id as a SHUFFLE join — the
    only broadcast in the plan is the 1-row centroid payload (twice: one
    per assign_cells), never the probe DataFrame; a corpus-scale probe
    set must not be collected to the driver."""
    df = _clustered(spark, n=90)
    cents = kmeans_train(df, k=3, n_iter=1)
    from gondar_spark.operators.similarity import ivf_topk_per_probe

    plan = (
        ivf_topk_per_probe(df, df, cents, k=3, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # both broadcasts are the BroadcastNestedLoop centroid attachments
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "BroadcastHashJoin" not in plan  # the cell join shuffles


def test_embedding_near_dup_ivf_agrees_with_exact_on_planted(spark):
    """IVF-blocked near-dup finds exactly the exact-join pairs at a
    same-direction threshold on a clustered corpus with planted scaled
    duplicates (cosine == 1 to their source)."""
    from gondar_spark.operators.similarity import (
        cosine_col,
        embedding_near_dup,
    )
    from gondar_spark.functions.numeric import round_half_up

    base = _clustered(spark, n=60)
    dups = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5).alias("embedding"),
    )
    both = base.unionByName(dups)
    cents = kmeans_train(base, k=3, n_iter=2)
    got = embedding_near_dup(both, cents, threshold=0.9999, n_probe=2)
    g = {(r["id_a"], r["id_b"]) for r in got.collect()}
    v = both.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = v.withColumnsRenamed({"vec_id": "id_a", "v": "v_a"})
    b = v.withColumnsRenamed({"vec_id": "id_b", "v": "v_b"})
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                round_half_up(cosine_col(F.col("v_a"), F.col("v_b")), 6)
                .alias("cosine"))
        .filter(F.col("cosine") >= 0.9999)
    )
    w = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    # every planted (src, src+1000) pair present; full agreement with exact
    assert {(i, i + 1000) for i in range(0, 60, 10)} <= g
    assert g == w


def test_ivf_topk_per_probe_indexed_matches_in_memory(spark, tmp_path):
    """The materialized-index batched-probe path returns exactly the
    in-memory ivf_topk_per_probe result over the same centroids."""
    from gondar_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_per_probe,
        ivf_topk_per_probe_indexed,
    )

    df = _clustered(spark, n=90)
    cents = kmeans_train(df, k=3, n_iter=2)
    path = str(tmp_path / "idx")
    build_ivf_index(df, cents, path)
    probes = df.filter(F.col("vec_id") < 6)
    mem = ivf_topk_per_probe(df, probes, cents, k=3, n_probe=2)
    idx = ivf_topk_per_probe_indexed(spark, path, probes, k=3, n_probe=2)
    m = {tuple(r) for r in mem.collect()}
    i = {tuple(r) for r in idx.collect()}
    assert m == i and len(m) == 18


def test_ivf_drift_gate_rebuild_swaps_bitequal_index(spark, tmp_path):
    """Round-5 verdict #7: acting on the drift gate. Append past the
    growth threshold with rebuild_on_drift -> the index is re-trained on
    the accumulated corpus and atomically swapped; probes against the
    rebuilt index are BIT-EQUAL to a fresh build_ivf_index over the
    union (kmeans_train is deterministic), and the drift history
    records the rebuild."""
    import json
    import os

    from gondar_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
    )

    base = _clustered(spark, n=60)
    extra = _clustered(spark, n=90).filter(F.col("vec_id") >= 60)
    cents = kmeans_train(base, k=3, n_iter=2)
    path = str(tmp_path / "idx")
    build_ivf_index(base, cents, path)

    # growth_factor=0.1: a 50% append trips the gate; the hook rebuilds
    report = append_to_ivf_index(extra, path, growth_factor=0.1,
                                 rebuild_on_drift=True, rebuild_k=3)
    assert report["retrain"] and report["rebuilt"]["k"] == 3
    assert report["rebuilt"]["rows"] == 90
    recs = [json.loads(ln) for ln in open(os.path.join(path, "drift.jsonl"))]
    assert recs[-1]["rebuilt"] is True
    # no stray tmp/aside dirs after the swap
    parent = os.path.dirname(path)
    assert not [d for d in os.listdir(parent)
                if ".tmp-" in d or ".old-" in d]

    # bit-equality with a fresh one-shot build over the union
    union = _clustered(spark, n=90)
    cents2 = kmeans_train(union, k=3, n_iter=3)
    fresh = str(tmp_path / "fresh")
    build_ivf_index(union, cents2, fresh)
    q = [1.0, 0.0, 0.0]
    a = [r.asDict() for r in
         ivf_topk_indexed(spark, path, q, k=5, n_probe=2).collect()]
    b = [r.asDict() for r in
         ivf_topk_indexed(spark, fresh, q, k=5, n_probe=2).collect()]
    assert a == b and len(a) == 5


def test_ivf_rebuild_crash_between_renames_recovers(spark, tmp_path,
                                                    monkeypatch):
    """A crash between the rebuild swap's two renames leaves no index at
    ``path`` — only its ``.old-*`` aside. The next opener restores the
    aside, so a query returns exactly the pre-rebuild results."""
    import os

    from gondar_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        rebuild_ivf_index,
    )

    base = _clustered(spark, n=60)
    path = str(tmp_path / "idx")
    build_ivf_index(base, kmeans_train(base, k=3, n_iter=2), path)
    q = [1.0, 0.0, 0.0]
    before = [r.asDict() for r in
              ivf_topk_indexed(spark, path, q, k=5, n_probe=1).collect()]

    real_rename = os.rename
    calls = []

    def crash_on_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("simulated crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second)
    with pytest.raises(OSError, match="simulated crash"):
        rebuild_ivf_index(spark, path, k=2)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(path)

    after = [r.asDict() for r in
             ivf_topk_indexed(spark, path, q, k=5, n_probe=1).collect()]
    assert after == before
    assert spark.read.parquet(f"{path}/centroids").count() == 3  # old k
