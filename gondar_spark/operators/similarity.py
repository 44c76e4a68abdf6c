"""Similarity search over embedding columns (array<float>).

  * cosine_topk        — exact brute-force top-k against a query vector:
                         JVM-side zip_with/aggregate dot product, then a
                         global top-k (orderBy+limit — Spark runs it as
                         TakeOrderedAndProject, no full sort at scale).
  * cosine_topk_per_probe — batch variant: top-k neighbors for EVERY probe
                         row via broadcast join + row_number window.
  * kmeans_train       — distributed Lloyd k-means (integer-quantized
                         sums -> bit-exact SQL-oracle parity) from a
                         seeded deterministic init.
  * ivf_topk           — IVF ANN over trained centroids: broadcast-join
                         cell assignment, probe only the nearest n_probe
                         cells. The scale path: the candidate set shrinks
                         by the cell fan-out instead of scanning everything.
  * embedding_near_dup — cosine >= threshold pairs via cell-blocked join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import round_half_up
from ..session import Scope, persist
from ..sources.tables import CODEC, restore_aside, swap_in


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_col(a, b):
    """Cosine similarity; 0.0 when either side has ZERO NORM (ANSI mode
    would otherwise DIVIDE_BY_ZERO on an all-zero vector — found by the
    kmeans fuzz test; the driver-side mirrors define the same 0.0). NULL
    inputs stay NULL — desc ordering keeps them out of top-k, rather than
    fabricating a 0.0 that would outrank true negative similarities."""
    denom = _norm(a) * _norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(_dot(a, b) / denom)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector (the baseline)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col).cast("array<double>")
    scored = df.select(
        F.col(id_col),
        round_half_up(cosine_col(v, q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_topk_per_probe(
    data: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for every probe row: broadcast the (small) probe
    set against the big side, score JVM-side, take per-probe top-k with a
    row_number window (partial top-k per partition under AQE)."""
    d = data.select(
        F.col(id_col).alias("data_id"),
        F.col(vec_col).cast("array<double>").alias("dv"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pv"),
    )
    scored = d.join(F.broadcast(p), F.col("data_id") != F.col("probe_id")).select(
        "probe_id",
        "data_id",
        round_half_up(cosine_col(F.col("dv"), F.col("pv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("data_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk_per_probe(
    data: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched IVF ANN: approximate top-k for EVERY probe ROW — the shape
    corpus-scale ANN self-dedup needs (every document probing the index),
    which the single-``query_vec`` ivf_topk API cannot express and
    cosine_topk_per_probe only handles for broadcastable probe sets.

    Plan shape, sized for a probe set as large as the corpus:
      * data side: one-cell index assignment (assign_cells n_probe=1);
      * probe side: replicated into its n_probe nearest cells — the
        recall knob, paid as probe-side fan-out only;
      * candidates: an equi-JOIN on cell id — both sides shuffle-partition
        by cell, NO broadcast of the probe set; a hot cell is ordinary
        join-key skew, which AQE skew-join splits (unlike window skew);
      * per-probe top-k in two phases: rank within (probe_id, cell) first,
        so at most n_probe*k rows per probe reach the final per-probe
        window — the probe_id shuffle moves candidate digests, never the
        cell contents.

    Each (probe, data) pair occurs at most once (data lives in exactly one
    cell), so no dedup pass is needed. Self-pairs (same id on both sides)
    are excluded, mirroring cosine_topk_per_probe. Exact per the probed
    cells — recall vs exact kNN is governed by n_probe, measured by
    ivf_recall-style gates on planted neighborhoods."""
    d = assign_cells(data, centroids, vec_col=vec_col, n_probe=1).select(
        "cell",
        F.col(id_col).alias("data_id"),
        F.col(vec_col).cast("array<double>").alias("dv"),
    )
    p = assign_cells(probes, centroids, vec_col=vec_col, n_probe=n_probe).select(
        "cell",
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pv"),
    )
    return _per_probe_cell_topk(d, p, k)


def _per_probe_cell_topk(d: DataFrame, p: DataFrame, k: int) -> DataFrame:
    """Shared tail of the batched-probe operators: cell equi-join ->
    self-pair exclusion -> round-6 cosine -> two-phase per-probe top-k.
    ONE definition — ivf_topk_per_probe and its materialized-index twin
    share an exact oracle, which holds only while the join filter,
    rounding and tiebreaks stay byte-identical between them. ``d`` is
    (cell, data_id, dv: array<double>), ``p`` is
    (cell, probe_id, pv: array<double>)."""
    scored = (
        d.join(p, "cell")
        .filter(F.col("data_id") != F.col("probe_id"))
        .select(
            "probe_id", "data_id", "cell",
            round_half_up(cosine_col(F.col("dv"), F.col("pv")), 6).alias("cosine"),
        )
    )
    w1 = Window.partitionBy("probe_id", "cell").orderBy(
        F.desc("cosine"), F.asc("data_id"))
    pruned = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "cell")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("data_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _centroid_df(spark, centroids: list[list[float]]):
    """Centroid set as a ONE-ROW DataFrame holding array<struct<cell,cvec>>.

    The centroid payload travels as broadcast DATA (one BroadcastNestedLoop
    join against a 1-row build side), not as plan literals: the projection
    has a single transform() lambda regardless of cell count, so 64-64k
    cells neither bloat the plan tree nor blow up codegen — the fix for the
    per-centroid literal-unroll flagged in round 2."""
    payload = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(
        [(payload,)], "cents array<struct<cell:int,cvec:array<double>>>"
    )


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """IVF cell assignment: nearest (by round6-cosine, ties to the lowest
    cell id) centroid; n_probe > 1 replicates rows into their top-n cells
    (the recall knob). Centroids attach via one broadcast cross join of a
    1-row array-of-structs DataFrame (see _centroid_df), then a single
    per-row transform/array_sort/slice picks the top cells — no shuffle of
    the data side, no per-centroid plan branches."""
    cents = _centroid_df(df.sparkSession, centroids)
    staged = df.withColumn("_v", F.col(vec_col).cast("array<double>"))
    joined = staged.crossJoin(F.broadcast(cents))
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            round_half_up(cosine_col(F.col("_v"), c["cvec"]), 6).alias("sim"),
            c["cell"].alias("cell"),
        ),
    )
    top = F.slice(F.array_sort(scored, lambda a, b: F.when(a["sim"] > b["sim"], -1)
                               .when(a["sim"] < b["sim"], 1)
                               .otherwise(a["cell"] - b["cell"])), 1, n_probe)
    return joined.withColumn("_cells", top).select(
        *df.columns, F.explode(F.col("_cells.cell")).alias("cell")
    )


def kmeans_train(
    df: DataFrame,
    k: int = 64,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> list[list[float]]:
    """Distributed Lloyd k-means over an embedding column, engineered so a
    SQL oracle can reproduce the trained centroids BIT-FOR-BIT:

      * vectors are quantized to integers q = floor(x*scale + 0.5) once;
        per-cell sums are then EXACT bigints (order-independent — the usual
        float-sum nondeterminism of distributed k-means is gone), and the
        mean is a single IEEE division double(sum) / double(n*scale);
      * init is a deterministic seeded sample: the first k rows by
        md5(id) — engine-portable and unbiased w.r.t. insertion order (a
        randomized k-means||-style init would not be reproducible in the
        oracle engine);
      * assignment = nearest centroid by round6(cosine), ties to the lowest
        cell — the same rule assign_cells applies at query time;
      * empty cells keep their previous centroid.

    Each iteration is one Spark job: broadcast-join assignment (no data
    shuffle) + groupBy(cell) with dim bigint-sum aggregates (map-side
    partial agg; k*dim values cross the wire) + a k-row driver collect.
    At 100 TB this is the standard shape — only centroids ever leave the
    executors."""
    v = F.col(vec_col).cast("array<double>")
    with Scope():
        staged = persist(df.select(
            F.col(id_col).alias("_id"),
            v.alias("_kv"),
            F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5))).alias("_vq"),
        ))
        first = staged.select("_vq").first()
        if first is None:
            raise ValueError("kmeans_train: empty input")
        dim = len(first["_vq"])
        seeds = (
            staged.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
            .limit(k)
            .select("_vq")
            .collect()
        )
        cents = [[float(q) / float(scale) for q in r["_vq"]] for r in seeds]
        sums = [
            F.sum(F.element_at("_vq", j + 1)).alias(f"s{j}") for j in range(dim)
        ]
        for _ in range(n_iter):
            assigned = assign_cells(staged, cents, vec_col="_kv", n_probe=1)
            stats = (
                assigned.groupBy("cell")
                .agg(F.count("*").alias("n"), *sums)
                .collect()
            )
            cents = list(cents)
            for r in stats:
                denom = float(r["n"] * scale)
                cents[r["cell"]] = [
                    float(r[f"s{j}"]) / denom for j in range(dim)
                ]
        return cents


def ivf_topk(
    data: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: scan only the n_probe cells nearest to the query.

    Probe selection rounds to 6 decimals with the same half-up formula as
    assign_cells / the DuckDB oracle, so the probed cell set is identical
    across engines (unrounded doubles could order two near-equal cells
    differently)."""
    probe_cells = _probe_cells(query_vec, centroids, n_probe)
    celled = assign_cells(data, centroids, vec_col, n_probe=1)
    cand = celled.filter(F.col("cell").isin(probe_cells))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def _probe_cells(query_vec, centroids, n_probe: int) -> list[int]:
    """The n_probe cells nearest the query, driver-side, by round6(cosine)
    with ties to the lowest cell."""
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        raw = dot / (na * nb) if na and nb else 0.0
        return math.floor(raw * 1e6 + 0.5) / 1e6

    return sorted(range(len(centroids)),
                  key=lambda i: (-cos(query_vec, centroids[i]), i))[:n_probe]


def _ivf_centroids(spark, path: str) -> list[list[float]]:
    """Open a materialized IVF index: finish a rebuild swap a crash
    interrupted (tables.restore_aside), then read the centroids in cell
    order."""
    restore_aside(path)
    return [
        list(r["cvec"])
        for r in sorted(spark.read.parquet(f"{path}/centroids").collect(),
                        key=lambda r: r["cell"])
    ]


def build_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index: vectors written ONCE, partitioned by
    cell (`.../cells/cell=<i>/...`), centroids alongside. This is the
    build-once/query-many serving shape: a top-k probe reads ONLY its
    n_probe cell directories — partition PRUNING at the file listing, so
    query IO scales with k/n_cells of the corpus, not the corpus. At
    100 TB the cells dir is the ANN shard layout."""
    cents = assign_cells(df, centroids, vec_col=vec_col, n_probe=1)
    (cents.select("cell", id_col, F.col(vec_col).cast("array<double>")
                  .alias(vec_col))
     .write.mode("overwrite").option("compression", CODEC)
     .partitionBy("cell").parquet(f"{path}/cells"))
    spark = df.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    (spark.createDataFrame(cent_rows, "cell int, cvec array<double>")
     .coalesce(1).write.mode("overwrite").option("compression", CODEC)
     .parquet(f"{path}/centroids"))
    # build-time cell-occupancy stats: the baseline append_to_ivf_index's
    # drift gate compares against
    (spark.read.parquet(f"{path}/cells").groupBy("cell")
     .agg(F.count("*").alias("n")).coalesce(1)
     .write.mode("overwrite").option("compression", CODEC)
     .parquet(f"{path}/stats"))


def rebuild_ivf_index(
    spark,
    path: str,
    k: int | None = None,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Act on the drift gate (round-5 verdict #7): re-train k-means on
    the ACCUMULATED corpus read back from the cell partitions, rebuild
    the cell layout, and atomically swap it in (tables.swap_in, TableIO's
    aside-swap: the new index is staged completely beside the old one,
    and every instant has a complete index on disk — every IVF opener
    restores the aside when a crash interrupted the swap). ``k``
    defaults to the constant-cell-size rule (rows // 128, min 16) — the
    100 TB design scales cell count with the corpus.

    Deterministic: kmeans_train is md5-seeded with integer-quantized
    sums, so the rebuilt index is bit-equal to a fresh
    build_ivf_index over the same rows (pinned by test). The drift
    history (drift.jsonl) carries over with a rebuild record appended."""
    import json
    import os
    import shutil
    import time
    import uuid

    restore_aside(path)
    corpus = spark.read.parquet(f"{path}/cells").select(id_col, vec_col)
    n = corpus.count()
    if k is None:
        k = max(16, n // 128)
    cents = kmeans_train(corpus, k=k, n_iter=n_iter, vec_col=vec_col)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    build_ivf_index(corpus, cents, tmp, id_col=id_col, vec_col=vec_col)
    drift_log = os.path.join(path, "drift.jsonl")
    if os.path.exists(drift_log):
        shutil.copy(drift_log, os.path.join(tmp, "drift.jsonl"))
    with open(os.path.join(tmp, "drift.jsonl"), "a") as f:
        f.write(json.dumps({"rebuilt": True, "rows": n, "k": k,
                            "ts": time.time()}) + "\n")
    swap_in(tmp, path)
    for sub in ("cells", "centroids", "stats"):
        spark.catalog.refreshByPath(f"{path}/{sub}")
    return {"rows": n, "k": k}


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skew_factor: float = 2.0,
    growth_factor: float = 1.0,
    rebuild_on_drift: bool = False,
    rebuild_k: int | None = None,
) -> dict:
    """Grow a materialized IVF index WITHOUT re-training (round-4 verdict
    ask #3): new vectors are assigned with the COMMITTED centroids and
    appended into the existing cell partition dirs, so an index built in
    K appends is row-identical to a one-shot build over the union
    (same centroids -> same assignment; pinned by the
    ivf_knn_per_probe_appended oracle).

    Returns a drift report and flags ``retrain`` when the committed
    centroids stop fitting the grown corpus:
      * skew — max/mean cell occupancy grew past ``skew_factor`` x the
        build-time skew (new data is piling into few cells: recall decays
        because probes read ever-larger cells);
      * growth — total rows exceed (1 + ``growth_factor``) x build size
        (even balanced growth eventually wants more cells: the 100 TB
        design holds cell SIZE constant by scaling cell count with the
        corpus).
    The report is appended to ``<path>/drift.jsonl`` so index lineage is
    inspectable. ``rebuild_on_drift=True`` is the gate's ACTION hook
    (round-5 verdict #7): when ``retrain`` fires, rebuild_ivf_index
    re-trains on the accumulated corpus and atomically swaps the index
    (report gains a ``rebuilt`` entry); default off keeps the
    flag-only behavior for callers that schedule rebuilds themselves."""
    import json
    import os

    spark = df.sparkSession
    cents = _ivf_centroids(spark, path)
    assigned = assign_cells(df, cents, vec_col=vec_col, n_probe=1)
    (assigned.select("cell", id_col, F.col(vec_col).cast("array<double>")
                     .alias(vec_col))
     .write.mode("append").option("compression", CODEC)
     .partitionBy("cell").parquet(f"{path}/cells"))
    spark.catalog.refreshByPath(f"{path}/cells")
    build = {int(r["cell"]): int(r["n"])
             for r in spark.read.parquet(f"{path}/stats").collect()}
    now = {
        int(r["cell"]): int(r["n"])
        for r in spark.read.parquet(f"{path}/cells")
        .groupBy("cell").agg(F.count("*").alias("n")).collect()
    }

    def skew(counts):
        vals = list(counts.values())
        mean = sum(vals) / len(vals) if vals else 0.0
        return (max(vals) / mean) if mean else 0.0

    build_total, now_total = sum(build.values()), sum(now.values())
    report = {
        "build_rows": build_total,
        "rows": now_total,
        "build_skew": round(skew(build), 4),
        "skew": round(skew(now), 4),
        "appended": now_total - build_total,
    }
    report["retrain"] = bool(
        (report["build_skew"] and
         report["skew"] > skew_factor * report["build_skew"])
        or (build_total and
            now_total > (1.0 + growth_factor) * build_total)
    )
    with open(os.path.join(path, "drift.jsonl"), "a") as f:
        f.write(json.dumps(report) + "\n")
    if report["retrain"] and rebuild_on_drift:
        report["rebuilt"] = rebuild_ivf_index(
            spark, path, k=rebuild_k, id_col=id_col, vec_col=vec_col)
    return report


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a materialized IVF index (build_ivf_index): pick the
    n_probe nearest cells driver-side from the tiny centroids table, then
    scan ONLY those cell partitions (`cell IN (...)` prunes at the parquet
    listing — verify with .explain(): PartitionFilters, not a full scan).
    Results are identical to ivf_topk over the same centroids (shared
    oracle)."""
    probe_cells = _probe_cells(query_vec, _ivf_centroids(spark, path),
                               n_probe)
    cand = spark.read.parquet(f"{path}/cells").filter(
        F.col("cell").isin(probe_cells)
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_topk_per_probe_indexed(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched probes against a MATERIALIZED IVF index (build_ivf_index):
    identical results to ivf_topk_per_probe over the same centroids, but
    the corpus-side cell assignment — the full-corpus pass — is the one
    precomputed on disk, so a probe batch pays only its own assignment
    plus the cell join. This is the serving shape: build once, then any
    number of probe batches (including the corpus itself, for ANN
    self-dedup) amortize the index build. Cells the probe batch never
    selects are pruned by the semi-join pushed into the partitioned scan;
    a batch that touches every cell reads everything — correct, that IS
    its working set."""
    cents = _ivf_centroids(spark, path)
    p = assign_cells(probes, cents, vec_col=vec_col, n_probe=n_probe).select(
        "cell",
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pv"),
    )
    d = spark.read.parquet(f"{path}/cells").select(
        "cell",
        F.col(id_col).alias("data_id"),
        F.col(vec_col).alias("dv"),
    )
    return _per_probe_cell_topk(d, p, k)


def with_int8_dequantized(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "embedding"
) -> DataFrame:
    """Replace each vector with its int8-quantize-then-dequantize image —
    the value domain an int8-STORED ANN index actually searches (4x less
    memory bandwidth per scan at the cost of the reconstruction error
    quantize_int8_error measures). Same per-element math as that operator
    (exact cross-engine: single IEEE ops, no reductions), so quantized
    search results carry an exact DuckDB oracle too. Constant vectors
    (scale 0) dequantize to their min."""
    v = F.col(vec_col).cast("array<double>")
    staged = (
        df.withColumn("_dq_v", v)
        .withColumn("_dq_mn", F.array_min(v))
        .withColumn("_dq_sc", (F.array_max(v) - F.array_min(v)) / 255.0)
    )
    code = F.transform(
        F.col("_dq_v"),
        lambda x: F.when(F.col("_dq_sc") == 0.0, F.lit(0.0)).otherwise(
            F.floor((x - F.col("_dq_mn")) / F.col("_dq_sc") + 0.5)
        ),
    )
    dq = F.transform(code, lambda c: F.col("_dq_mn") + c * F.col("_dq_sc"))
    return staged.withColumn(out_col, dq).drop("_dq_v", "_dq_mn", "_dq_sc")


def quantize_int8_error(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Linear int8 (0..255) per-vector quantization + reconstruction
    error — the storage-compression step of a large-scale embedding
    pipeline (4x smaller vectors before ANN indexing).

    Per vector: scale = (max-min)/255, code = floor((x-min)/scale + 0.5),
    dequant = min + code*scale, error = max |x - dequant|. Every
    operation is per-element double arithmetic and the reduction is MAX
    (order-independent), so the DuckDB oracle matches bit-for-bit — no
    summation-order hazard. Constant vectors (scale 0) quantize to code 0
    with zero error.
    """
    v = F.col(vec_col).cast("array<double>")
    mn = F.array_min(v)
    mx = F.array_max(v)
    scale = (mx - mn) / 255.0
    staged = df.select(
        F.col(id_col), v.alias("_v"), mn.alias("_mn"), scale.alias("_sc")
    )
    code = F.transform(
        F.col("_v"),
        lambda x: F.when(F.col("_sc") == 0.0, F.lit(0).cast("bigint"))
        .otherwise(F.floor((x - F.col("_mn")) / F.col("_sc") + 0.5)),
    )
    with_code = staged.select(id_col, "_v", "_mn", "_sc", code.alias("_q"))
    err = F.array_max(
        F.zip_with(
            F.col("_v"),
            F.col("_q"),
            lambda x, b: F.abs(x - (F.col("_mn") + b * F.col("_sc"))),
        )
    )
    return with_code.select(
        id_col,
        F.size(F.array_distinct("_q")).cast("int").alias("n_levels"),
        round_half_up(err, 6).alias("max_abs_err"),
    )


def embedding_near_dup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
) -> DataFrame:
    """Near-duplicate embedding pairs: block by IVF cell (each row lands
    in its n_probe nearest cells so borderline pairs meet in some cell),
    then exact cosine within cells."""
    celled = assign_cells(df, centroids, vec_col, n_probe=n_probe).select(
        "cell",
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    a = celled.withColumnsRenamed({"id": "id_a", "v": "v_a"})
    b = celled.withColumnsRenamed({"id": "id_b", "v": "v_b"})
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            round_half_up(cosine_col(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("cosine") >= threshold)
    )
