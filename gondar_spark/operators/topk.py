"""B14: top-k diagnostics (hot entities / mega-repos) + B10 salting.

Top-k finds the hot keys; ``salted`` / ``two_phase_count`` spread a hot
key over a fixed number of reducers with a deterministic hash salt
before the heavy join/agg (never F.rand() — stage retries must be
idempotent, SURVEY.md §4 determinism row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_by_count(df: DataFrame, key: str, k: int = 10) -> DataFrame:
    """Global top-k keys by frequency.

    orderBy + limit — Spark plans this as TakeOrderedAndProject (per-partition
    heap of k rows, then a k-row merge on the driver), so no key funnels
    through a single-partition window Exchange. The (cnt desc, key asc)
    ordering makes ties deterministic.
    """
    counts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc(key)).limit(k)


def _orderable(dt) -> bool:
    """Whether a column type can appear in a sort order — map types (at
    any nesting depth) cannot, and including one in the default tiebreak
    would turn a working call into an AnalysisException."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _salt_cols(df: DataFrame):
    """Columns safe to feed to xxhash64: Spark's hash functions reject
    MapType (at any nesting depth), so salts must mirror the _orderable
    filter — otherwise a map-typed payload column makes the salted path
    raise AnalysisException while the unsalted path works. Falls back to
    a constant when no column is hashable (degenerate single bucket,
    still deterministic)."""
    cols = [F.col(f.name) for f in df.schema.fields if _orderable(f.dataType)]
    return cols if cols else [F.lit(0)]


def top_k_per_group(
    df: DataFrame,
    group: str,
    order: str,
    k: int,
    tiebreak: str | None = None,
    pre_buckets: int | None = None,
) -> DataFrame:
    """row_number window per group — the scalable per-group top-k.

    `tiebreak` (ascending) makes ranks at the k boundary deterministic
    when `order` values collide; pass an id-like column when one exists
    (as q_events_topk_users does with user_id). When omitted, ALL
    remaining columns ascend as the tiebreak — a deterministic total
    order regardless of partition layout (the old default, the group key,
    was constant within the window and ordered nothing).

    SKEW: Window.partitionBy(group) funnels each group through one task —
    AQE splits skewed JOIN partitions, not window partitions, so a
    mega-group is a straggler. `pre_buckets=n` bounds it with a two-phase
    top-k: a deterministic hash salt splits each group into n buckets,
    phase 1 takes top-k per (group, bucket), phase 2 ranks the surviving
    <= n*k rows per group. Identical results (top-k is bucket-decomposable:
    every global top-k row is top-k in its bucket), mega-group cost drops
    from |group| to |group|/n + n*k.
    """
    if tiebreak:
        tiebreak_cols = [F.asc(tiebreak)]
    else:
        tiebreak_cols = [
            F.asc(f.name) for f in df.schema.fields
            if f.name not in (group, order) and _orderable(f.dataType)
        ]
    order_cols = [F.desc(order), *tiebreak_cols]
    if pre_buckets:
        salt = F.pmod(F.xxhash64(*_salt_cols(df)), F.lit(pre_buckets))
        w1 = Window.partitionBy(group, "_tkb").orderBy(*order_cols)
        df = (
            df.withColumn("_tkb", salt)
            .withColumn("_prank", F.row_number().over(w1))
            .filter(F.col("_prank") <= k)
            .drop("_tkb", "_prank")
        )
    w = Window.partitionBy(group).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def salted(df: DataFrame, key: str, buckets: int = 8) -> DataFrame:
    """Deterministic hash salt: key -> (key, salt) so a hot key spreads
    over `buckets` reducers; aggregate per (key, salt) first, then
    re-aggregate per key (classic two-phase agg)."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*_salt_cols(df)), F.lit(buckets))
    )


def two_phase_count(df: DataFrame, key: str, buckets: int = 8) -> DataFrame:
    """Skew-proof count per key: partial agg on (key, salt), final on key.
    (groupBy already does map-side partial aggregation; this pattern is
    for skewed high-cardinality payloads like collect_set.)"""
    partial = (
        salted(df, key, buckets)
        .groupBy(key, "_salt")
        .agg(F.count("*").alias("_c"))
    )
    return partial.groupBy(key).agg(F.sum("_c").cast("long").alias("cnt"))
