"""CC data-scaling one decade deeper (round-2 verdict item #9):
chain+hub worst-case topology at 100k / 1M / 10M edges on local[32],
recording wall, ROUND COUNT, and the per-round intermediate edge-set
size (the payload every round's two groupBy shuffles carry — the honest
"peak shuffle" proxy: localCheckpoint keeps rounds off the lineage, so
per-stage shuffle-write bytes track these counts directly).

Usage: python tools/bench_cc_deep.py [max_edges=10000000]
Appends one JSON line per size to stdout; transcribe into
BENCH/BASELINE.md's CC table.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from gondar_spark.operators.cc import (  # noqa: E402
    _checkpoint_with_checksum,
    _large_star,
    _small_star,
)
from gondar_spark.session import Scope, build_session, release  # noqa: E402


def chain_hub_edges(spark, n_edges: int):
    """Same worst case bench.py:bench_cc uses: chains hanging off hubs
    (id -> id/100 every 100th node, else id -> id+1) — long paths force
    the full alternating-round depth."""
    return spark.range(0, n_edges, 1, 32).select(
        F.concat(F.lit("n"), F.col("id")).alias("norm_a"),
        F.concat(
            F.lit("n"),
            F.when(F.col("id") % 100 == 0, (F.col("id") / 100).cast("long"))
            .otherwise(F.col("id") + 1),
        ).alias("norm_b"),
    )


def run(spark, n_edges: int) -> dict:
    e = (
        chain_hub_edges(spark, n_edges)
        .select(F.col("norm_a").alias("src"), F.col("norm_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # every round's checkpoint lands in this scope; the previous round is
    # released as soon as the next one materializes, the last on exit
    with Scope():
        t0 = time.time()
        e, prev = _checkpoint_with_checksum(e)
        rounds = []
        for _ in range(40):
            nxt, cur = _checkpoint_with_checksum(_small_star(_large_star(e)))
            release(e)
            e = nxt
            rounds.append(cur[0])  # intermediate edge count this round
            if cur == prev:
                break
            prev = cur
        wall = round(time.time() - t0, 3)
        labels = e.select(F.col("src").alias("norm"),
                          F.col("dst").alias("component"))
        roots = e.select(F.col("dst").alias("norm")).distinct().withColumn(
            "component", F.col("norm"))
        n_labels = labels.union(roots).distinct().count()
    return {
        "edges": n_edges,
        "wall_s": wall,
        "rounds": len(rounds),
        "labels": n_labels,
        "round_edge_counts": rounds,
        "peak_round_edges": max(rounds),
    }


def main() -> None:
    max_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = build_session(
        app_name="gondar_cc_deep",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "12g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for n in (100_000, 1_000_000, 10_000_000):
        if n > max_edges:
            break
        print(json.dumps(run(spark, n)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
