"""Skewed-corpus robustness (VERDICT r1 item 10): a variant-storm entity
(hundreds of near-identical distinct surface forms — the OCR/typo analog
of a zipf mega-entity) must not turn LSH blocking quadratic; the
mega-block cap fires, is logged in lineage, and the salted two-phase agg
stays exact under hot-key skew."""

from __future__ import annotations

from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.operators import blocking
from gondar_spark.operators.topk import two_phase_count
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df


def _variant_storm_mentions(spark, n=400):
    """400 distinct norms of one entity stem — gram sets overlap heavily,
    so minhash bands collide into mega-blocks."""
    return spark.range(n).select(
        F.concat(F.lit("hotentityvariant"), F.col("id").cast("string"))
        .alias("norm")
    )


def test_megablock_cap_bounds_candidate_pairs(spark):
    m = _variant_storm_mentions(spark)
    sig = blocking.minhash_signature_df(m, 16, 1001, 3)
    blocks = blocking.band_keys_df(sig, 16, 8)

    sizes = blocks.groupBy("band_key").agg(F.count("*").alias("bs"))
    max_bs = sizes.agg(F.max("bs")).first()[0]
    assert max_bs > 50  # the storm really does create mega-blocks

    uncapped = blocking.candidate_pairs(blocks, max_block_size=None)
    capped = blocking.candidate_pairs(blocks, max_block_size=50)
    n_uncapped, n_capped = uncapped.count(), capped.count()
    assert n_capped < n_uncapped  # the cap dropped the blow-up
    # capped output is a subset (the cap only removes, never invents)
    assert capped.exceptAll(uncapped).count() == 0


def test_pipeline_logs_megablock_cap(spark, tmp_path):
    """With a tiny cap, the real pipeline records the drop in lineage
    (never silent) and still completes end-to-end."""
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="skew",
                    max_block_size=2)
    pipe = Pipeline(spark, cfg)
    src = generate_source_df(
        spark, SynthConfig(n_files=60, hot_entity_weight=0.5), partitions=4)
    pipe.run(source_df=src)
    recs = [r for r in pipe.lineage() if r["stage"] == "edges_megablock_cap"]
    assert recs, "cap fired but was not logged"
    assert recs[0]["n_blocks_dropped"] > 0
    assert recs[0]["max_block_size"] == 2
    # pipeline still materialized (entities exist; fewer merges is fine)
    assert pipe.io.read("entities").count() > 0


def test_two_phase_count_exact_under_skew(spark):
    """Salted partial-agg must equal the plain groupBy count on a corpus
    where one key holds ~60% of the rows (hot-entity zipf analog)."""
    hot = spark.range(60_000).select(F.lit("mega").alias("k"))
    tail = spark.range(40_000).select(
        F.concat(F.lit("k"), (F.col("id") % 997).cast("string")).alias("k"))
    df = hot.unionByName(tail).repartition(32)
    salted = {r["k"]: r["cnt"] for r in two_phase_count(df, "k", 8).collect()}
    plain = {r["k"]: r["cnt"] for r in
             df.groupBy("k").agg(F.count("*").cast("long").alias("cnt")).collect()}
    assert salted == plain
    assert salted["mega"] == 60_000


def test_top_k_per_group_two_phase_parity_under_hot_group(spark):
    """pre_buckets splits a mega-group (50% of rows) into bounded windows;
    results must equal the single-window path exactly."""
    from pyspark.sql import functions as F

    from gondar_spark.operators.topk import top_k_per_group

    df = spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, F.lit("mega"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 7).cast("string")))
        .alias("grp"),
        (F.col("id") * 37 % 1000).cast("double").alias("score"),
        F.col("id").alias("rid"),
    )
    plain = top_k_per_group(df, "grp", "score", 10, tiebreak="rid")
    two = top_k_per_group(df, "grp", "score", 10, tiebreak="rid",
                          pre_buckets=8)
    assert plain.exceptAll(two).count() == 0
    assert two.exceptAll(plain).count() == 0


def test_top_k_per_group_default_tiebreak_is_total_order(spark):
    """With no explicit tiebreak, ALL remaining columns order the window —
    the boundary rank is layout-independent (the old default ordered by
    the constant group key, i.e. not at all)."""
    from pyspark.sql import functions as F

    from gondar_spark.operators.topk import top_k_per_group

    rows = [("g", 1.0, f"id{i:02d}") for i in range(20)]
    df1 = spark.createDataFrame(rows, ["grp", "score", "rid"])
    df2 = spark.createDataFrame(list(reversed(rows)),
                                ["grp", "score", "rid"]).repartition(13)
    got1 = {r["rid"] for r in top_k_per_group(df1, "grp", "score", 5).collect()}
    got2 = {r["rid"] for r in top_k_per_group(df2, "grp", "score", 5).collect()}
    assert got1 == got2 == {f"id{i:02d}" for i in range(5)}


def test_dedup_release_caches_unpersists(spark):
    from gondar_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} shared words here") for i in range(30)],
        ["doc_id", "text"],
    )
    from gondar_spark.session import Scope

    dedup.release_caches()  # drain any leftovers from other tests
    dedup.minhash_lsh_pairs(df).collect()
    dedup.ngram_jaccard_pairs(df).collect()
    root = Scope.current()
    assert len(root._entries) == 2
    assert dedup.release_caches() == 2
    assert not root._entries


def test_asof_bucketed_splits_hot_key_windows(spark):
    """Structural skew bound: with one key carrying 50% of all rows, the
    bucketed as-of's window partitions are (key, time-bucket) groups whose
    max size is a small fraction of the hot key's total — the plain path
    funnels all of it through ONE window partition."""
    from pyspark.sql import functions as F

    base = 1_700_000_000
    n = 20_000
    rows = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 13).cast("string")))
        .alias("k"),
        F.timestamp_seconds(base + F.col("id")).alias("ts"),
    )
    width = 600
    per_window = (
        rows.withColumn(
            "_bkt", F.floor(F.unix_timestamp("ts") / width))
        .groupBy("k", "_bkt").count()
        .agg(F.max("count").alias("mx")).collect()[0]["mx"]
    )
    hot_total = rows.filter(F.col("k") == "hot").count()
    assert hot_total == n // 2
    # the hot key spreads over ~ n / width buckets; no single window
    # partition holds more than a few percent of it
    assert per_window <= hot_total * 0.05, (per_window, hot_total)


def test_topk_pre_buckets_split_hot_group(spark):
    """Same bound for the two-phase top-k: the phase-1 window partitions
    (group, hash-bucket) each hold ~1/n_buckets of the mega-group."""
    from pyspark.sql import functions as F

    n, buckets = 20_000, 8
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("mega"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 7).cast("string")))
        .alias("grp"),
        (F.col("id") * 37 % 1000).cast("double").alias("score"),
        F.col("id").alias("rid"),
    )
    salted = df.withColumn(
        "_tkb",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets)),
    )
    mx = (
        salted.groupBy("grp", "_tkb").count()
        .filter(F.col("grp") == "mega")
        .agg(F.max("count").alias("mx")).collect()[0]["mx"]
    )
    # near-uniform hash split: max bucket within 1.5x of the even share
    assert mx <= (n // 2) / buckets * 1.5, mx
