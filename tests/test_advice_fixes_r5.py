"""Regression tests for the round-4 ADVICE items fixed in round 5:

  1. dedup._CACHES_LOCK created at import (the lazy init was itself a
     check-then-set race);
  2. TableIO commit manifests list superseded segments, so a crash
     between base-swap and segment-prune can never double-count rows
     (previously tolerated only for keyed ledgers; extract_metrics rows
     have no identity and double-counted until the next fold);
  3. clean_corpus string-id support: the near-dup stage previously
     no-op'd SILENTLY for string ids (losers cast to long -> NULL ->
     anti-join removed nothing); now CC keys on the raw strings.
     Negative integral ids raise in-plan instead of corrupting the
     zero-padded label ordering.

(Advice item 4 — the streaming max_band refusal sentinel — is asserted
in test_streaming_and_plans.test_stateful_minhash_pairs_max_band_cap.)
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from gondar_spark.sources.tables import TableIO


def test_caches_lock_created_at_import():
    """The root cache scope and its lock exist from import — a lazily
    installed lock is itself a check-then-set race."""
    from gondar_spark.session import Scope

    root = Scope.current()
    assert isinstance(root._lock, type(threading.Lock()))
    assert Scope.current() is root


def test_superseded_segments_survive_crash_mid_prune(spark, tmp_warehouse,
                                                     monkeypatch):
    """Crash window between os.rename(tmp, final) and the stale-segment
    rmtree loop: the folded segment dirs stay on disk, but the new base
    manifest lists them as superseded — read() must NOT union their rows
    back in, and the next init physically removes them."""
    io = TableIO(spark, tmp_warehouse, use_iceberg=False)
    df = spark.range(3).select(F.col("id").alias("metric"))
    io.write(df, "metrics")
    io.append(spark.range(3, 5).select(F.col("id").alias("metric")), "metrics")
    io.append(spark.range(5, 6).select(F.col("id").alias("metric")), "metrics")
    assert io.read("metrics").count() == 6
    segs_before = io.segments("metrics")
    assert len(segs_before) == 2

    # simulate the crash: make the post-swap prune a no-op
    import shutil as _shutil

    real_rmtree = _shutil.rmtree
    import gondar_spark.sources.tables as tables_mod

    def skip_seg_rmtree(path, **kw):
        if tables_mod.TableIO._SEG_SEP in str(path):
            return  # "crashed" before pruning this segment
        return real_rmtree(path, **kw)

    monkeypatch.setattr(tables_mod.shutil, "rmtree", skip_seg_rmtree)
    io.compact("metrics")
    monkeypatch.setattr(tables_mod.shutil, "rmtree", real_rmtree)

    # the folded segment dirs are still on disk...
    import os

    leftover = [e for e in os.listdir(tmp_warehouse)
                if e.startswith("metrics__seg_")]
    assert len(leftover) == 2
    # ...but invisible to readers: no double count
    assert io.segments("metrics") == []
    assert io.read("metrics").count() == 6
    meta = io.commit_meta("metrics")
    assert sorted(meta["superseded_segments"]) == sorted(segs_before)

    # a fresh init (recovery) physically drops the orphans
    TableIO(spark, tmp_warehouse, use_iceberg=False)
    assert not [e for e in os.listdir(tmp_warehouse)
                if e.startswith("metrics__seg_")]
    assert io.read("metrics").count() == 6


def _near_dup_corpus(spark, make_id):
    """Docs with one exact-dup group and one near-dup group; quality high
    enough that the gate keeps everything."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "the dog barks loudly at the quick fox in the yard")
    rows = [
        (make_id(1), base),
        (make_id(2), base),                       # exact dup of 1
        (make_id(10), "dup " + base),             # near dup of 1
        (make_id(30), "completely different text about spark shuffles "
                      "and the partitions that feed them during a join"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_clean_corpus_string_ids_removes_near_dups(spark):
    """String-keyed corpus: near-dup losers are actually removed (the
    pre-fix silent no-op kept them), keeper = lexicographic min id."""
    from gondar_spark.operators.dedup import clean_corpus, release_caches

    docs = _near_dup_corpus(spark, lambda i: f"d{i}")
    got = {r["doc_id"] for r in
           clean_corpus(docs, quality_threshold=0.0,
                        jaccard_threshold=0.5).collect()}
    release_caches()
    # exact dedup keeps d1 (min of {d1, d2}); near-dup CC clusters
    # {d1, d10} -> keeper 'd1' (lexicographic min); d30 untouched
    assert got == {"d1", "d30"}


def test_clean_corpus_string_ids_lexicographic_keeper(spark):
    """Variable-width string ids where lexicographic min != the numeric
    min of the embedded number ('d10' < 'd2') — catches any lingering
    numeric-cast path."""
    from gondar_spark.operators.dedup import clean_corpus, release_caches

    base = ("the quick brown fox jumps over the lazy dog and then "
            "the dog barks loudly at the quick fox in the yard")
    docs = spark.createDataFrame(
        [("d2", base), ("d10", "dup " + base)], ["doc_id", "text"])
    got = {r["doc_id"] for r in
           clean_corpus(docs, quality_threshold=0.0,
                        jaccard_threshold=0.5).collect()}
    release_caches()
    assert got == {"d10"}  # 'd10' < 'd2' lexicographically


def test_clean_corpus_numeric_path_unchanged(spark):
    from gondar_spark.operators.dedup import clean_corpus, release_caches

    docs = _near_dup_corpus(spark, lambda i: i)
    got = {r["doc_id"] for r in
           clean_corpus(docs, quality_threshold=0.0,
                        jaccard_threshold=0.5).collect()}
    release_caches()
    assert got == {1, 30}


def test_clean_corpus_negative_ids_raise_in_plan(spark):
    from gondar_spark.operators.dedup import clean_corpus, release_caches

    docs = _near_dup_corpus(spark, lambda i: -i)
    try:
        with pytest.raises(Exception, match="negative ids"):
            clean_corpus(docs, quality_threshold=0.0,
                         jaccard_threshold=0.5).collect()
    finally:
        release_caches()


def test_clean_corpus_unsupported_id_type_raises(spark):
    from gondar_spark.operators.dedup import clean_corpus

    docs = spark.createDataFrame(
        [(1.5, "some text")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="integral or string"):
        clean_corpus(docs)
