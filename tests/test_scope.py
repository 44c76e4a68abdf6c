"""One cache/checkpoint lifecycle (gondar_spark.session.Scope): a durable
build, an incremental ingest and a retraction each free every persist and
checkpoint they make; release_caches() drains what declared queries and
dedup operators leave in the root scope; the root cap evicts only
recomputable persists, never a checkpoint a live plan may still read."""

from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.operators import dedup
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df


def _rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _isolate(spark):
    """Start from an empty root scope and CacheManager, so leftovers of
    earlier tests cannot be charged to the call under test."""
    dedup.release_caches()
    spark.catalog.clearCache()


def test_pipeline_build_ingest_and_retract_leave_no_blocks(spark, tmp_path):
    full = generate_source_df(spark, SynthConfig(n_files=60, seed=7), 4)
    base = full.filter(F.xxhash64("path") % 3 != 0)
    pipe = Pipeline(spark, JobConfig(warehouse=str(tmp_path / "wh"),
                                     run_id="s1", durable_link_state=True))
    _isolate(spark)
    calls = {
        "durable build": lambda: pipe.run(source_df=base),
        "incremental ingest": lambda: pipe.run(source_df=full,
                                               incremental=True),
        "retract": lambda: pipe.retract(
            source_df=full.filter(F.xxhash64("path") % 5 != 0)),
    }
    for name, call in calls.items():
        before = _rdd_ids(spark)
        call()
        assert not _rdd_ids(spark) - before, name
        assert _cache_empty(spark), name


def test_release_caches_frees_declared_and_dedup_queries(spark):
    import __spark_entry__ as entry

    _isolate(spark)
    before = _rdd_ids(spark)
    entry.q_kg_entities(spark, None).collect()
    entry.q_kg_canonical_triples(spark, None).collect()
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i + 2} shared words here")
         for i in range(30)], ["doc_id", "text"])
    dedup.minhash_lsh_pairs(docs).collect()
    dedup.release_caches()
    assert not _rdd_ids(spark) - before
    assert _cache_empty(spark)


def test_root_cap_never_evicts_checkpoints(spark, monkeypatch):
    from gondar_spark import session

    _isolate(spark)
    monkeypatch.setattr(session, "MAX_LIVE_CACHES", 1)
    root = session.Scope.current()
    cps = [root.checkpoint(spark.range(100 + i)) for i in range(3)]
    first = root.persist(spark.range(10))
    root.persist(spark.range(11))
    assert first.storageLevel.useMemory is False  # the persist went
    assert [cp.count() for cp in cps] == [100, 101, 102]  # blocks intact
    assert session.release_caches() == 4


def test_scope_registration_is_thread_safe():
    """Concurrent persists and early releases on one shared scope lose no
    entry: more threads than cores and a tiny switch interval, so a
    check-then-act race on the entry list would drop or double-free."""
    import sys
    import threading

    from gondar_spark.session import Scope

    freed = []

    class Fake:
        def persist(self):
            return self

        def unpersist(self):
            freed.append(self)

    scope = Scope()
    batches = [[Fake() for _ in range(200)] for _ in range(16)]

    def work(batch):
        for i, df in enumerate(batch):
            scope.persist(df)
            if i % 2:
                scope.release(df)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(b,)) for b in batches]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert scope.close() == 1600  # every never-released entry, once
    assert len(freed) == 3200 and len({id(f) for f in freed}) == 3200
