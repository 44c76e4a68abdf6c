"""Regression tests for the round-3 ADVICE findings: map-typed salt
columns, string-id streaming dedup, ambiguous-network-failure retries,
cache-registry robustness, and segmented/prunable extraction ledgers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df


# ---------------------------------------------------------------- topk salt
def test_topk_pre_buckets_with_map_column(spark):
    """pre_buckets salts only hashable columns: a map-typed payload used
    to make the salted path raise AnalysisException while the unsalted
    path worked (xxhash64 rejects MapType)."""
    from gondar_spark.operators.topk import salted, top_k_per_group

    df = (
        spark.range(200)
        .select(
            (F.col("id") % 5).cast("string").alias("g"),
            (F.col("id") * 7 % 97).cast("double").alias("score"),
            F.col("id").alias("uid"),
            F.create_map(F.lit("k"), F.col("id").cast("string")).alias("payload"),
        )
    )
    plain = top_k_per_group(df.drop("payload"), "g", "score", 3, tiebreak="uid")
    bucketed = top_k_per_group(df, "g", "score", 3, tiebreak="uid",
                               pre_buckets=4)
    want = {(r["g"], r["uid"], r["rank"]) for r in plain.collect()}
    got = {(r["g"], r["uid"], r["rank"]) for r in bucketed.collect()}
    assert got == want and len(got) == 15

    # salted() shares the fix
    assert salted(df, "g", buckets=4).groupBy("g", "_salt").count().count() > 0


def test_topk_pre_buckets_all_map_columns_degenerates(spark):
    """No hashable column at all -> constant salt (single bucket), still
    correct."""
    from gondar_spark.operators.topk import _salt_cols

    df = spark.range(3).select(
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("m"))
    cols = _salt_cols(df)
    assert len(cols) == 1
    assert df.select(F.xxhash64(*cols).alias("h")).distinct().count() == 1


# ------------------------------------------------------- streaming string id
def test_stateful_exact_dedup_string_ids(spark, tmp_path):
    """The streaming twin accepts the same orderable id types batch
    exact_dedup does — string doc ids keep their native type in state."""
    import hashlib

    import pandas as pd

    from gondar_spark.streaming.jobs import stateful_exact_dedup

    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame({"doc_id": ["doc-b", "doc-z"],
                  "text": ["same text", "uniq a"]}).to_parquet(src / "b.parquet")
    pd.DataFrame({"doc_id": ["doc-a", "doc-q"],
                  "text": ["same text", "uniq b"]}).to_parquet(src / "a.parquet")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1).format("parquet").load(str(src))
    )
    out = stateful_exact_dedup(stream)
    assert dict(out.dtypes)["keep_id"] == "string"
    q = (
        out.writeStream.format("memory").queryName("t_stream_dedup_str")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    final = {}
    for r in spark.table("t_stream_dedup_str").collect():
        if (r["text_hash"] not in final
                or r["n_copies"] > final[r["text_hash"]][1]):
            final[r["text_hash"]] = (r["keep_id"], r["n_copies"])
    same_hash = hashlib.md5(b"same text").hexdigest()
    assert final[same_hash] == ("doc-a", 2)  # min() on the string ids
    assert len(final) == 3


# ------------------------------------------------------ ambiguous net retry
def _transport(post, **kw):
    from gondar_spark.extraction.llm import HttpChatTransport

    return HttpChatTransport("https://example.invalid/v1", "k",
                             http_post=post, sleep=lambda s: None, **kw)


def _req(t):
    return t.request([{"role": "user", "content": "x"}], model="m",
                     temperature=0.0, seed=1, response_format={})


def test_http_ambiguous_failure_not_retried_when_disabled():
    """retry_ambiguous=False: a read timeout (server may have completed
    the call) raises immediately — no duplicate billing — while a
    connection-refused (provably unbilled) is still retried."""
    from gondar_spark.extraction.llm import TransportError

    calls = []

    def post_timeout(url, headers, body, timeout_s):
        calls.append(1)
        raise TimeoutError("read timed out")

    t = _transport(post_timeout, retry_ambiguous=False)
    with pytest.raises(TransportError, match="ambiguous"):
        _req(t)
    assert len(calls) == 1 and t.n_failures == 1

    refused = []

    def post_refused(url, headers, body, timeout_s):
        refused.append(1)
        if len(refused) < 2:
            raise ConnectionRefusedError("refused")
        return 200, ('{"choices":[{"message":{"role":"assistant",'
                     '"content":"ok"}}],"usage":{}}')

    t2 = _transport(post_refused, retry_ambiguous=False)
    assert _req(t2)["choices"][0]["message"]["content"] == "ok"
    assert len(refused) == 2


def test_http_ambiguous_failure_retried_by_default():
    calls = []

    def post(url, headers, body, timeout_s):
        calls.append(1)
        if len(calls) < 2:
            raise TimeoutError("read timed out")
        return 200, ('{"choices":[{"message":{"role":"assistant",'
                     '"content":"ok"}}],"usage":{}}')

    t = _transport(post)
    assert _req(t)["choices"][0]["message"]["content"] == "ok"
    assert len(calls) == 2


# ------------------------------------------------------------ cache registry
def test_release_caches_survives_dead_entries(spark):
    """One entry whose unpersist raises (stopped session, dead handle)
    must not abort the loop and leak the rest."""
    from gondar_spark.operators import dedup
    from gondar_spark.session import Scope

    class Dead:
        def unpersist(self):
            raise RuntimeError("session stopped")

    live = spark.range(10).persist()
    dedup.release_caches()  # drain whatever earlier tests left
    root = Scope.current()
    with root._lock:
        root._entries.extend([Dead(), live])
    assert dedup.release_caches() == 1  # the live one released, Dead dropped
    assert not root._entries
    assert live.storageLevel.useMemory is False


# ------------------------------------------------------- segmented ledgers
def _mk_pipe(spark, tmp_path, run_id="r"):
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id=run_id)
    return Pipeline(spark, cfg)


def test_incremental_ledger_appends_segments(spark, tmp_path):
    """Incremental runs append O(new) ledger segments instead of
    rewriting the full history; reads union base + segments."""
    pipe = _mk_pipe(spark, tmp_path)
    base = generate_source_df(spark, SynthConfig(n_files=20), partitions=2)
    grown = generate_source_df(spark, SynthConfig(n_files=30), partitions=2)

    pipe.run(source_df=base)
    assert pipe.io.segments("extract_done") == []
    done0 = pipe.io.read("extract_done").count()

    pipe.run(source_df=grown, incremental=True)
    segs = pipe.io.segments("extract_done")
    assert len(segs) == 1
    # the segment holds ONLY the new keys
    seg_rows = spark.read.parquet(
        pipe.io._path(segs[0])).count()
    done1 = pipe.io.read("extract_done").distinct().count()
    assert seg_rows == done1 - done0 > 0
    assert done1 == grown.select("repo", "path", "commit").distinct().count()
    # metrics ledger segmented the same way
    assert len(pipe.io.segments("extract_metrics")) == 1

    # a no-change rerun appends nothing and invokes no extraction
    pipe.run(source_df=grown, incremental=True)
    assert len(pipe.io.segments("extract_done")) == 1


def test_ledger_compaction_folds_segments(spark, tmp_path):
    pipe = _mk_pipe(spark, tmp_path)
    pipe.COMPACT_AFTER = 2
    sizes = [10, 14, 18, 22]
    dfs = [generate_source_df(spark, SynthConfig(n_files=n), partitions=2)
           for n in sizes]
    pipe.run(source_df=dfs[0])
    for d in dfs[1:]:
        pipe.run(source_df=d, incremental=True)
    # 3 incremental runs with COMPACT_AFTER=2 -> at least one fold happened
    assert len(pipe.io.segments("extract_done")) < 3
    assert (pipe.io.read("extract_done").distinct().count()
            == dfs[-1].select("repo", "path", "commit").distinct().count())
    assert any(r["stage"] == "ledger_compact" for r in pipe.lineage())


def test_prune_removed_drops_stale_keys(spark, tmp_path):
    """prune_removed=True: keys for files the corpus no longer contains
    are dropped from source_hashes and extract_done (zero-copy mode)."""
    big = generate_source_df(spark, SynthConfig(n_files=30), partitions=2)
    small = big.filter(F.xxhash64("path") % 3 != 0)
    big_dir, small_dir = str(tmp_path / "big"), str(tmp_path / "small")
    big.write.parquet(big_dir)
    small.write.parquet(small_dir)

    pipe = _mk_pipe(spark, tmp_path)
    pipe.run(source_path=big_dir)
    n_big = big.select("repo", "path", "commit").distinct().count()
    assert pipe.io.read("extract_done").distinct().count() == n_big

    # corpus shrank; default (append-only assumption) keeps stale keys
    pipe.run(source_path=small_dir, incremental=True)
    assert pipe.io.read("extract_done").distinct().count() == n_big

    pipe.run(source_path=small_dir, incremental=True, prune_removed=True)
    n_small = small.select("repo", "path", "commit").distinct().count()
    assert n_small < n_big
    assert pipe.io.read("extract_done").distinct().count() == n_small
    assert pipe.io.read("source_hashes").count() == n_small
    assert pipe.io.segments("extract_done") == []  # prune forces a fold


# ------------------------------------------------- review-pass regressions
def test_cc_pad_width_survives_large_ids(spark):
    """Cluster-label padding must not truncate 9+ digit ids: two near-dup
    groups with ids around 10^9 must resolve to their own numeric-min
    keepers (a width-8 lpad silently cross-linked unrelated documents)."""
    from gondar_spark.operators.dedup import clean_corpus

    t1 = ("the quick brown fox jumps over the lazy dog and then runs far "
          "away into the woods to find some food for the long cold winter")
    t2 = ("a quick brown fox jumps over the lazy dog and then runs far "
          "away into the woods to find some food for the long cold winter")
    u1 = ("completely different text about database join algorithms and "
          "the merge strategies used by modern distributed query engines")
    u2 = ("completely different text about database join algorithm and "
          "the merge strategies used by modern distributed query engines")
    rows = [
        (9_876_543_210, t1), (1_234_567_890, t2),   # cluster A
        (9_876_543_211, u1), (123_456_789, u2),     # cluster B
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r["doc_id"] for r in
            clean_corpus(df, quality_threshold=0.0).collect()}
    # numeric-min keepers survive; the larger cluster members are dropped
    assert kept == {1_234_567_890, 123_456_789}


def test_http_urlerror_wrapped_refusal_is_retried():
    """urllib wraps a refused connect in URLError(reason=
    ConnectionRefusedError); the provably-unbilled retry branch must see
    through the wrapper even with retry_ambiguous=False."""
    import urllib.error

    calls = []

    def post(url, headers, body, timeout_s):
        calls.append(1)
        if len(calls) < 2:
            raise urllib.error.URLError(ConnectionRefusedError("refused"))
        return 200, ('{"choices":[{"message":{"role":"assistant",'
                     '"content":"ok"}}],"usage":{}}')

    t = _transport(post, retry_ambiguous=False)
    assert _req(t)["choices"][0]["message"]["content"] == "ok"
    assert len(calls) == 2


def test_base_write_drops_stale_segments(spark, tmp_path):
    """A base-table write REPLACES the table: segments appended by
    earlier incremental runs must not be unioned back by read()."""
    from gondar_spark.sources.tables import TableIO

    io = TableIO(spark, str(tmp_path / "wh"), use_iceberg=False)
    io.write(spark.range(5), "t")
    io.append(spark.range(5, 8), "t")
    assert io.read("t").count() == 8 and len(io.segments("t")) == 1
    io.write(spark.range(3), "t")  # full rewrite (e.g. --force re-run)
    assert io.segments("t") == []
    assert io.read("t").count() == 3


def test_stateful_minhash_pairs_string_ids(spark, tmp_path):
    """The streaming twin accepts string doc ids like the batch operator
    (native-type state, lexicographic a < b ordering)."""
    import pandas as pd

    from gondar_spark.streaming.jobs import stateful_minhash_pairs

    txt = "the quick brown fox jumps over the lazy dog again and again"
    near = "a quick brown fox jumps over the lazy dog again and again"
    src = tmp_path / "mhs"
    src.mkdir()
    pd.DataFrame({"doc_id": ["r/b@1", "r/a@1"],
                  "text": [txt, near]}).to_parquet(src / "a.parquet")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .format("parquet").load(str(src))
    )
    out = stateful_minhash_pairs(stream, threshold=0.5)
    assert dict(out.dtypes)["id_a"] == "string"
    q = (
        out.writeStream.format("memory").queryName("t_mh_str")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    pairs = {(r["id_a"], r["id_b"])
             for r in spark.table("t_mh_str").collect()}
    assert pairs == {("r/a@1", "r/b@1")}
