"""Structured-streaming extraction + physical-plan-shape assertions."""

import os

import pytest
from pyspark.sql import functions as F

from gondar_spark.plans.inspect import (
    codegen_stage_count,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from gondar_spark.streaming.jobs import (
    run_streaming_extraction,
    windowed_event_counts,
)
from gondar_spark.synth import SynthConfig, generate_source_df

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- streaming
def test_streaming_extraction_matches_batch(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    scfg = SynthConfig(n_files=60)
    batch_src = generate_source_df(spark, scfg, partitions=4)
    batch_src.write.parquet(src_dir)

    run_streaming_extraction(spark, src_dir, out_dir, ckpt)
    streamed = spark.read.parquet(out_dir)

    from gondar_spark.operators import chunk, extract
    units = chunk.prepare_extraction_units(batch_src, 64)
    raw = extract.extract_triples(units, chunk_lines=64, emit_metrics=False)
    batch_triples, _, _ = extract.split_extraction(raw)

    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch_triples.collect()}
    assert s == b and len(s) > 100

    # exactly-once on restart: rerunning with the same checkpoint is a no-op
    n_before = streamed.count()
    run_streaming_extraction(spark, src_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n_before


def test_stateful_repo_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches: with
    maxFilesPerTrigger=1 and two source files, the final per-repo totals
    must equal the batch-computed counts."""
    from gondar_spark.operators import chunk, extract
    from gondar_spark.streaming.jobs import (
        stateful_repo_totals,
        stream_source,
        streaming_extraction,
    )

    src_dir = str(tmp_path / "ssrc")
    scfg = SynthConfig(n_files=40)
    batch_src = generate_source_df(spark, scfg, partitions=2)
    batch_src.coalesce(1).write.mode("append").parquet(src_dir)
    # second file: different slice of the same deterministic corpus
    generate_source_df(
        spark, SynthConfig(n_files=80), partitions=2
    ).exceptAll(batch_src).coalesce(1).write.mode("append").parquet(src_dir)

    triples = streaming_extraction(
        stream_source(spark, src_dir, max_files_per_trigger=1)
    )
    totals = stateful_repo_totals(triples)
    q = (
        totals.writeStream.format("memory")
        .queryName("repo_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per repo = running total after the final micro-batch
    updates = spark.sql("select * from repo_totals").toPandas()
    final = updates.groupby("repo")["total_triples"].max()

    full_src = spark.read.parquet(src_dir)
    units = chunk.prepare_extraction_units(full_src, 64)
    raw = extract.extract_triples(units, chunk_lines=64, emit_metrics=False)
    batch_triples, _, _ = extract.split_extraction(raw)
    want = {
        r["repo"]: r["n"]
        for r in batch_triples.groupBy("repo").agg(
            F.count("*").alias("n")).collect()
    }
    assert dict(final) == want


def test_windowed_event_counts_batch_semantics(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = windowed_event_counts(ev, window="1 hour")
    row = out.agg(F.sum("n_events")).collect()[0][0]
    assert row == ev.count()  # tumbling windows partition all events


# ------------------------------------------------------------------- plans
def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    pf = pushed_filters(df)
    assert any("EqualTo(lang,en)" in p for p in pf), pf


def test_column_pruning_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "n_chars")
        .filter(F.col("n_chars") > 100)
    )
    cols = read_schema_columns(df)
    assert cols and set(cols[0]) == {"doc_id", "n_chars"}, cols


def test_small_dim_join_broadcasts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    j = li.join(supp, li.l_suppkey == supp.s_suppkey)
    assert has_broadcast_join(j)


def test_extraction_plan_has_no_shuffle(spark):
    """Scale guard: scan -> unitize -> mapInPandas extraction must be a
    single narrow pipeline — an Exchange here would shuffle the full
    corpus bytes before the extractor (job-killer at 100 TB)."""
    from gondar_spark.operators import chunk, extract
    from gondar_spark.plans.inspect import explain_str

    src = generate_source_df(spark, SynthConfig(n_files=10), partitions=2)
    units = chunk.prepare_extraction_units(src, 64)
    raw = extract.extract_triples(units, chunk_lines=64, emit_metrics=False)
    triples, _, _ = extract.split_extraction(raw)
    plan = explain_str(triples, "simple")
    assert "Exchange" not in plan, plan


def test_lsh_plan_exchange_counts(spark):
    """Plan-shape pin for the shared LSH kernel: the unexecuted formatted
    plans of the one-shot, linking and incremental LSH queries hold
    exactly these Exchange operators (shuffle + broadcast) at sf0.001 —
    a kernel change that adds a shuffle or loses a broadcast shows here."""
    import re

    import __spark_entry__ as entrymod
    from gondar_spark.operators.dedup import release_caches
    from gondar_spark.plans.inspect import explain_str

    # a cache an earlier query materialized would show its executed plan
    spark.catalog.clearCache()
    queries = {
        "minhash_lsh_pairs": entrymod.q_minhash_lsh_pairs,
        "kg_edges": entrymod.q_kg_edges,
        "incremental_edges": entrymod.q_incremental_edges,
    }
    got = {}
    try:
        for name, q in queries.items():
            plan = explain_str(q(spark, SF), "formatted")
            got[name] = len(re.findall(r"^\(\d+\) \w*Exchange\b", plan,
                                       re.M))
    finally:
        release_caches()
        spark.catalog.clearCache()
    assert got == {"minhash_lsh_pairs": 5, "kg_edges": 13,
                   "incremental_edges": 11}


def test_aggregation_stays_in_codegen(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    assert codegen_stage_count(agg) >= 1


def test_stateful_exact_dedup_across_micro_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): a duplicate arriving in a
    LATER batch with a smaller id must lower the keeper, and counts
    accumulate across batches — the last update-mode emission per hash is
    the batch exact_dedup answer."""
    import pandas as pd

    from gondar_spark.streaming.jobs import stateful_exact_dedup

    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame({"doc_id": [10, 11], "text": ["same text", "uniq a"]}).to_parquet(
        src / "b.parquet")  # arrives first or second — either way works
    pd.DataFrame({"doc_id": [3, 12], "text": ["same text", "uniq b"]}).to_parquet(
        src / "a.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).format("parquet").load(str(src))
    )
    out = stateful_exact_dedup(stream)
    name = "t_stream_dedup"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    # final emission per hash = the one with the max count (counts are
    # monotone across batches; memory-sink row order is not contractual)
    final = {}
    for r in rows:
        if (r["text_hash"] not in final
                or r["n_copies"] > final[r["text_hash"]][1]):
            final[r["text_hash"]] = (r["keep_id"], r["n_copies"])
    import hashlib

    same_hash = hashlib.md5(b"same text").hexdigest()
    assert final[same_hash] == (3, 2)  # keeper lowered to 3, both counted
    assert len(final) == 3
    # the duplicate hash was touched by two batches -> emitted twice
    assert sum(1 for r in rows if r["text_hash"] == same_hash) == 2


def test_stateful_minhash_pairs_across_micro_batches(spark, tmp_path):
    """Near-dup on ingest: a near-duplicate arriving in a LATER
    micro-batch must pair against the committed signature store from the
    earlier one; the drained DISTINCT equals the batch operator on the
    same corpus (shared semantics, batching-independent)."""
    import pandas as pd

    from gondar_spark.operators.dedup import minhash_lsh_pairs
    from gondar_spark.streaming.jobs import stateful_minhash_pairs

    txt = "the quick brown fox jumps over the lazy dog again and again"
    near = "a quick brown fox jumps over the lazy dog again and again"
    other = "completely different content with no shared shingles at all ok"
    src = tmp_path / "mh"
    src.mkdir()
    pd.DataFrame({"doc_id": [1, 3], "text": [txt, other]}).to_parquet(
        src / "a.parquet")
    pd.DataFrame({"doc_id": [7, 9], "text": [near, txt]}).to_parquet(
        src / "b.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).format("parquet").load(str(src))
    )
    out = stateful_minhash_pairs(stream, threshold=0.5)
    name = "t_stream_mh"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in spark.table(name).select("id_a", "id_b", "jaccard").collect()
    }
    batch_df = spark.createDataFrame(
        [(1, txt), (3, other), (7, near), (9, txt)], ["doc_id", "text"])
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(batch_df, threshold=0.5).collect()
    }
    assert got == want
    assert {(1, 9), (1, 7), (7, 9)} <= {(a, b) for a, b, _ in got}


def test_stateful_minhash_pairs_max_band_cap(spark, tmp_path):
    """max_band freezes a band's store at the cap: later arrivals still
    verify against the frozen store (flagged capped=true) but stop
    accumulating — the streaming analog of the batch mega-block drop."""
    import pandas as pd

    from gondar_spark.streaming.jobs import stateful_minhash_pairs

    # four identical docs -> every band holds all of them
    docs = {"doc_id": [1, 2, 3, 4], "text": ["same text here ok"] * 4}
    src = tmp_path / "mhcap"
    src.mkdir()
    pd.DataFrame(docs).to_parquet(src / "a.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .format("parquet").load(str(src))
    )
    out = stateful_minhash_pairs(stream, threshold=0.5, max_band=2)
    q = (
        out.writeStream.format("memory").queryName("t_stream_mhcap")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table("t_stream_mhcap").collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows if r["id_a"] != r["id_b"]}
    # docs 3,4 verified against the frozen {1,2} store but never joined
    # it: (3,4) must be ABSENT, their store pairs flagged capped
    assert (3, 4) not in pairs
    assert {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)} == pairs
    assert all(r["capped"] for r in rows
               if r["id_a"] != r["id_b"] and r["id_b"] in (3, 4))
    assert not any(r["capped"] for r in rows if (r["id_a"], r["id_b"]) == (1, 2))
    # refusal SENTINELS (round-5 advice): each doc refused admission at
    # the cap emits one (id, id, -1.0, capped) row per refusing band, so
    # dropped-pair exposure is directly countable — docs 3 and 4 were
    # refused by every band (8 bands, identical text -> same band keys)
    sentinels = [r for r in rows if r["id_a"] == r["id_b"]]
    assert {r["id_a"] for r in sentinels} == {3, 4}
    assert all(r["jaccard"] == -1.0 and r["capped"] for r in sentinels)
    assert len(sentinels) == 16  # 2 refused docs x 8 bands


def test_stateful_exact_dedup_state_ttl_evicts_idle_hashes(spark, tmp_path):
    """state_ttl_ms: a hash idle past the TTL is evicted between
    micro-batches, so a duplicate arriving after the gap is re-admitted
    as NEW (keeper re-derived, count reset) — bounded-memory
    dedup-over-a-horizon. Needs a continuous trigger (timers fire on
    micro-batch boundaries; availableNow would idle on pending timers)."""
    import hashlib
    import time

    import pandas as pd

    from gondar_spark.streaming.jobs import stateful_exact_dedup

    src = tmp_path / "ttl"
    src.mkdir()
    # batch 1: doc 5; filler batches advance processing time past the
    # 1 ms TTL (evicting the idle hash); last batch: duplicate, higher id
    pd.DataFrame({"doc_id": [5], "text": ["same text"]}).to_parquet(
        src / "a.parquet")
    pd.DataFrame({"doc_id": [50], "text": ["filler one"]}).to_parquet(
        src / "b.parquet")
    pd.DataFrame({"doc_id": [51], "text": ["filler two"]}).to_parquet(
        src / "c.parquet")
    pd.DataFrame({"doc_id": [9], "text": ["same text"]}).to_parquet(
        src / "d.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).format("parquet").load(str(src))
    )
    out = stateful_exact_dedup(stream, state_ttl_ms=1)
    q = (
        out.writeStream.format("memory").queryName("t_ttl_on")
        .outputMode("update").trigger(processingTime="1 second").start()
    )
    h = hashlib.md5(b"same text").hexdigest()
    emits = []
    try:
        for _ in range(55):
            time.sleep(2)
            emits = [
                (r["keep_id"], r["n_copies"])
                for r in spark.table("t_ttl_on").collect()
                if r["text_hash"] == h
            ]
            if (9, 1) in emits:
                break
    finally:
        q.stop()
    # doc 5 admitted, evicted while idle, doc 9 re-admitted as new —
    # never (5, 2) (that is the exact-forever answer, covered by the
    # default-mode oracle test)
    assert (5, 1) in emits and (9, 1) in emits
    assert (5, 2) not in emits


def test_stateful_minhash_pairs_state_ttl_drops_idle_bands(spark, tmp_path):
    """state_ttl_ms on the band store: a near-duplicate arriving after
    its source's bands idled past the TTL pairs with NOTHING (store
    dropped) — near-dup-over-a-horizon; without TTL the same drain finds
    the pair."""
    import time

    import pandas as pd

    from gondar_spark.streaming.jobs import stateful_minhash_pairs

    txt = "the quick brown fox jumps over the lazy dog again and again"
    near = "a quick brown fox jumps over the lazy dog again and again"
    filler1 = "completely different content with no shared shingles at all"
    filler2 = "another unrelated block of words that matches nothing else"

    def drive(ttl, name):
        src = tmp_path / f"mh_{name}"
        src.mkdir()
        pd.DataFrame({"doc_id": [1], "text": [txt]}).to_parquet(
            src / "a.parquet")
        pd.DataFrame({"doc_id": [2], "text": [filler1]}).to_parquet(
            src / "b.parquet")
        pd.DataFrame({"doc_id": [3], "text": [filler2]}).to_parquet(
            src / "c.parquet")
        pd.DataFrame({"doc_id": [9], "text": [near]}).to_parquet(
            src / "d.parquet")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).format("parquet").load(str(src))
        )
        out = stateful_minhash_pairs(stream, threshold=0.5,
                                     state_ttl_ms=ttl)
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("update")
        )
        if ttl is None:
            qq = q.trigger(availableNow=True).start()
            qq.awaitTermination()
        else:
            qq = q.trigger(processingTime="1 second").start()
            deadline = time.time() + 110
            # wait until the last file's batch has been processed: doc 9
            # only produces rows when paired, so poll query progress
            while time.time() < deadline:
                time.sleep(2)
                p = qq.lastProgress
                if p and p["sources"][0].get("latestOffset") and \
                        p["numInputRows"] == 0 and p["batchId"] > 6:
                    break
            qq.stop()
        return {(r["id_a"], r["id_b"])
                for r in spark.table(name).collect()}

    assert (1, 9) in drive(None, "t_mh_ttl_off")
    assert (1, 9) not in drive(1, "t_mh_ttl_on")


def test_link_store_membership(spark, tmp_path):
    """The committed link store is one unpartitioned table, link_bands
    (norm, band_key): one row per (norm, band) for every mention norm.
    A small ingest appends ONE link_bands segment of a few part files —
    never a file per probe-key prefix directory."""
    from gondar_spark.config import JobConfig
    from gondar_spark.pipeline import Pipeline
    from tests.test_incremental_linking import _src, _win

    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="p")
    pipe = Pipeline(spark, cfg)
    src = generate_source_df(spark, SynthConfig(n_files=40), partitions=4)
    pipe.run(source_df=src, incremental=True)

    def norms(table):
        return {r[0] for r in
                pipe.io.read(table).select("norm").distinct().collect()}

    bands = pipe.io.read("link_bands")
    assert bands.columns == ["norm", "band_key"]
    assert bands.count() == len(norms("mentions")) * cfg.lsh_bands
    assert norms("link_bands") == norms("mentions")

    pipe.run(source_df=src.unionByName(_src(
        spark, [("w0.py", _win(0)), ("w2.py", _win(2))])), incremental=True)
    segs = pipe.io.segments("link_bands")
    assert len(segs) == 1, segs
    parts = [f for _r, _d, fs in os.walk(os.path.join(cfg.warehouse, segs[0]))
             for f in fs if f.endswith(".parquet")]
    assert 1 <= len(parts) <= 4, parts
    assert pipe.io.read("link_bands").count() == \
        len(norms("mentions")) * cfg.lsh_bands
    assert norms("link_bands") == norms("mentions")
