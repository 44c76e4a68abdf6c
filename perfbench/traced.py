"""The traced run: per-layer numbers, taken around calls into the
program's public functions.

Order: a durable build of the base corpus through a recording
``TableIO`` (the session's first build, so it runs cold: the traced run
has no room for a warm-up build), the one-shot build of the full corpus layer
by layer, one incremental ingest of the batch into the durable
warehouse, one no-op re-run, and one round of the dedup queries. Each
layer's result is forced with an eager local checkpoint, so a span
measures that layer and not a later one re-running it."""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

from probes import (
    COUNTERS, StatusStore, Tracer, TracingTableIO, jvm_peak_rss_mb, listing,
    written,
)

LAYERS = ("source", "extract", "normalize", "blocking", "cc", "materialize")
DEDUP = ("minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash_pairs",
         "corpus_clean")


UNITS = {"jobs": "count", "tasks": "count", "executor_run_ms": "ms",
         "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
         "spill_bytes": "B"}


def _force(df):
    return df.localCheckpoint(eager=True)


def _counters(m: dict, prefix: str, counters: dict) -> None:
    for k in COUNTERS:
        m[f"{prefix}.{k}"] = (counters[k], UNITS[k])


def _durable_build(bench, store: StatusStore, tracer: Tracer, m: dict):
    """``Pipeline.run(incremental=True)`` of the base corpus on a fresh
    warehouse; returns (config, io, registered corpus dir)."""
    from gondar_spark.pipeline import Pipeline

    src = os.path.join(bench.work, "ingest_src")
    shutil.copytree(bench.corpus.base_dir, src)
    cfg = bench._config("base")
    io = TracingTableIO(bench.spark, cfg.warehouse, store)
    with tracer.span("durable_build", "lifecycle") as sp:
        Pipeline(bench.spark, cfg, io=io).run(source_path=src,
                                              incremental=True)
    files, nbytes = written({}, listing(cfg.warehouse))
    m["durable_build.s"] = (sp["end"] - sp["start"], "s")
    m["durable_build.jobs"] = (sp["counters"]["jobs"], "count")
    m["tables.write_s"] = (io.wall_s, "s")
    m["tables.commits"] = (io.calls, "count")
    m["tables.files_written"] = (files, "count")
    m["tables.bytes_written"] = (nbytes, "B")
    _counters(m, "tables", store.counters(io.job_ids))
    return cfg, io, src


def _layers(bench, tracer: Tracer, m: dict) -> dict:
    """The one-shot build, layer by layer; returns its tables."""
    from pyspark.sql import functions as F

    from gondar_spark.config import JobConfig
    from gondar_spark.operators import (
        blocking, cc, chunk, extract, materialize, normalize, source,
    )
    from gondar_spark.operators.scoring import score_pairs

    cfg = JobConfig(shuffle_partitions=bench.n)
    src = bench.spark.read.parquet(bench.corpus.build_dir)
    with tracer.span("build.layers", "layers"):
        with tracer.span("source", "layers"):
            _force(source.with_content_sha(src).select(
                "repo", "path", "commit", "content_sha256"))
        with tracer.span("extract", "layers"):
            units = chunk.prepare_extraction_units(
                src, cfg.chunk_lines, pass_through_chars=cfg.max_chunk_chars)
            raw = _force(extract.extract_triples(
                units, cfg.extractor_max_retries, cfg.chunk_lines))
            triples, quarantine, _metrics = extract.split_extraction(raw)
        with tracer.span("normalize", "layers"):
            mentions = _force(normalize.normalize_mentions(triples))
        with tracer.span("blocking", "layers"):
            sig = _force(blocking.minhash_signature_df(
                mentions, cfg.minhash_hashes, cfg.extractor_seed,
                cfg.shingle_size))
            blocks = _force(blocking.band_keys_df(
                sig, cfg.minhash_hashes, cfg.lsh_bands))
            pairs = _force(blocking.candidate_pairs(
                blocks, max_block_size=cfg.max_block_size))
            edges = _force(score_pairs(pairs, sig, cfg.link_threshold))
        with tracer.span("cc", "layers"):
            labels = _force(cc.connected_components(edges, cfg.cc_max_iter))
        with tracer.span("materialize", "layers"):
            outs = materialize.full_outputs(
                mentions, triples,
                labels.select("norm", F.col("component").alias("entity_id")))
            outs = {k: _force(v) for k, v in outs.items()}
    n_pairs = pairs.count()
    n_edges = edges.count()
    m["extract.units"] = (units.count(), "count")
    m["extract.triples"] = (triples.count(), "count")
    m["extract.quarantined"] = (quarantine.count(), "count")
    m["normalize.mentions"] = (mentions.count(), "count")
    m["blocking.candidate_pairs"] = (n_pairs, "count")
    m["blocking.edges"] = (n_edges, "count")
    m["blocking.pair_yield"] = (n_edges / n_pairs if n_pairs else 1.0, "1")
    m["blocking.megablocks_dropped"] = (
        blocks.groupBy("band_key").count()
        .filter(F.col("count") > cfg.max_block_size).count(), "count")
    m["cc.components"] = (labels.select("component").distinct().count(),
                          "count")
    m["materialize.rows_out"] = (sum(v.count() for v in outs.values()),
                                 "count")
    return {"triples_raw": triples, "mentions": mentions, "edges": edges,
            **outs}


def _ingest(bench, tracer: Tracer, m: dict, cfg, io, src: str):
    """One incremental ingest of the batch. Its sub-steps come from the
    lineage records the pipeline writes; its outputs must equal the
    one-shot build of base and batch together."""
    from gondar_spark.pipeline import Pipeline

    for f in os.listdir(bench.corpus.batch_dir):
        shutil.copy(os.path.join(bench.corpus.batch_dir, f), src)
    io.reset()
    p = Pipeline(bench.spark, dataclasses.replace(cfg, run_id="ingest"),
                 io=io)
    before = listing(cfg.warehouse)
    with tracer.span("ingest", "lifecycle") as sp:
        p.run(source_path=src, incremental=True)
    wall = sp["end"] - sp["start"]
    files, nbytes = written(before, listing(cfg.warehouse))
    stages = {}
    for r in p.lineage():
        if r.get("wall_s") is not None:
            stages[r["stage"]] = stages.get(r["stage"], 0.0) + r["wall_s"]
    # linking: mentions + edges + incremental CC; CC is skipped (no
    # record) when the batch adds no edge, as on the dense corpus
    m["ingest.s"] = (wall, "s")
    m["ingest.extract_s"] = (stages["triples_raw"], "s")
    m["ingest.link_s"] = (stages["mentions"] + stages["edges"]
                          + stages.get("labels_incremental", 0.0), "s")
    m["ingest.materialize_s"] = (stages["materialize"], "s")
    m["ingest.unattributed_s"] = (wall - sum(stages.values()), "s")
    m["ingest.bytes_written"] = (nbytes, "B")
    m["ingest.files_written"] = (files, "count")
    m["ingest.commits"] = (io.calls, "count")
    _counters(m, "ingest", sp["counters"])
    return p, bench.check_tables(io.read)


def _noop(p, m: dict, src: str):
    t0 = time.perf_counter()
    executed = p.run(source_path=src, incremental=True)
    m["ingest.noop_s"] = (time.perf_counter() - t0, "s")
    return None, ([f"no-op re-run executed {executed}"]
                  if any(executed.values()) else [])


def _dedup(bench, tracer: Tracer, m: dict) -> None:
    """One round of the declared dedup queries, each checked against its
    DuckDB oracle."""
    import corpora
    from checks import canon, oracle_rows

    import __spark_entry__ as entry
    from gondar_spark.operators.dedup import release_caches

    docs = os.path.join(bench.work, "docs")
    os.makedirs(docs)
    m["dedup.docs"] = (corpora.documents(docs, bench.args.seed,
                                         bench.size["docs"])["docs"], "count")
    want = oracle_rows(docs, DEDUP)
    qs = entry.queries()

    def query(name):
        release_caches()
        bench.spark.catalog.clearCache()
        with tracer.span(f"dedup.{name}", "dedup") as sp:
            df = qs[name](bench.spark, docs)
            rows = df.collect()
        m[f"dedup.{name}_s"] = (sp["end"] - sp["start"], "s")
        got = canon([r.asDict() for r in rows], sorted(df.columns))
        return None, [] if got == want[name] else [
            f"{name}: {len(got)} rows differ from its oracle "
            f"({len(want[name])} rows)"]

    with tracer.span("dedup", "dedup") as sp:
        for name in DEDUP:
            bench.attempt(lambda: query(name))
    _counters(m, "dedup", sp["counters"])


def run(bench) -> dict:
    store = StatusStore(bench.spark)
    tracer = Tracer(store)
    m: dict = {}
    cfg, io, src = _durable_build(bench, store, tracer, m)

    def layers():
        tables = _layers(bench, tracer, m)
        return None, bench.check_tables(tables.__getitem__)

    bench.attempt(layers)
    for s in tracer.spans:
        if s["op"] == "layers" and s["name"] in LAYERS:
            m[f"{s['name']}.s"] = (tracer.self_time(s), "s")
            _counters(m, s["name"], s["counters"])
    p = bench.attempt(lambda: _ingest(bench, tracer, m, cfg, io, src))
    if p is not None:
        bench.attempt(lambda: _noop(p, m, src))
    _dedup(bench, tracer, m)
    m["trace.overhead_s"] = (store.spent_s, "s")
    m["jvm_peak_rss_mb"] = (jvm_peak_rss_mb(bench.spark), "MB")
    tracer.dump(os.path.join(
        bench.out_dir,
        f"trace-{bench.args.workload}-{bench.args.seed}.json"))
    return m
