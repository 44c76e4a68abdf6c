"""Structured Streaming jobs.

The reference is batch-only (SURVEY.md §2 streaming row: none; its
`Memory` stub is the only nod to state), and the north rule is a batch
job — so streaming here is the incremental-ingest path for the same KG
pipeline: new source files land in a directory, get chunked + extracted
with the SAME operators as batch (prepare_extraction_units /
extract_triples are plain DataFrame transforms, so they compose with
readStream), and windowed extraction-rate metrics come from a
watermarked window agg.

Tested with trigger(availableNow=True) — processes everything present,
then stops — which is also the production backfill mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import StageError
from ..functions.numeric import round_half_up
from ..operators.chunk import prepare_extraction_units
from ..operators.extract import extract_triples, split_extraction
from ..sources.tables import CODEC
from ..synth import SOURCE_SCHEMA


def stream_source(spark: SparkSession, src_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (
        spark.readStream.schema(SOURCE_SCHEMA).format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src_dir)


def streaming_extraction(src_stream: DataFrame, chunk_lines: int = 64) -> DataFrame:
    """readStream -> unitize -> mapInPandas extract -> triple stream.
    Identical operator composition as the batch pipeline (stage 2)."""
    units = prepare_extraction_units(src_stream, chunk_lines)
    raw = extract_triples(units, chunk_lines=chunk_lines, emit_metrics=False)
    triples, _, _ = split_extraction(raw)
    return triples


def run_streaming_extraction(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    chunk_lines: int = 64,
) -> None:
    """File-source incremental extraction with exactly-once sink semantics
    via the checkpoint dir; availableNow drains the backlog and stops."""
    triples = streaming_extraction(stream_source(spark, src_dir), chunk_lines)
    q = (
        triples.writeStream.format("parquet")
        .option("compression", CODEC)
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_streaming_kg_ingest(
    spark: SparkSession,
    src_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    corpus_dir: str,
    max_files_per_trigger: int | None = None,
) -> list[int]:
    """Streaming KG CONSTRUCTION: a file-source stream drained through
    foreachBatch, where every micro-batch is ONE O(new) incremental
    pipeline ingest — extraction's anti-join ledger skips seen files,
    linking probes the committed band store, CC re-labels only
    touched components, and materialize rewrites the outputs under the
    stable entity ids. The batch pipeline IS the stream processor: no
    second code path, so streaming results are definitionally the batch
    results.

    Exactly-once end to end by two independent mechanisms: the streaming
    checkpoint never re-delivers a source file, and even if a batch IS
    replayed (crash before checkpoint commit, after partial pipeline
    work), the pipeline ledgers (extract_done, then mat_done for the
    link and materialize steps) make the replay converge idempotently —
    pinned by tests/test_streaming_kg_ingest.py, whose final warehouse
    must exact-equal a one-shot batch build over the same files.

    ``corpus_dir`` accumulates the batches as the pipeline's append-only
    corpus table (at production scale: an Iceberg append per batch).
    A ``corpus_dir`` holding flat data files is refused up front
    (StageError, nothing written): the stream adds ``batch_id=``
    directories beside them, and the partition discovery of the first
    ingest would then fail after the corpus append.
    Returns the list of processed batch ids."""
    from ..config import JobConfig
    from ..pipeline import Pipeline

    _check_corpus_layout(corpus_dir)
    seen: list[int] = []

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # IDEMPOTENT corpus append (round-5 advice): foreachBatch is
        # at-least-once, and a blind mode("append") would permanently
        # duplicate a replayed batch's rows in the corpus (a later force
        # rebuild or retract would double-extract them). A deterministic
        # per-batch subdirectory overwritten in place makes the replay a
        # no-op: same batch id -> same path -> same content.
        (batch_df.write.mode("overwrite").option("compression", CODEC)
         .parquet(f"{corpus_dir}/batch_id={batch_id}"))
        pipe = Pipeline(
            batch_df.sparkSession,
            JobConfig(warehouse=warehouse, run_id=f"stream-{batch_id}"),
        )
        pipe.run(source_path=corpus_dir, incremental=True)
        seen.append(batch_id)

    q = (
        stream_source(spark, src_dir, max_files_per_trigger)
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return seen


def _check_corpus_layout(corpus_dir: str) -> None:
    """StageError when ``corpus_dir`` has data files at its top level —
    beside ``batch_id=`` directories, or where the stream would add
    them. Hidden and ``_``-prefixed files (``_SUCCESS``, ``.crc``) are
    not data."""
    if not os.path.isdir(corpus_dir):
        return
    flat = sorted(
        n for n in os.listdir(corpus_dir)
        if not n.startswith(("_", "."))
        and os.path.isfile(os.path.join(corpus_dir, n)))
    if flat:
        raise StageError(
            f"corpus_dir {corpus_dir!r} holds flat files {flat[:3]} where "
            "the stream writes batch_id= directories; move them into a "
            "batch_id= directory or use an empty corpus_dir")


def stateful_repo_totals(triple_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: running per-repo triple totals
    across micro-batches via ``applyInPandasWithState`` (the
    arbitrary-state path for operators windowed aggs can't express —
    analog of the reference's Memory stub role, DB-backed accumulation,
    /root/reference/gondar/modules/PubMedFlow.py:26-28).

    State: one long per repo. Output mode 'update': each micro-batch
    emits the new total for every repo it touched.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        seen = 0
        for pdf in pdfs:
            seen += len(pdf)
        total += seen
        state.update((total,))
        yield pd.DataFrame({"repo": [key[0]], "total_triples": [total]})

    return triple_stream.groupBy("repo").applyInPandasWithState(
        update,
        outputStructType="repo string, total_triples long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late data beyond
    the watermark dropped) — works on a stream or a batch DataFrame."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            round_half_up(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stateful_minhash_pairs(
    doc_stream: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    seed: int = 1001,
    threshold: float = 0.5,
    max_band: int | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming near-dup detection on ingest: batch ``minhash_lsh_pairs``
    semantics carried across micro-batches.

    Composition: the batch shingle/MinHash/band projections are per-row
    DataFrame expressions, so they compose with readStream unchanged; the
    band-key SELF-JOIN (stream-stream joins need watermarks and would
    bound how late a duplicate may arrive) is replaced by
    ``applyInPandasWithState`` keyed on band_key — the committed signature
    store. State per band = the (id, shingle-set) of every doc seen in
    that band; each arriving doc verifies exact shingle Jaccard against
    its band's store (same round-half-up-4 formula as the batch verify
    join), emits qualifying (id_a < id_b, jaccard) rows, and joins the
    store. Drained with availableNow over a static corpus, the DISTINCT
    of the output equals batch ``minhash_lsh_pairs`` exactly (a pair
    sharing b bands is emitted up to b times — same reason the batch path
    needs its pair-distinct; dedup what you sink).

    SCALE: state shards by band_key (high cardinality — bands spread
    across all executors); a band's verify cost is |band| per arrival,
    the same O(|block|^2) a degenerate LSH block costs the batch join.
    ``max_band`` is that guard: a band at the cap stops ACCUMULATING
    (arrivals still verify against the frozen store, matching the batch
    mega-block cap's drop-don't-crash posture; capped bands are flagged
    in the `capped` output column). Every REFUSED admission additionally
    emits a sentinel row (id_a == id_b == the refused id, jaccard -1.0,
    capped true) — a pair whose BOTH members arrive post-cap produces no
    pair row, so without the sentinel that loss would be observable only
    by inference; with it, `filter(id_a == id_b)` counts dropped-pair
    exposure directly, the streaming analog of the batch path's logged
    n_blocks_dropped (real pairs always have id_a < id_b, so sentinels
    never collide with data). ``state_ttl_ms`` bounds state over TIME the way max_band
    bounds it over SIZE: a band idle past the TTL drops its whole
    signature store (near-dup-over-a-sliding-horizon; a duplicate
    arriving after the gap pairs with nothing). Same contract as
    stateful_exact_dedup's TTL: needs a continuous trigger — an
    availableNow drain idles on pending timers."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from ..operators.blocking import band_key_array, minhash_cols
    from ..operators.dedup import shingled

    # ids keep their NATIVE type, same contract as the batch twin and
    # stateful_exact_dedup: integral ids -> long state/output columns,
    # everything else (string doc ids) -> string
    id_type = doc_stream.schema[id_col].dataType
    integral = isinstance(id_type, (ByteType, ShortType, IntegerType, LongType))
    id_sql, coerce = ("long", int) if integral else ("string", str)

    base = shingled(doc_stream.select(F.col(id_col), F.col(col)),
                    col, id_col, shingle_n)
    sig = base.select("id", "sh", *minhash_cols("sh", n_hashes, seed))
    blocks = sig.select(
        "id", "sh",
        F.explode(band_key_array(n_hashes, bands)).alias("band_key"),
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # idle band: drop its signature store; drain the (empty)
            # input stream first — abandoning it kills the Arrow worker
            for _ in pdfs:
                pass
            state.remove()
            return
        if state.exists:
            got = state.get
            ids = list(got[0])
            sets = [set(s) for s in got[1]]
            refused = set(got[2] or [])
        else:
            ids, sets, refused = [], [], set()
        # refused ids count as KNOWN (round-5 advice): an at-least-once
        # re-delivery of a cap-refused doc must not re-emit its verify
        # pairs or a duplicate refusal sentinel — the sentinel-based
        # dropped-pair exposure count stays exact
        known = set(ids) | refused
        out = {"id_a": [], "id_b": [], "jaccard": [], "capped": []}
        new = []
        for pdf in pdfs:
            for i, sh in zip(pdf["id"], pdf["sh"]):
                new.append((coerce(i), set(sh)))
        # ascending id order makes within-batch pairing deterministic and
        # batching-independent (each doc pairs against all lower ids)
        new.sort(key=lambda t: t[0])
        for nid, nsh in new:
            if nid in known:
                continue  # idempotent re-ingest of a known doc
            at_cap = max_band is not None and len(ids) >= max_band
            for oid, osh in zip(ids, sets):
                inter = len(nsh & osh)
                union = len(nsh) + len(osh) - inter
                j = math.floor((inter / union) * 1e4 + 0.5) / 1e4 if union else 0.0
                if j >= threshold:
                    a, b = (oid, nid) if oid < nid else (nid, oid)
                    out["id_a"].append(a)
                    out["id_b"].append(b)
                    out["jaccard"].append(j)
                    out["capped"].append(at_cap)
            if not at_cap:
                ids.append(nid)
                sets.append(nsh)
                known.add(nid)
            else:
                # admission refused: the doc verified against the frozen
                # store but will never pair with LATER arrivals in this
                # band — emit the countable sentinel (see docstring) and
                # remember the refusal so a replay is a no-op
                refused.add(nid)
                out["id_a"].append(nid)
                out["id_b"].append(nid)
                out["jaccard"].append(-1.0)
                out["capped"].append(True)
        state.update((ids, [sorted(s) for s in sets], sorted(refused)))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(out)

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None else GroupStateTimeout.NoTimeout
    )
    return blocks.groupBy("band_key").applyInPandasWithState(
        update,
        outputStructType=(
            f"id_a {id_sql}, id_b {id_sql}, jaccard double, capped boolean"
        ),
        stateStructType=(f"ids array<{id_sql}>, shs array<array<string>>, "
                         f"refused array<{id_sql}>"),
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def stateful_exact_dedup(doc_stream: DataFrame, col: str = "text",
                         id_col: str = "doc_id",
                         state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming exact dedup: the batch operator's md5-groupBy semantics
    carried across micro-batches with ``applyInPandasWithState``. State
    per content hash = (keeper id, copy count); keeper = min id ever seen
    (monotone, so late arrivals can only lower it), count accumulates.
    Update-mode emits the hash's current row whenever a batch touches it;
    drained with availableNow over a static corpus the output equals
    batch ``exact_dedup`` exactly (shared oracle). At scale this is the
    dedup-on-ingest path: state is one (16-byte key, id, long) per
    DISTINCT document, partitioned by hash.

    The keeper id keeps its NATIVE type: integral ids use a long state
    column, everything else (string doc ids, like batch ``exact_dedup``
    accepts) a string one — min() is the same orderable-column semantics
    either way, so the batch/streaming twins stay interchangeable.

    STATE LIFECYCLE: by default state lives forever (exact-forever dedup
    — matches batch, but memory grows with distinct documents, fine for
    bounded backfills). ``state_ttl_ms`` turns on processing-time
    eviction: a hash IDLE for the TTL is dropped from the store, so
    memory is bounded by the distinct-docs-per-TTL-window rate and a
    duplicate arriving after a long gap is re-admitted as new —
    dedup-over-a-sliding-horizon, the standard unbounded-stream
    tradeoff, chosen explicitly, never silently. (A key that keeps
    receiving data never times out — Spark resets the clock on every
    batch that touches the key.)

    TTL mode needs a CONTINUOUS trigger (e.g. processingTime): timers
    fire on micro-batch boundaries, and a trigger(availableNow) drain
    leaves pending timers that keep the query alive after the data is
    exhausted — use the default exact-forever mode for bounded
    backfills (that is also the mode the batch oracle verifies)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = doc_stream.schema[id_col].dataType
    integral = isinstance(id_type, (ByteType, ShortType, IntegerType, LongType))
    id_sql, coerce = ("long", int) if integral else ("string", str)

    hashed = doc_stream.select(
        F.md5(F.col(col).cast("binary")).alias("text_hash"),
        F.col(id_col).alias("_id"),
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # evict the idle hash; the (empty) input stream must still be
            # drained — abandoning it mid-protocol kills the Arrow worker
            for _ in pdfs:
                pass
            state.remove()
            return
        if state.exists:
            keep, n = state.get
        else:
            keep, n = None, 0
        for pdf in pdfs:
            for v in pdf["_id"]:
                v = coerce(v)
                keep = v if keep is None or v < keep else keep
                n += 1
        state.update((keep, n))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {"text_hash": [key[0]], "keep_id": [keep], "n_copies": [n]}
        )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None else GroupStateTimeout.NoTimeout
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        update,
        outputStructType=f"text_hash string, keep_id {id_sql}, n_copies long",
        stateStructType=f"keep {id_sql}, n long",
        outputMode="update",
        timeoutConf=timeout_conf,
    )
