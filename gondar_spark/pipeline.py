"""The staged KG-construction job (north rule, /root/repo/BASELINE.json:14):

  source -> triples_raw (extract) -> mentions -> edges -> labels (CC)
         -> triples / entities / aliases (materialize)

Every stage ends in a committed snapshot (TableIO.write is atomic), so a
killed run resumes idempotently: committed stages are SKIPPED and their
outputs re-read (checkpoint/resume, B12). Lineage: one JSONL record per
stage per run (rows, bytes, wall ms, skipped flag) plus the extractor's
per-batch metric rows persisted as `extract_metrics`.

The reference analog of lineage/metrics is the token-usage callback
(/root/reference/gondar/utils/Flow.py:27-40, PubMedFlow.py:242) and the
Memory stub's cache/history role (PubMedFlow.py:26-28).
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import JobConfig
from .errors import StageError
from .operators import (
    blocking, cc, chunk, extract, identity, materialize, normalize, source,
)
from .operators.scoring import score_pairs
from .session import Scope, checkpoint, persist, release
from .sources.tables import TableIO

STAGES = ("source", "triples_raw", "mentions", "edges", "labels", "materialize")


def _prefix_slice(store: DataFrame, part_col: str, batch: DataFrame,
                  prefix) -> DataFrame:
    """The rows of a prefix-partitioned store table that ``batch`` can
    touch: the batch's distinct prefixes (bounded) are collected so the
    read prunes at the partition level."""
    ps = [r[0] for r in batch.select(prefix).distinct().collect()]
    return store.filter(F.col(part_col).isin(ps) if ps else F.lit(False))


class Pipeline:
    def __init__(self, spark: SparkSession, cfg: JobConfig,
                 io: TableIO | None = None, extractor=None,
                 batch_extractor=None) -> None:
        """``extractor`` plugs an alternative per-unit (lang, text) -> facts
        backend into the extraction stage; ``batch_extractor`` plugs a
        micro-batch backend (e.g. extraction.llm.BatchLLMExtractor — the
        LLM path). Default: the deterministic spec extractor."""
        self.spark = spark
        self.cfg = cfg
        self.io = io or TableIO(spark, cfg.warehouse)
        self.extractor = extractor
        self.batch_extractor = batch_extractor
        self._lineage_path = os.path.join(cfg.warehouse, "_lineage")

    # ---- lineage ----------------------------------------------------------
    def _log(self, stage: str, **fields) -> None:
        os.makedirs(self._lineage_path, exist_ok=True)
        rec = {"run_id": self.cfg.run_id, "stage": stage, "ts": time.time(),
               **fields}
        with open(os.path.join(self._lineage_path, f"{self.cfg.run_id}.jsonl"),
                  "a") as f:
            f.write(json.dumps(rec) + "\n")

    def lineage(self, all_runs: bool = False) -> list[dict]:
        """This run's lineage records; ``all_runs=True`` returns every
        run's records for this warehouse in timestamp order (e.g. the
        per-micro-batch run ids a streaming ingest generates)."""
        if all_runs:
            if not os.path.isdir(self._lineage_path):
                return []
            recs: list[dict] = []
            for name in os.listdir(self._lineage_path):
                if not name.endswith(".jsonl"):
                    continue
                with open(os.path.join(self._lineage_path, name)) as f:
                    recs += [json.loads(ln) for ln in f if ln.strip()]
            return sorted(recs, key=lambda r: r.get("ts", 0))
        p = os.path.join(self._lineage_path, f"{self.cfg.run_id}.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _run_stage(self, name: str, tables: dict[str, "DataFrame"],
                   partition_by: dict[str, list[str]] | None = None,
                   force: bool = False, parallel: bool = False) -> bool:
        """Write each output table unless all are already committed.
        Returns True if the stage executed, False if skipped (resume).

        ``parallel`` overlaps the independent table writes (_overlap;
        guide §2.6: actions are only sequential because the driver calls
        them sequentially) — one write's task tail back-fills with the next
        write's tasks. Safe ONLY when the table plans read committed,
        checkpointed or already-populated inputs: plans sharing an
        un-materialized persist would race to populate the cache and
        re-run the expensive upstream (the extract-once contract)."""
        if not force and all(self.io.exists(t) for t in tables):
            self._log(name, skipped=True)
            return False
        t0 = time.time()
        commits = self._write_tables(name, tables, partition_by, parallel)
        self._log(name, skipped=False, wall_s=round(time.time() - t0, 3),
                  **self._sizes(commits))
        return True

    def _write_tables(self, stage: str, tables: dict[str, DataFrame],
                      partition_by: dict[str, list[str]] | None = None,
                      parallel: bool = False) -> dict:
        """Commit each table, overlapped (_overlap) when ``parallel``;
        returns {table: commit}."""
        def _write(tbl, df):
            return tbl, self.io.write(
                df, tbl, partition_by=(partition_by or {}).get(tbl),
                meta={"stage": stage, "run_id": self.cfg.run_id})

        writes = [functools.partial(_write, *kv) for kv in tables.items()]
        return dict(self._overlap(writes) if parallel
                    else [w() for w in writes])

    @staticmethod
    def _sizes(commits: dict) -> dict:
        """A stage's lineage fields from its commits: rows and bytes per
        table."""
        return {k: {t: c.get(k) for t, c in commits.items()}
                for k in ("rows", "bytes")}

    # ---- stages -----------------------------------------------------------
    # fold ledger segments into one snapshot once this many accumulate:
    # reads stay O(1) file-listings, and the fold cost is amortized over
    # COMPACT_AFTER runs instead of paid as a full rewrite on every run
    COMPACT_AFTER = 8

    def run(self, source_df: DataFrame | None = None, force: bool = False,
            incremental: bool = False,
            source_path: str | None = None,
            prune_removed: bool = False,
            incremental_materialize: bool = True) -> dict:
        """Run all stages with resume. ``incremental=True`` additionally
        enables file-level resume of the extraction stage: files already
        recorded in the committed ``extract_done`` ledger are skipped via
        an anti-join on (repo, path, commit), and downstream stages are
        recomputed only when extraction actually added rows (B12 —
        resume-by-anti-join, /root/repo/BASELINE.json:6,14). The ledger
        records every file whose extraction COMPLETED — including files
        that yielded zero triples and quarantined files — so an unchanged
        corpus re-runs with zero extractor invocations.

        ``source_path`` is the ZERO-COPY ingestion mode: the existing
        committed corpus at that path is registered (a pointer, no data
        movement) and only the small sha256 table is written — at 100 TB
        the copy+shuffle of the ``source_df`` path is a job in itself and
        must not be paid to ingest data that is already at rest.
        ``source_df`` (fixture/test mode) keeps the copying behavior.

        APPEND-ONLY ASSUMPTION: incremental mode treats the corpus as
        append-only — files REMOVED or REWRITTEN-in-place upstream leave
        their old rows in ``source_hashes`` / ``extract_done`` (harmless
        for correctness: a key absent from the corpus can never match the
        anti-join, it is dead weight only). Pass ``prune_removed=True``
        to semi-join both ledgers against the currently-registered corpus
        keys during this run's compaction, dropping keys the corpus no
        longer contains. The extraction ledger itself is SEGMENTED: each
        incremental run appends only its new keys (O(new), not
        O(history)); segments fold into one snapshot every
        ``COMPACT_AFTER`` runs (dedup-on-read in between).

        ``incremental_materialize=False`` keeps incremental linking but
        forces a FULL materialize: the splice is exact-equal to the full
        path, so this is purely a cost choice — the splice wins when
        snapshot rewrite is cheap relative to the corpus-wide
        re-aggregation (row-level-MERGE sinks, big corpora), the full
        path when rewrite dominates (this sandbox's whole-snapshot
        parquet writes at the 500k-family point; see
        BENCH/BASELINE.md's 50k-campaign crossover table).

        Every cache and checkpoint the run makes — its own and those of
        the operators it calls (CC, materialize) — belongs to one
        session.Scope and is freed when run() returns or raises: a
        long-lived session (streaming foreachBatch, a bench campaign, a
        notebook) never accumulates executor storage across runs."""
        with Scope():
            cfg = self.cfg
            executed: dict[str, bool] = {}
            # link-state durability (round-5 verdict #4): one-shot builds skip
            # committing the incremental-ingest state (outputs identical, the
            # commits cost ~25% of the run). Incremental callers DECLARE the
            # lifecycle via incremental=True, and a warehouse that already has
            # the entity ledger stays durable forever (its published ids must
            # keep being honored and advanced).
            durable = (cfg.durable_link_state or incremental
                       or self.io.exists("entity_ids"))

            # stage 1: source scan + sha256 pass (B1/B2)
            if source_path is not None and source_df is not None:
                raise ValueError("pass source_df OR source_path, not both")
            if source_path is not None:
                if force or incremental or not self.io.exists(cfg.source_table):
                    self.io.register(cfg.source_table, source_path)
                registered = self.io.read(cfg.source_table)
                if (incremental and not force
                        and self.io.exists("source_hashes")):
                    # zero-copy incremental: hash ONLY files not yet in the
                    # committed hash table (same anti-join as the extraction
                    # ledger) — a full-corpus sha pass per incremental run is
                    # exactly the job-sized cost this mode exists to avoid
                    old_hashes = self.io.read("source_hashes")
                    if prune_removed:
                        # drop hash rows whose file the corpus no longer holds
                        old_hashes = old_hashes.join(
                            registered.select("repo", "path", "commit"),
                            ["repo", "path", "commit"], "left_semi",
                        )
                    new_hashes = source.with_content_sha(
                        registered.join(
                            old_hashes.select("repo", "path", "commit"),
                            ["repo", "path", "commit"], "left_anti",
                        )
                    ).select("repo", "path", "commit", "content_sha256"
                             ).transform(checkpoint)
                    if new_hashes.count() > 0 or prune_removed:
                        executed["source"] = self._run_stage(
                            "source",
                            {"source_hashes": old_hashes.unionByName(new_hashes)},
                            force=True,
                        )
                    else:
                        self._log("source", skipped=True)
                        executed["source"] = False
                else:
                    executed["source"] = self._run_stage(
                        "source",
                        {"source_hashes": source.with_content_sha(registered)
                         .select("repo", "path", "commit", "content_sha256")},
                        force=force or incremental,
                    )
            elif source_df is not None:
                # write the corpus FIRST, hash the committed copy: the two
                # tables previously evaluated the (possibly expensive) input
                # plan twice — a synthetic generator or an upstream join paid
                # per table. The committed parquet scan prunes to the key +
                # content columns for the sha pass. Same outputs, one
                # evaluation.
                probe = (cfg.source_table, "source_hashes")
                if (not (force or incremental)
                        and all(self.io.exists(t) for t in probe)):
                    self._log("source", skipped=True)
                    executed["source"] = False
                else:
                    t0 = time.time()
                    meta = {"stage": "source", "run_id": cfg.run_id}
                    commits = {cfg.source_table: self.io.write(
                        source_df, cfg.source_table, partition_by=["lang"],
                        meta=meta)}
                    committed = self.io.read(cfg.source_table)
                    commits["source_hashes"] = self.io.write(
                        source.with_content_sha(committed).select(
                            "repo", "path", "commit", "content_sha256"),
                        "source_hashes", meta=meta)
                    self._log("source", skipped=False,
                              wall_s=round(time.time() - t0, 3),
                              **self._sizes(commits))
                    executed["source"] = True
            src = self.io.read(cfg.source_table)

            # stage 2: chunk + vectorized extraction (B3/B4)
            def _extract(base_src, done_keys=None):
                """Returns (triples, quarantine, metrics, raw). ``raw`` is
                PERSISTED: the three outputs are filters over one extraction
                plan, and without the persist each table write re-runs the
                whole mapInPandas extraction — 3x the expensive operator per
                stage (on the LLM path, 3x the endpoint bill). It lives in
                the caller's scope, released once its outputs exist."""
                todo = base_src
                if done_keys is not None:
                    todo = base_src.join(done_keys, ["repo", "path", "commit"],
                                         "left_anti")
                units = chunk.prepare_extraction_units(
                    todo, cfg.chunk_lines, pass_through_chars=cfg.max_chunk_chars)
                kw = {}
                if self.extractor is not None:
                    kw["extractor"] = self.extractor
                if self.batch_extractor is not None:
                    kw["batch_extractor"] = self.batch_extractor
                raw = persist(extract.extract_triples(
                    units, cfg.extractor_max_retries, cfg.chunk_lines, **kw))
                return (*extract.split_extraction(raw), raw)

            if incremental and self.io.exists("triples_raw") and not force:
                # done-file LEDGER keyed on (repo, path, commit): triples_raw
                # alone cannot serve — files whose extraction yielded zero
                # triples leave no row there and would re-extract on EVERY
                # incremental run (a standing extractor tax at billions of
                # files). Older warehouses without the ledger fall back to the
                # triples_raw-derived key set once; this run commits the
                # ledger and the tax ends.
                old = self.io.read("triples_raw")
                if self.io.exists("extract_done"):
                    done = self.io.read("extract_done")
                else:
                    done = old.select("repo", "path", "commit").distinct()
                todo_keys = (
                    src.select("repo", "path", "commit").distinct()
                    .join(done, ["repo", "path", "commit"], "left_anti")
                    .transform(checkpoint)
                )
                n_todo = todo_keys.count()
                if n_todo == 0:
                    # ZERO extractor invocations: no extraction plan is even
                    # built — the gate the ledger exists to provide. A legacy
                    # warehouse (pre-ledger) still commits the derived key set
                    # here, so the triples_raw-distinct fallback runs ONCE,
                    # not on every future run.
                    if not self.io.exists("extract_done"):
                        self.io.write(
                            done, "extract_done",
                            meta={"stage": "triples_raw",
                                  "run_id": self.cfg.run_id},
                        )
                    self._log("triples_raw_incremental", n_todo=0, new_rows=0,
                              skipped=True)
                    executed["triples_raw"] = False
                    force_downstream = False
                else:
                    new_triples, new_quarantine, new_metrics, raw = _extract(
                        src, done)
                    # materialize BEFORE overwriting triples_raw: these plans
                    # read the old snapshot lazily, and the upcoming swap would
                    # change what the anti-join sees mid-write. The persisted
                    # raw means extraction runs ONCE across the three
                    # checkpoints; released as soon as they exist.
                    new_triples = checkpoint(new_triples)
                    new_quarantine = checkpoint(new_quarantine)
                    new_metrics = checkpoint(new_metrics.select(
                        F.col("obj").alias("metric"), "chunk_id"))
                    release(raw)
                    n_new = new_triples.count()
                    n_quar = new_quarantine.count()
                    # the ledger advances for every ATTEMPTED file — zero-triple
                    # and quarantined files included (their outcome is recorded
                    # in quarantine; force=True re-extracts everything). It is
                    # appended LAST, after the data commit: committing the
                    # ledger BEFORE the data would let a crash between the two
                    # commits permanently skip files whose triples were never
                    # written (A15). Ledgers are SEGMENT APPENDS — O(new rows)
                    # per run, never a rewrite of the full history.
                    tables = {}
                    if n_new > 0:
                        tables["triples_raw"] = old.unionByName(new_triples)
                    self._run_stage("triples_raw", tables, force=True)
                    ledger_meta = {"stage": "triples_raw", "run_id": cfg.run_id}
                    if n_quar > 0:
                        # persist quarantine even when no triples were added
                        # (A15: never silently drop) — an O(new) SEGMENT like
                        # the other ledgers, appended BEFORE extract_done so a
                        # crash re-extracts rather than losing failure records.
                        # Anti-join on the FAILURE identity (file key + error
                        # message) keeps re-extraction from stacking
                        # duplicates while distinct failures of one file all
                        # land.
                        fresh_quar = new_quarantine.join(
                            self.io.read("quarantine").select(
                                "repo", "path", "commit", "obj"),
                            ["repo", "path", "commit", "obj"], "left_anti",
                        ).dropDuplicates(["repo", "path", "commit", "obj"])
                        self.io.append(fresh_quar, "quarantine",
                                       meta=ledger_meta)
                    self.io.append(new_metrics, "extract_metrics",
                                   meta=ledger_meta)
                    self.io.append(todo_keys, "extract_done", meta=ledger_meta)
                    self._log("triples_raw_incremental", n_todo=n_todo,
                              new_rows=n_new, new_quarantine=n_quar)
                    executed["triples_raw"] = True
                    force_downstream = n_new > 0
                self._compact_ledgers(src if prune_removed else None,
                                      force=prune_removed)
                if self._can_link_incremental():
                    # O(new) linking: probe the committed signature/band store
                    # with the new mentions, re-run CC only on the components
                    # a new edge touches, and leave the untouched graph alone
                    # — ingest cost tracks the batch, not the corpus. Driven
                    # by the link_done ledger (extract_done minus link_done =
                    # files whose linking is pending), so a crash anywhere in
                    # the linking sub-steps resumes idempotently — never a
                    # silent skip of files the extraction ledger already
                    # recorded.
                    link_exec = self._link_incremental()
                    executed.update(link_exec)
                    mentions = self.io.read("mentions")
                    labels = self.io.read("labels")
                    triples_raw = self.io.read("triples_raw")
                    executed["materialize"] = self._materialize_stage(
                        mentions, labels, triples_raw,
                        force=force_downstream or any(link_exec.values()),
                        allow_incremental=incremental_materialize)
                    return executed
                force = force or force_downstream
            else:
                def _extract_all():
                    triples, quarantine, metrics, raw = _extract(src)
                    # materialize the extraction cache with ONE action so the
                    # four table writes below can run overlapped (guide §2.6)
                    # without racing to populate the persist — the extractor
                    # still runs exactly once per unit (the extract-once
                    # contract, pinned by the CountingBatchExtractor test)
                    raw.count()
                    return {"triples_raw": triples, "quarantine": quarantine,
                            "extract_metrics": metrics.select(
                                F.col("obj").alias("metric"), "chunk_id"),
                            "extract_done": src.select(
                                "repo", "path", "commit").distinct()}
                # the stage's own scope frees the raw persist once the
                # writes complete (or fail)
                with Scope():
                    executed["triples_raw"] = self._run_stage_lazy(
                        "triples_raw", _extract_all, force=force,
                        parallel=True)
            triples_raw = self.io.read("triples_raw")

            # stage 3: distinct normalized mentions (B5)
            executed["mentions"] = self._run_stage_lazy(
                "mentions",
                lambda: {"mentions": normalize.normalize_mentions(triples_raw)},
                force=force,
            )
            mentions = self.io.read("mentions")

            # stage 4: blocking + candidate pairs + scoring (B6/B7/B8). The
            # signature table is ALSO committed (link_signatures): it is the
            # LSH index incremental runs probe — band keys re-derive in-row
            # from the h-columns (no shuffle), and the grams column feeds the
            # verify join, so a later ingest never re-blocks the corpus.
            edges_probe = (("edges", "link_signatures", "link_bands")
                           if durable else ("edges",))
            if force or not all(self.io.exists(t) for t in edges_probe):
                with Scope():
                    # sig feeds band keys + both sides of the scoring join —
                    # persist so the md5 minhash computation runs once; the
                    # stage's scope releases it (and sizes) once the stage
                    # write (the one action that consumes them) completes.
                    sig = persist(blocking.minhash_signature_df(
                        mentions, cfg.minhash_hashes, cfg.extractor_seed,
                        cfg.shingle_size))
                    blocks = blocking.band_keys_df(
                        sig, cfg.minhash_hashes, cfg.lsh_bands,
                        lang_df=mentions if cfg.link_lang_aware else None)
                    # mega-block cap accounting (B7/B10): the cap bounds the s^2/2
                    # pair blow-up of degenerate blocks and must never fire
                    # silently. Band sizes are computed ONCE (persisted — one row
                    # per band key) and feed both the cap filter and the logged
                    # drop count; the count itself runs AFTER the stage write,
                    # off the populated cache (a separate eager count here cost
                    # an extra job whose only purpose was logging).
                    sizes = persist(
                        blocks.groupBy("band_key").agg(F.count("*").alias("_bs")))
                    blocks_ok = blocks.join(
                        sizes.filter(F.col("_bs") <= cfg.max_block_size)
                        .select("band_key"),
                        "band_key",
                        "left_semi",
                    )
                    pairs = blocking.candidate_pairs(blocks_ok, max_block_size=None)
                    tables = {"edges": score_pairs(pairs, sig, cfg.link_threshold)}
                    pb = {}
                    if durable:
                        # the committed LSH index later ingests probe — one-shot
                        # builds skip the writes (durability knob above). BOTH
                        # store tables are PARTITIONED by a probe-key prefix
                        # (round-5 verdict #1): link_signatures by md5(norm)
                        # prefix, the band-membership table by band-key prefix,
                        # so an incremental probe reads only the partitions its
                        # batch can touch instead of scanning the corpus store.
                        tables["link_signatures"] = sig.withColumn(
                            "_np", blocking.norm_prefix())
                        tables["link_bands"] = blocks.withColumn(
                            "_bp", blocking.band_prefix())
                        pb = {"link_signatures": ["_np"], "link_bands": ["_bp"]}
                    executed["edges"] = self._run_stage(
                        "edges", tables, partition_by=pb, force=True)
                    n_mega = sizes.filter(
                        F.col("_bs") > cfg.max_block_size).count()
                    if n_mega:
                        self._log("edges_megablock_cap", n_blocks_dropped=n_mega,
                                  max_block_size=cfg.max_block_size)
            else:
                self._log("edges", skipped=True)
                executed["edges"] = False
            edges = self.io.read("edges")

            # stage 5: connected components (B9)
            executed["labels"] = self._run_stage_lazy(
                "labels",
                lambda: {"labels": cc.connected_components(edges, cfg.cc_max_iter)},
                force=force,
            )
            labels = self.io.read("labels")
            # a completed full linking pass covers every extracted file: seed
            # (or reset) the link_done ledger so later incremental runs link
            # only what extraction adds after this point
            if durable and (executed["labels"] or not self.io.exists("link_done")):
                self.io.write(
                    self.io.read("extract_done").distinct(), "link_done",
                    meta={"stage": "labels", "run_id": cfg.run_id})

            # stage 6: materialize triples + dictionaries (B11/B13)
            executed["materialize"] = self._materialize_stage(
                mentions, labels, triples_raw, force=force, durable=durable)
            return executed

    # ---- stable canonical ids + materialize ---------------------------------
    @staticmethod
    def _latest_ids(ledger: DataFrame) -> DataFrame:
        """The latest row per norm of the segment-appended entity_ids
        ledger: each append carries a monotone _seq, highest wins."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("norm").orderBy(F.col("_seq").desc())
        return (ledger.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))

    def _read_entity_ledger(self) -> DataFrame:
        """Latest (norm -> entity_id) mapping."""
        return self._latest_ids(self.io.read("entity_ids")).select(
            "norm", "entity_id")

    def _materialize_stage(self, mentions: DataFrame, labels: DataFrame,
                           triples_raw: DataFrame, force: bool,
                           allow_incremental: bool = False,
                           durable: bool = True) -> bool:
        """Materialize with STABLE entity ids: CC labels are component
        minima and churn when a lower-id member arrives; the entity_ids
        ledger maps every mention norm to its FIRST-ASSIGNED id, so
        corpus growth never relabels a published entity. Merges (several
        prior ids landing in one component) survive as the minimum prior
        id — deterministic — and are recorded in lineage. On a fresh
        warehouse the ledger is the identity mapping, so first-run
        outputs equal plain min-label canonicalization (all existing
        oracles/fixtures unchanged).

        ``allow_incremental``: recompute ONLY the output groups this
        ingest touches (_materialize_incremental) instead of
        re-aggregating the corpus — exact-equal to the full path by
        construction and by test."""
        probe = _STAGE_TABLES["materialize"]
        has_ledger = self.io.exists("entity_ids")
        if (not force and all(self.io.exists(t) for t in probe)
                and (has_ledger or not durable)):
            self._log("materialize", skipped=True)
            return False
        if not durable and not has_ledger:
            # one-shot fast path (durability knob): on a fresh warehouse
            # the stable-id resolution is the IDENTITY (assign = CC label,
            # singletons = own norm — resolve_stable_ids with no prior
            # map), so the labels table IS the mapping and the whole
            # identity machinery (3 joins + a checkpoint + 2 ledger
            # writes) is skipped. Outputs bit-equal to the durable first
            # run by construction and by test.
            return self._run_stage(
                "materialize", materialize.full_outputs(
                    mentions, triples_raw, labels.select(
                        "norm", F.col("component").alias("entity_id"))),
                partition_by=_MAT_PARTITIONS, force=True, parallel=True)
        prior_map = self._read_entity_ledger() if has_ledger else None
        mapping, changed, merges = self._stable_mapping(
            labels, mentions, prior_map)

        can_inc = (
            allow_incremental and has_ledger
            and all(self.io.exists(t) for t in probe)
            and self.io.exists("mat_done")
        )
        if can_inc:
            executed = self._materialize_incremental(
                mentions, triples_raw, mapping, prior_map, changed)
        else:
            executed = self._run_stage(
                "materialize",
                materialize.full_outputs(mentions, triples_raw, mapping),
                partition_by=_MAT_PARTITIONS, force=True, parallel=True)
            # a completed full materialize covers every extracted file
            self.io.write(
                self.io.read("extract_done").distinct(), "mat_done",
                meta={"stage": "materialize", "run_id": self.cfg.run_id})
        meta = {"stage": "materialize", "run_id": self.cfg.run_id}
        if not has_ledger:
            self.io.write(mapping.withColumn("_seq", F.lit(0)),
                          "entity_ids", meta=meta)
            self._log("entity_ids", rows="base", merges=0)
        else:
            n_changed = changed.count()
            merge_rows = [
                {"entity_id": r["entity_id"],
                 "absorbed_id": r["absorbed_id"]}
                for r in merges.limit(100).collect()
            ]
            n_merges = merges.count()
            if n_changed:
                seq = self.io.read("entity_ids").agg(
                    F.max("_seq")).collect()[0][0] or 0
                self.io.append(changed.withColumn("_seq", F.lit(seq + 1)),
                               "entity_ids", meta=meta)
            self._log("entity_ids", changed=n_changed, merges=n_merges,
                      merge_sample=merge_rows)
        return executed

    @staticmethod
    def _stable_mapping(labels: DataFrame, mentions: DataFrame,
                        prior_map: DataFrame | None):
        """The full norm -> stable-id ``mapping``: linked norms through
        their component's identity.resolve_stable_ids assignment,
        singletons as themselves (components never shrink under
        append-only growth, so a singleton's id is its norm forever).
        ``all_norms`` lets the holder-aware rule see SINGLETON holders —
        after a retraction, a component fragment must not claim an id
        whose norm survives unlinked (it republishes itself).

        Returns (mapping, changed, merges). ``mapping`` is checkpointed
        once — it feeds three materialize joins plus the ledger diff;
        ``changed`` = norms whose mapping is new or moved vs
        ``prior_map`` (O(changed); feeds the ledger append AND the
        splice scope), checkpointed too — None without a ledger."""
        norms = mentions.select("norm").distinct()
        assign, merges = identity.resolve_stable_ids(
            labels, prior_map, all_norms=norms)
        linked = labels.join(assign, "component").select("norm", "entity_id")
        singles = (
            norms.join(labels.select("norm").distinct(), "norm", "left_anti")
            .withColumn("entity_id", F.col("norm"))
        )
        mapping = checkpoint(linked.unionByName(singles))
        changed = None if prior_map is None else checkpoint(
            mapping.join(prior_map, ["norm", "entity_id"], "left_anti"))
        return mapping, changed, merges

    def _materialize_incremental(self, mentions: DataFrame,
                                 triples_raw: DataFrame,
                                 mapping: DataFrame,
                                 prior_map: DataFrame,
                                 changed: DataFrame) -> bool:
        """Recompute ONLY the output groups this ingest touches — the
        last O(corpus)-shuffle per ingest (full materialize re-aggregates
        every triple group and every entity on every run with changes).

        Pending files = extract_done ∖ mat_done (own ledger — crash
        anywhere replays idempotently, advanced LAST); the affected-group
        scope derivation and splice live in
        operators/materialize.incremental_outputs (shared with the
        oracle-gated ``incremental_kg_*`` queries). Exact-equal to the
        full path: pinned by tests/test_incremental_materialize.py
        against a same-state full recompute. Output writes stay full
        atomic snapshots (at Iceberg scale the write becomes a row-level
        MERGE on the same delta)."""
        io = self.io
        t0 = time.time()
        keys = self._LINK_KEYS
        done = io.read("extract_done").distinct()
        pending = checkpoint(
            done.join(io.read("mat_done"), keys, "left_anti"))
        n_pending = pending.count()
        n_changed = changed.count()
        if n_pending == 0 and n_changed == 0:
            self._log("materialize", skipped=True, incremental=True)
            return False
        B = self._batch_broadcast(max(n_pending, n_changed))
        new_raw = triples_raw.join(B(pending), keys, "left_semi")

        outputs, affected_ids, drop_keys = materialize.incremental_outputs(
            io.read("triples"), io.read("entities"), io.read("aliases"),
            mentions, triples_raw, new_raw, mapping, prior_map, changed,
            hint_broadcast=B is F.broadcast)

        # overlapped writes (guide §2.6) — every input is a committed
        # table, a broadcast of a checkpointed scope frame, or the
        # checkpointed mapping, so the three plans share no live persist
        commits = self._write_tables("materialize", outputs,
                                     _MAT_PARTITIONS, parallel=True)
        io.append(pending, "mat_done",
                  meta={"stage": "materialize", "run_id": self.cfg.run_id})
        self._fold("mat_done", DataFrame.distinct)
        self._log("materialize", skipped=False, incremental=True,
                  pending_files=n_pending, changed_mappings=n_changed,
                  affected_entities=affected_ids.count(),
                  affected_triple_groups=drop_keys.count(),
                  wall_s=round(time.time() - t0, 3), **self._sizes(commits))
        return True

    @staticmethod
    def _overlap(tasks) -> list:
        """Run independent write/compact thunks concurrently, at most 3 at
        a time (guide §2.6: Spark happily runs several jobs at once;
        actions are sequential only because the driver calls them
        sequentially); returns their results in order. Callers group
        tasks so that nothing in one group depends on another member's
        committed result."""
        tasks = list(tasks)
        if len(tasks) <= 1:
            return [t() for t in tasks]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(3, len(tasks))) as ex:
            futures = [ex.submit(t) for t in tasks]
            return [f.result() for f in futures]

    # ---- broadcast-size gate (round-5 verdict #2) ---------------------------
    def _batch_broadcast(self, n_rows: int):
        """Returns the broadcast HINT to apply to batch-scope frames of an
        incremental/retract run: F.broadcast below the configured row
        limit, identity above it (the hints are dropped and AQE picks the
        join strategy from real sizes — a bulk backlog or mass takedown
        degrades to shuffle joins instead of OOMing). The decision is
        logged, never silent."""
        if n_rows > self.cfg.broadcast_row_limit:
            self._log("broadcast_gate", batch_rows=n_rows,
                      limit=self.cfg.broadcast_row_limit,
                      hints_dropped=True)
            return lambda df: df
        return F.broadcast

    # ---- incremental retraction (O(affected) takedown) ----------------------

    def retract(self, source_df: DataFrame | None = None,
                source_path: str | None = None) -> dict:
        """Incremental RETRACTION — the deletion analog of the O(new)
        ingest path: files present in the ledgers but ABSENT from the
        given corpus are removed from every table at O(affected) shuffle
        cost, instead of a full force-rebuild (run(prune_removed=True)
        only prunes ledgers; the data tables kept stale rows until the
        next force run). The 100 TB motivation is takedown/right-to-be-
        forgotten: a daily handful of removals must not re-link the
        corpus.

        Scope: removed files' raw triples -> affected norms; a norm with
        no surviving mention DIES (leaves the mention dictionary and the
        signature/band store, so future probes cannot link to ghosts);
        edges with a dead endpoint die; CC re-runs only on the
        components that contained a dead norm (they can SPLIT — the
        holder-aware stable-id rule in identity.resolve_stable_ids keeps
        published ids collision-free: the fragment holding the id norm
        keeps it, others get their CC label); materialize splices only
        the affected output groups (materialize.retraction_outputs).

        CRASH-SAFE by idempotent replay: every derived table is a pure
        function of (old triples_raw, removed keys), data tables are
        rewritten before triples_raw, and the ledgers are pruned LAST —
        a replay after any crash point recomputes identical content (a
        post-triples_raw replay sees empty scopes and only re-commits
        already-correct tables). Dead norms keep their ledger rows (no
        tombstones): if a file returns, its norms get their old ids
        back.

        Cap-freeze note: removal never re-opens a mega-block — a band
        that crossed the cap stays frozen even if removals shrink it
        (consistent with ingest/streaming cap semantics).
        ``extract_metrics`` is left untouched: its rows are identity-
        less observability (no file key to anti-join), and metrics
        inform, never gate.

        Fails up front (StageError, nothing written) on a warehouse whose
        link store predates the prefix-partitioned layout. Caches and
        checkpoints live in one session.Scope, freed on return.

        Returns {"removed_files": n, "dead_norms": n, ...} (also logged
        to lineage)."""
        with Scope():
            io = self.io
            cfg = self.cfg
            keys = self._LINK_KEYS
            t0 = time.time()
            missing = [t for t in ("extract_done", "link_signatures",
                                   "entity_ids")
                       if not io.exists(t)]
            if missing:
                raise StageError(
                    "retract() needs the committed link state "
                    f"(missing: {missing}); build the warehouse with "
                    "JobConfig(durable_link_state=True) or run(incremental="
                    "True) — one-shot builds skip those commits by design"
                )
            # the link-store compactions below partition by the probe-key
            # prefix; an older unpartitioned store would fail them AFTER
            # mentions/edges were rewritten — refuse before any write
            stale = [f"{t} lacks {c}" for t, c in (("link_signatures", "_np"),
                                                   ("link_bands", "_bp"))
                     if io.exists(t) and c not in io.read(t).columns]
            if stale:
                raise StageError(
                    f"retract() needs the prefix-partitioned link store "
                    f"({'; '.join(stale)}); rebuild it with run(force=True)")
            if source_df is None:
                if source_path is None:
                    raise ValueError("retract() needs source_df or source_path")
                source_df = self.spark.read.parquet(source_path)
            src_keys = source_df.select(*keys).distinct()
            removed = (
                self.io.read("extract_done").distinct()
                .join(src_keys, keys, "left_anti")
                .transform(checkpoint)
            )
            n_removed = removed.count()
            if n_removed == 0:
                self._log("retract", skipped=True)
                return {"removed_files": 0}
            B = self._batch_broadcast(n_removed)

            triples_raw_all = io.read("triples_raw")
            removed_raw = triples_raw_all.join(
                B(removed), keys, "left_semi"
            ).transform(checkpoint)
            remaining_raw = triples_raw_all.join(
                B(removed), keys, "left_anti")

            # ---- mentions: recompute the affected norms' rows ----------------
            affected_norms = (
                removed_raw.filter(F.col("kind").isin(*normalize.LINKABLE_KINDS))
                .select(normalize.norm_col("obj").alias("norm"))
                .filter(F.length("norm") > 0).distinct()
                .transform(checkpoint)
            )
            remaining_slice = (
                remaining_raw.filter(F.col("kind").isin(*normalize.LINKABLE_KINDS))
                .withColumn("_n", normalize.norm_col("obj"))
                .join(B(affected_norms.withColumnRenamed(
                    "norm", "_n")), "_n", "left_semi").drop("_n")
            )
            recomputed_m = normalize.normalize_mentions(remaining_slice)
            mentions_out = (
                io.read("mentions")
                .join(B(affected_norms), "norm", "left_anti")
                .unionByName(recomputed_m)
            )
            dead = (
                affected_norms
                .join(recomputed_m.select("norm").distinct(), "norm",
                      "left_anti")
                .transform(checkpoint)
            )
            n_dead = dead.count()

            # ---- edges + labels: dead endpoints; re-CC touched components ----
            old_labels = io.read("labels")
            edges_out = (
                io.read("edges")
                .join(B(dead.withColumnRenamed("norm", "norm_a")),
                      "norm_a", "left_anti")
                .join(B(dead.withColumnRenamed("norm", "norm_b")),
                      "norm_b", "left_anti")
            )
            touched = (
                old_labels.join(B(dead), "norm", "left_semi")
                .select("component").distinct().transform(checkpoint)
            )
            n_touched = touched.count()
            sub = (
                edges_out.join(
                    old_labels.select(F.col("norm").alias("norm_a"),
                                      "component"), "norm_a")
                .join(B(touched), "component", "left_semi")
                .select("norm_a", "norm_b")
            )
            relabeled = cc.connected_components(sub, cfg.cc_max_iter)
            labels_out = (
                old_labels.join(B(touched), "component", "left_anti")
                .unionByName(relabeled)
                .transform(checkpoint)
            )

            meta = {"stage": "retract", "run_id": cfg.run_id}
            # the four link-state rewrites are independent (each compact's
            # plan reads only its OWN table + the checkpointed dead set) —
            # overlap them (guide §2.6); labels follows because its commit
            # manifest records the post-compact edge segment list
            link_rewrites = [
                lambda: io.compact("mentions", mentions_out, meta=meta),
                lambda: io.compact(
                    "link_signatures",
                    io.read("link_signatures").join(B(dead), "norm", "left_anti"),
                    meta=meta, partition_by=["_np"]),
                lambda: io.compact("edges", edges_out, meta=meta),
            ]
            if io.exists("link_bands"):
                link_rewrites.append(lambda: io.compact(
                    "link_bands",
                    io.read("link_bands").join(B(dead), "norm", "left_anti"),
                    meta=meta, partition_by=["_bp"]))
            self._overlap(link_rewrites)
            io.write(labels_out, "labels", meta={
                **meta, "edge_segments": io.segments("edges")})

            # ---- stable ids over the post-retraction graph -------------------
            mentions_new = io.read("mentions")
            prior_map = self._read_entity_ledger()
            mapping, changed, reassigned = self._stable_mapping(
                labels_out, mentions_new, prior_map)
            n_changed = changed.count()

            # ---- materialize: splice only affected output groups -------------
            outputs, affected_ids, drop_keys = materialize.retraction_outputs(
                io.read("triples"), io.read("entities"), io.read("aliases"),
                mentions_new, remaining_raw, removed_raw, mapping, prior_map,
                hint_broadcast=B is F.broadcast)
            self._write_tables("retract", outputs, _MAT_PARTITIONS)
            if n_changed:
                seq = io.read("entity_ids").agg(
                    F.max("_seq")).collect()[0][0] or 0
                io.append(changed.withColumn("_seq", F.lit(seq + 1)),
                          "entity_ids", meta=meta)
            reassign_rows = [
                {"entity_id": r["entity_id"], "absorbed_id": r["absorbed_id"]}
                for r in reassigned.limit(100).collect()
            ]

            # ---- prune the raw stream + per-file tables + ledgers LAST -------
            per_file = []
            if io.exists("quarantine"):
                per_file.append(lambda: io.compact(
                    "quarantine",
                    io.read("quarantine").join(B(removed), keys, "left_anti"),
                    meta=meta))
            if io.exists("source_repos"):
                per_file.append(lambda: io.write(
                    io.read("source_repos").join(B(removed), keys, "left_anti"),
                    "source_repos", meta=meta))
            self._overlap(per_file)
            self._run_stage("triples_raw", {"triples_raw": remaining_raw},
                            force=True)
            self._overlap([
                (lambda lg: lambda: io.compact(
                    lg, io.read(lg).distinct().join(B(removed), keys,
                                                    "left_anti"),
                    meta=meta))(ledger)
                for ledger in ("extract_done", "link_done", "mat_done")
                if io.exists(ledger)
            ])
            stats = {
                "removed_files": n_removed,
                "dead_norms": n_dead,
                "touched_components": n_touched,
                "changed_mappings": n_changed,
                "affected_entities": affected_ids.count(),
                "affected_triple_groups": drop_keys.count(),
            }
            self._log("retract", skipped=False, **stats,
                      id_reassignments=reassign_rows,
                      wall_s=round(time.time() - t0, 3))
            return stats

    # ---- incremental linking (O(new) ingest) --------------------------------
    _LINK_TABLES = ("mentions", "edges", "labels", "link_signatures",
                    "link_bands")

    def _can_link_incremental(self) -> bool:
        """The probe path needs the committed link state; lang-aware
        blocking changes band keys when an EXISTING norm gains a new
        language, which the new-norms-only probe cannot see — that mode
        falls back to the full recompute (logged)."""
        if self.cfg.link_lang_aware:
            self._log("link_incremental_fallback", reason="link_lang_aware")
            return False
        if not all(self.io.exists(t) for t in self._LINK_TABLES):
            self._log("link_incremental_fallback",
                      reason="missing link state (pre-round-5 warehouse)")
            return False
        return True

    _LINK_KEYS = ["repo", "path", "commit"]

    def _link_incremental(self) -> dict:
        """Linking stages (B5-B9) at O(pending-batch) cost:

          * mentions — new (surface, lang, norm) rows found via a
            broadcast semi/anti pair (the dictionary is SCANNED, never
            shuffled) and segment-appended;
          * edges — signatures computed for norms ABSENT from the
            committed store; candidate pairs = new x new band self-join
            ∪ a band-key equi-join probe of the committed signature
            store (band keys re-derive in-row from the stored h-columns
            — no shuffle of the store); the mega-block cap applies to
            the COMBINED band population, so a band that ever crossed
            the cap never emits new pairs (pairs emitted while it was
            small stay — the batch analog of the streaming max_band
            freeze; refusals are logged);
          * labels — CC re-runs ONLY on components touched by a new edge
            (cc.incremental_components); untouched labels pass through.

        CRASH-SAFE RESUME: extraction's ledger advances before linking,
        so linking must track its own progress or a crash between the
        two would skip these files forever (extraction's anti-join sees
        nothing left to do). The unit of progress is the ``link_done``
        ledger: pending = extract_done ∖ link_done, advanced LAST. Every
        sub-step re-derives its own todo from committed state, so any
        crash point replays without duplicating:
          - mention rows dedup by anti-join against the mentions table;
          - the new-norm set is "pending norms ∉ link_signatures", and
            regenerated edges anti-join the edges table before append;
          - the labels commit manifest records WHICH edge segments it
            reflects — a crash between the edges append and the labels
            write leaves an unreflected segment that the next run folds
            into its incremental CC input.

        Equal to the full recompute except for cap-freeze semantics
        (pinned by tests against Pipeline-on-union)."""
        cfg = self.cfg
        io = self.io
        keys = self._LINK_KEYS
        done = io.read("extract_done").distinct()
        if io.exists("link_done"):
            linked = io.read("link_done")
            pending = done.join(linked, keys, "left_anti")
        else:
            pending = done
        pending = pending.transform(checkpoint)
        n_pending = pending.count()
        B = self._batch_broadcast(n_pending)
        unreflected = self._unreflected_edge_segments()
        if n_pending == 0 and not unreflected:
            for stage in ("mentions", "edges", "labels"):
                self._log(stage, skipped=True, incremental=True)
            return {"mentions": False, "edges": False, "labels": False}

        t0 = time.time()
        old_mentions = io.read("mentions")
        pending_triples = io.read("triples_raw").join(
            B(pending), keys, "left_semi")
        new_m = normalize.normalize_mentions(pending_triples)
        # which of the batch's mention rows are genuinely new: semi-join
        # the dictionary against the (small, broadcast) batch, then
        # anti-join the batch against that overlap — both joins broadcast
        # the small side, so the dictionary is scanned, not shuffled
        overlap = old_mentions.join(
            B(new_m), ["surface", "lang", "norm"], "left_semi")
        new_rows = new_m.join(
            B(overlap), ["surface", "lang", "norm"], "left_anti"
        ).transform(checkpoint)
        n_new_mentions = new_rows.count()
        self._log("mentions", skipped=False, incremental=True,
                  new_rows=n_new_mentions, pending_files=n_pending,
                  wall_s=round(time.time() - t0, 3))

        t1 = time.time()
        store_sig = io.read("link_signatures")
        # the store is the source of truth for "already blocked": norms
        # of pending files absent from it (replay-safe on retry). The
        # store tables are prefix-PARTITIONED (see the edges stage):
        # collecting the batch's distinct prefixes (bounded — <= 256
        # norm prefixes, <= bands*16 band prefixes) lets every store
        # read below prune to the partitions the batch can touch, so
        # probe scan bytes track the batch, not the corpus (round-5
        # verdict #1; plan-asserted in tests/test_streaming_and_plans).
        pending_norms = new_m.select("norm").distinct().transform(checkpoint)
        sig_slice = _prefix_slice(store_sig, "_np", pending_norms,
                                  blocking.norm_prefix())
        norm_overlap = sig_slice.select("norm").join(
            B(pending_norms), "norm", "left_semi").distinct()
        new_norm_rows = pending_norms.join(
            B(norm_overlap), "norm", "left_anti")
        new_sig = blocking.minhash_signature_df(
            new_norm_rows, cfg.minhash_hashes, cfg.extractor_seed,
            cfg.shingle_size).transform(checkpoint)
        n_new_norms = new_sig.count()
        new_blocks = blocking.band_keys_df(
            new_sig, cfg.minhash_hashes, cfg.lsh_bands)
        bands_slice = _prefix_slice(io.read("link_bands"), "_bp", new_blocks,
                                    blocking.band_prefix())
        new_band_keys = new_blocks.select("band_key").distinct()
        touched_store = bands_slice.join(
            B(new_band_keys), "band_key", "left_semi"
        ).select("norm", "band_key")
        combined = (
            touched_store.select("band_key")
            .union(new_blocks.select("band_key"))
            .groupBy("band_key").agg(F.count("*").alias("_bs"))
            .transform(checkpoint)
        )
        n_refused = combined.filter(
            F.col("_bs") > cfg.max_block_size).count()
        if n_refused:
            self._log("edges_megablock_cap", n_blocks_refused=n_refused,
                      max_block_size=cfg.max_block_size, incremental=True)
        ok_bands = combined.filter(
            F.col("_bs") <= cfg.max_block_size).select("band_key")
        new_blocks_ok = new_blocks.join(
            B(ok_bands), "band_key", "left_semi")
        touched_ok = touched_store.join(
            B(ok_bands), "band_key", "left_semi")
        pairs = blocking.probe_pairs(new_blocks_ok, touched_ok)
        # grams for the verify join: only the store norms that actually
        # appear in a touched band (batch-proportional) — fetched through
        # the same prefix-pruned store read, never a full grams scan
        needed_store = touched_ok.select("norm").distinct().transform(checkpoint)
        grams_slice = _prefix_slice(store_sig, "_np", needed_store,
                                    blocking.norm_prefix())
        sig_grams = grams_slice.select("norm", "grams").join(
            B(needed_store), "norm", "left_semi"
        ).unionByName(new_sig.select("norm", "grams"))
        # anti-join against committed edges: a retry after a crash
        # between the edges append and the link_done advance regenerates
        # the same pairs — they must not stack
        new_edges = score_pairs(
            pairs, sig_grams, cfg.link_threshold
        ).join(io.read("edges").select("norm_a", "norm_b"),
               ["norm_a", "norm_b"], "left_anti").transform(checkpoint)
        n_new_edges = new_edges.count()
        meta = {"stage": "link_incremental", "run_id": cfg.run_id}
        if n_new_edges:
            io.append(new_edges, "edges", meta=meta)
        self._log("edges", skipped=False, incremental=True,
                  new_rows=n_new_edges, new_norms=n_new_norms,
                  wall_s=round(time.time() - t1, 3))

        t2 = time.time()
        labels_changed = bool(n_new_edges or unreflected)
        if labels_changed:
            cc_input = new_edges.select("norm_a", "norm_b")
            for seg in unreflected:
                cc_input = cc_input.unionByName(
                    self.spark.read.parquet(io._path(seg))
                    .select("norm_a", "norm_b"))
            old_labels = io.read("labels")
            all_edges = io.read("edges")  # post-append: duplicates with
            # cc_input are deduped inside incremental CC's distinct
            labels_new, touched = cc.incremental_components(
                old_labels, all_edges, cc_input, cfg.cc_max_iter)
            n_touched = touched.count()
            # the labels write reads the old snapshot while staging to a
            # tmp dir; the atomic swap happens only after the read ran.
            # Its manifest records which edge segments it reflects.
            io.write(labels_new, "labels", meta={
                "stage": "labels", "run_id": cfg.run_id,
                "edge_segments": io.segments("edges"),
            })
            self._log("labels_incremental",
                      touched_components=n_touched,
                      unreflected_segments=len(unreflected),
                      wall_s=round(time.time() - t2, 3))
        else:
            self._log("labels", skipped=True, incremental=True)
        # remaining appends; link_done advances LAST so any crash above
        # replays this batch instead of losing it
        if n_new_norms:
            io.append(new_sig.withColumn("_np", blocking.norm_prefix()),
                      "link_signatures", meta=meta, partition_by=["_np"])
            io.append(new_blocks.withColumn("_bp", blocking.band_prefix()),
                      "link_bands", meta=meta, partition_by=["_bp"])
        if n_new_mentions:
            io.append(new_rows, "mentions", meta=meta)
        io.append(pending, "link_done", meta=meta)
        for name, pb in (("mentions", None), ("link_signatures", ["_np"]),
                         ("link_bands", ["_bp"]), ("edges", None)):
            self._fold(name, partition_by=pb)
        self._fold("link_done", DataFrame.distinct)
        return {"mentions": n_new_mentions > 0,
                "edges": n_new_edges > 0,
                "labels": labels_changed}

    def _unreflected_edge_segments(self) -> list[str]:
        """Edge segments appended after the last labels write (crash
        window between the two): the labels manifest lists the segments
        it reflects; anything newer must enter the next incremental CC.
        A labels manifest without the key predates segments entirely
        (full-run labels are written right after a base edges write,
        which supersedes all segments), so the default is []."""
        meta = self.io.commit_meta("labels") or {}
        reflected = set(meta.get("meta", {}).get("edge_segments", []))
        return [s for s in self.io.segments("edges") if s not in reflected]

    def _compact_ledgers(self, keep_keys: DataFrame | None,
                         force: bool = False) -> None:
        """Fold extraction-ledger segments into one base snapshot once
        ``COMPACT_AFTER`` accumulate (or immediately when ``force``, the
        prune_removed path). ``extract_done`` compacts to DISTINCT keys,
        semi-joined against ``keep_keys`` (the registered corpus) when
        pruning; ``extract_metrics`` folds as-is. Crash-safety: the base
        snapshot is written before segments are dropped, so a crash
        between the two steps duplicates rows, never loses them — for
        extract_done that is invisible (every consumer keys on distinct
        (repo, path, commit)); for extract_metrics, whose rows have no
        identity, one fold's worth of observability rows could double-
        count until the next fold rewrites the base. Metrics inform,
        they never gate — the correctness ledger is extract_done."""
        def extract_done(led):
            led = led.distinct()
            if keep_keys is None:
                return led
            return led.join(
                keep_keys.select("repo", "path", "commit").distinct(),
                ["repo", "path", "commit"], "left_semi")

        self._fold("extract_done", extract_done, force=force,
                   pruned=keep_keys is not None)
        self._fold("extract_metrics")
        self._fold("quarantine", lambda q: q.dropDuplicates(
            ["repo", "path", "commit", "obj"]))
        # entity_ids folds to the LATEST row per norm (keeping its _seq
        # so later appends still order above it)
        self._fold("entity_ids", self._latest_ids)

    def _fold(self, name: str, content=None, force: bool = False,
              partition_by: list[str] | None = None, **log) -> None:
        """Fold ``name``'s append segments into one base snapshot once
        ``COMPACT_AFTER`` accumulate (now, when ``force``). ``content``
        maps the full read to the folded rows (dedup or prune while
        folding); default: the read as-is."""
        if not self.io.exists(name):
            return
        n_seg = len(self.io.segments(name))
        if force or n_seg >= self.COMPACT_AFTER:
            self.io.compact(
                name, content(self.io.read(name)) if content else None,
                meta={"stage": "ledger_compact", "run_id": self.cfg.run_id},
                partition_by=partition_by)
            self._log("ledger_compact", table=name, segments=n_seg, **log)

    def _run_stage_lazy(self, name, thunk, force=False,
                        parallel=False) -> bool:
        """Resume-aware stage: only build the DataFrames if not committed
        (building them is cheap/lazy, but skipping keeps lineage honest).
        Caches the thunk makes live in the caller's session.Scope."""
        if not force and all(self.io.exists(t) for t in _STAGE_TABLES[name]):
            self._log(name, skipped=True)
            return False
        return self._run_stage(name, thunk(), force=True, parallel=parallel)


_STAGE_TABLES = {
    "triples_raw": ("triples_raw", "quarantine", "extract_metrics",
                    "extract_done"),
    "mentions": ("mentions",),
    "labels": ("labels",),
    "materialize": ("triples", "entities", "aliases"),
}
_MAT_PARTITIONS = {"triples": ["pred"], "aliases": ["lang"]}
