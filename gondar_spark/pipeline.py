"""The staged KG-construction job:

  source -> triples_raw (extract) -> mentions -> edges -> labels (CC)
         -> triples / entities / aliases (materialize)

Every stage ends in committed tables (TableIO.write is atomic), so a
killed run resumes idempotently. Builds, resumed builds, ingests,
``force`` rebuilds and lang-aware runs take the same four steps, one
path each. The source stage commits the corpus (a copy, or a zero-copy
registration) and hashes the committed table: a build hashes every
file, an ingest only the files ``source_hashes`` lacks. The extraction
stage extracts its todo: the whole corpus on a build, the corpus minus
the ``extract_done`` ledger on an ingest. A build writes its tables; an
ingest appends one segment to each. The link step (_link) and the
materialize step (_materialize_step) share one pending set,
``extract_done`` minus the ``mat_done`` ledger, which advances last. A
build is an ingest into empty link state: a link table that is absent
reads as empty, and an append to it is its base write. The link step
is replay-idempotent (every append anti-joins what is committed), so a
crash at any commit replays the batch without duplicating rows. Builds,
ingests and retract() produce the outputs one way,
materialize.full_outputs under the stable ``entity_ids`` mapping
(_materialize), or under the identity while no ledger exists. A
warehouse written before this layout may hold a ``link_done`` table;
nothing reads it any more.

Lineage: one JSONL record per stage per run (rows, bytes, wall_s,
skipped flag), timed by one context manager (Pipeline._stage), plus the
extractor's per-batch metric rows persisted as ``extract_metrics``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .config import JobConfig
from .errors import StageError
from .operators import (
    blocking, cc, chunk, extract, identity, materialize, normalize, source,
)
from .operators.scoring import score_pairs
from .session import Scope, checkpoint, persist
from .sources.tables import TableIO


def _singletons(labels: DataFrame, mentions: DataFrame) -> DataFrame:
    """The mention norms no component holds, each its own entity id."""
    return (mentions.select("norm").distinct()
            .join(labels.select("norm").distinct(), "norm", "left_anti")
            .withColumn("entity_id", F.col("norm")))


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
        d = self._lineage_path
        names = (sorted(os.listdir(d)) if all_runs and os.path.isdir(d)
                 else [f"{self.cfg.run_id}.jsonl"])
        recs: list[dict] = []
        for name in names:
            p = os.path.join(d, name)
            if name.endswith(".jsonl") and os.path.exists(p):
                with open(p) as f:
                    recs += [json.loads(ln) for ln in f if ln.strip()]
        return sorted(recs, key=lambda r: r.get("ts", 0)) if all_runs else recs

    @contextlib.contextmanager
    def _stage(self, name: str, **fields):
        """Time one stage or sub-step: the block fills the yielded dict
        with its lineage fields, and on a clean exit the record is logged
        with the block's ``wall_s``. A block that raises logs nothing, as
        a killed run would not. The one place per-stage metrics attach."""
        t0 = time.time()
        rec = dict(fields)
        yield rec
        self._log(name, **rec, wall_s=round(time.time() - t0, 3))

    def _write_tables(self, stage: str, tables: dict[str, DataFrame],
                      partition_by: dict[str, list[str]] | None = None,
                      parallel: bool = False, append: bool = False) -> dict:
        """Commit each table — a snapshot write, or one appended segment
        when ``append``; returns {table: commit} of the tables committed:
        an append that turned out empty commits nothing and is left out.

        ``parallel`` overlaps the independent table writes (_overlap:
        actions are only sequential because the driver calls them
        sequentially) — one write's task tail back-fills with the next
        write's tasks. Safe ONLY when the table plans read
        committed, checkpointed or already-populated inputs: plans
        sharing an un-materialized persist would race to populate the
        cache and re-run the expensive upstream (the extract-once
        contract)."""
        commit = self.io.append if append else self.io.write

        def _write(tbl, df):
            return tbl, commit(
                df, tbl, partition_by=(partition_by or {}).get(tbl),
                meta={"stage": stage, "run_id": self.cfg.run_id})

        writes = [functools.partial(_write, *kv) for kv in tables.items()]
        return {t: c for t, c in (self._overlap(writes) if parallel
                                  else [w() for w in writes])
                if not append or c["rows"] != 0}

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
            prune_removed: bool = False) -> dict:
        """Run the four steps with resume; returns {stage: executed}.

        ``source_df`` is written to ``cfg.source_table`` as a copy;
        ``source_path`` is the ZERO-COPY mode: the corpus already at rest
        there is registered (a pointer, no data movement) — at 100 TB the
        copy is a job in itself. Without either, the committed source
        table is re-read.

        ``incremental=True`` declares the durable lifecycle: the run
        commits the ingest state (``link_bands``, ``entity_ids``,
        ``mat_done``) that later ingests and retract() read, and once the
        warehouse holds ``triples_raw`` the run is an INGEST (B12 —
        resume by anti-join on (repo, path, commit)). A warehouse that
        holds the entity ledger stays durable whatever the caller says:
        its published ids must keep being honored. A one-shot build
        skips those commits; its outputs are the same. Every step has
        one path; what changes is its todo and its commit:
          * source: an ingest hashes only the files ``source_hashes``
            lacks, and appends them as one segment;
          * extraction: an ingest extracts only the corpus minus the
            ``extract_done`` ledger, and ``triples_raw``, ``quarantine``,
            ``extract_metrics`` and the ledger each get one appended
            segment — O(batch) bytes, never a rewrite of the history. The
            ledger records every file whose extraction completed (zero-
            triple and quarantined files too), so an unchanged corpus
            re-runs with zero extractor calls;
          * linking (_link) and materialize (_materialize_step) take one
            pending set (_pending), the extracted files the ``mat_done``
            ledger lacks — every file on a build, so a build is an ingest
            into empty link state, and a replay of a killed run extracts
            nothing new and still finishes its batch.
        Segment tables fold into one snapshot every ``COMPACT_AFTER``
        runs. ``force=True`` reruns every step, and relinks FRESH: the
        committed link state and ``mat_done`` are ignored and rewritten
        as snapshots (the entity ledger is honored). A lang-aware run
        with pending files relinks fresh too (see _link).

        APPEND-ONLY ASSUMPTION: an ingest treats the corpus as
        append-only — files REMOVED or REWRITTEN-in-place upstream keep
        their rows in ``source_hashes`` / ``extract_done`` (dead weight
        only: a key absent from the corpus never matches the anti-join).
        ``prune_removed=True`` semi-joins both against the current corpus
        keys while folding them this run; retract() removes files from
        every table.

        Every cache and checkpoint the run makes — its own and those of
        the operators it calls (CC, materialize) — belongs to one
        session.Scope and is freed when run() returns or raises: a
        long-lived session (streaming foreachBatch, a bench campaign, a
        notebook) never accumulates executor storage across runs."""
        if source_path is not None and source_df is not None:
            raise ValueError("pass source_df OR source_path, not both")
        with Scope():
            executed: dict[str, bool] = {}
            durable = incremental or self.io.exists("entity_ids")
            if source_df is not None or source_path is not None:
                executed["source"] = self._source_stage(
                    source_df, source_path, force, incremental)
            src = self.io.read(self.cfg.source_table)
            ingest = (incremental and not force
                      and self.io.exists("triples_raw"))
            executed["triples_raw"] = self._extract_stage(
                src, ingest, force)
            if ingest:
                self._compact_ledgers(src if prune_removed else None,
                                      force=prune_removed)
            # lang-aware band keys change when an EXISTING norm gains a
            # language, which a probe of the new norms cannot see: a
            # lang-aware run with pending files relinks fresh
            fresh = force or (self.cfg.link_lang_aware
                              and self._pending(False, durable)[1] > 0)
            pending, n_pending = self._pending(fresh, durable)
            step = dict(n_pending=n_pending, fresh=fresh, durable=durable,
                        ingest=ingest)
            executed.update(self._link(pending, **step))
            executed["materialize"] = self._materialize_step(
                pending, executed["labels"], **step)
            return executed

    def _source_stage(self, source_df: DataFrame | None,
                      source_path: str | None, force: bool,
                      incremental: bool) -> bool:
        """Stage 1 (B1/B2): commit the corpus — ``source_df`` as a copy
        partitioned by lang, ``source_path`` registered in place — then
        one sha256 pass over the COMMITTED table, so the (possibly
        expensive) input plan is evaluated once and the scan prunes to
        the key and content columns. A build hashes every file. An
        ingest hashes only the files ``source_hashes`` lacks and appends
        them as one segment (folded and pruned in _compact_ledgers); the
        append commits nothing when no file is new.
        Returns True if a table was committed."""
        cfg, io, keys = self.cfg, self.io, self._LINK_KEYS
        if not (force or incremental) and all(
                io.exists(t) for t in (cfg.source_table, "source_hashes")):
            self._log("source", skipped=True)
            return False
        ingest = incremental and not force and io.exists("source_hashes")
        with self._stage("source") as rec:
            commits = {}
            if source_path is not None:
                io.register(cfg.source_table, source_path)
            else:
                commits = self._write_tables(
                    "source", {cfg.source_table: source_df},
                    {cfg.source_table: ["lang"]})
            corpus = io.read(cfg.source_table)
            if ingest:
                corpus = corpus.join(io.read("source_hashes").select(*keys),
                                     keys, "left_anti")
            hashes = source.with_content_sha(corpus).select(
                *keys, "content_sha256")
            commits.update(self._write_tables(
                "source", {"source_hashes": hashes}, append=ingest))
            rec.update(skipped=not commits, **self._sizes(commits))
        return bool(commits)

    def _extract_stage(self, src: DataFrame, ingest: bool,
                       force: bool) -> bool:
        """Stage 2 (B3/B4): chunk + vectorized extraction, one path for
        builds and ingests. The todo is the whole corpus on a build and
        the corpus minus the ``extract_done`` ledger on an ingest. The
        ledger, keyed on (repo, path, commit), records every ATTEMPTED
        file: triples_raw alone cannot serve, since a file that yields
        zero triples leaves no row there and would re-extract on every
        ingest. A warehouse without the ledger falls back once to the
        keys of triples_raw and commits them.

        The extraction is persisted and populated by ONE action, which
        also counts each output; the three data tables are filters over
        that one plan, so they commit overlapped and the extractor still
        runs once per unit (the extract-once contract). A build writes
        them; an ingest appends one segment each and drops re-extracted
        rows a killed run already committed — triples_raw rows of files
        it holds, quarantine rows by failure identity (file key + error
        message). ``extract_done`` commits LAST: a ledger committed
        before the data would let a crash between the two skip files
        whose rows were never written (A15).

        Returns True if the stage executed."""
        io, cfg, keys = self.io, self.cfg, self._LINK_KEYS
        todo = src.select(*keys).distinct()
        if ingest:
            done = (io.read("extract_done") if io.exists("extract_done")
                    else io.read("triples_raw").select(*keys).distinct())
            todo = checkpoint(todo.join(done, keys, "left_anti"))
            n_todo = todo.count()
            if n_todo == 0:
                # ZERO extractor calls: no extraction plan is even built.
                # A pre-ledger warehouse commits the derived key set here,
                # so its fallback runs once.
                if not io.exists("extract_done"):
                    io.write(done, "extract_done", meta={
                        "stage": "triples_raw", "run_id": cfg.run_id})
                self._log("triples_raw_incremental", n_todo=0, new_rows=0,
                          skipped=True)
                return False
            B = self._batch_broadcast(n_todo)
            src = src.join(B(todo), keys, "left_semi")
        elif not force and all(io.exists(t)
                               for t in _STAGE_TABLES["triples_raw"]):
            self._log("triples_raw", skipped=True)
            return False
        kw = {k: v for k, v in (("extractor", self.extractor),
                                ("batch_extractor", self.batch_extractor))
              if v is not None}
        # the stage's own scope frees the extraction persist once its
        # commits complete (or fail)
        with Scope(), self._stage("triples_raw", skipped=False) as rec:
            raw = persist(extract.extract_triples(
                chunk.prepare_extraction_units(
                    src, cfg.chunk_lines,
                    pass_through_chars=cfg.max_chunk_chars),
                cfg.extractor_max_retries, cfg.chunk_lines, **kw))
            triples, quarantine, metrics = extract.split_extraction(raw)
            tables = {"triples_raw": triples, "quarantine": quarantine,
                      "extract_metrics": metrics.select(
                          F.col("obj").alias("metric"), "chunk_id")}
            # ONE action populates the persist and counts each output
            # (split_extraction's filters), so an ingest skips empty appends
            out = (F.when(raw.pred == "__error__", "quarantine")
                   .when(raw.pred == "__metric__", "extract_metrics")
                   .otherwise("triples_raw"))
            n = {t: 0 for t in tables}
            n.update(raw.groupBy(out).count().collect())
            if ingest:
                tables = {t: df for t, df in tables.items() if n[t]}
                if "triples_raw" in tables:
                    held = io.read("triples_raw").select(*keys).join(
                        B(todo), keys, "left_semi")
                    tables["triples_raw"] = triples.join(held, keys,
                                                         "left_anti")
                if "quarantine" in tables:
                    qkey = [*keys, "obj"]
                    tables["quarantine"] = quarantine.join(
                        io.read("quarantine").select(*qkey), qkey,
                        "left_anti").dropDuplicates(qkey)
            commits = self._write_tables("triples_raw", tables,
                                         parallel=True, append=ingest)
            commits.update(self._write_tables(
                "triples_raw", {"extract_done": todo}, append=ingest))
            rec.update(self._sizes(commits))
        if ingest:
            self._log("triples_raw_incremental", n_todo=n_todo,
                      new_rows=n["triples_raw"],
                      new_quarantine=n["quarantine"])
        return True

    # ---- stable canonical ids + materialize ---------------------------------
    @staticmethod
    def _latest_ids(ledger: DataFrame) -> DataFrame:
        """The latest row per norm of the segment-appended entity_ids
        ledger: each append carries a monotone _seq, highest wins."""
        w = Window.partitionBy("norm").orderBy(F.col("_seq").desc())
        return (ledger.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))

    def _read_entity_ledger(self) -> DataFrame:
        """Latest (norm -> entity_id) mapping."""
        return self._latest_ids(self.io.read("entity_ids")).select(
            "norm", "entity_id")

    def _materialize_step(self, pending: DataFrame | None,
                          labels_changed: bool, n_pending: int, fresh: bool,
                          durable: bool, ingest: bool) -> bool:
        """The materialize step of every run, with STABLE entity ids: CC
        labels are component minima and churn when a lower-id member
        arrives; the entity_ids ledger maps every mention norm to its
        FIRST-ASSIGNED id, so corpus growth never relabels a published
        entity. It runs when the pending files (shared with the link
        step) are non-empty, this run changed ``labels`` or an output is
        missing — never on a caller's "something changed" flag, which a
        replay after a crash past the extraction ledger would read as
        nothing to do. With a ledger it is _materialize. Without one the
        stable ids are the identity (every component keeps its CC label,
        every singleton its norm), so ``labels`` IS the mapping: the
        outputs equal plain min-label canonicalization, one-shot and
        durable builds alike, and a durable run commits that identity as
        the ledger's base (``_seq`` 0), overlapped with the outputs. A
        durable run then records the pending files in ``mat_done``,
        LAST: one appended segment, or a snapshot of every extracted
        file on a fresh relink."""
        io = self.io
        done = all(io.exists(t) for t in _STAGE_TABLES["materialize"])
        with self._stage("materialize", incremental=ingest,
                         skipped=done and not (n_pending or labels_changed)
                         ) as rec:
            if rec["skipped"]:
                return False
            mentions, labels, triples_raw = (
                io.read(t) for t in ("mentions", "labels", "triples_raw"))
            rec["pending_files"] = n_pending
            if io.exists("entity_ids"):
                rec.update(self._materialize(mentions, labels, triples_raw))
            else:
                ids = labels.select(
                    "norm", F.col("component").alias("entity_id"))
                tables = materialize.full_outputs(mentions, triples_raw, ids)
                if durable:
                    tables["entity_ids"] = ids.unionByName(
                        _singletons(labels, mentions)).withColumn(
                            "_seq", F.lit(0))
                rec.update(self._sizes(self._write_tables(
                    "materialize", tables, _MAT_PARTITIONS, parallel=True)))
            if durable:
                files = (io.read("extract_done").distinct() if pending is None
                         else pending)
                (io.write if fresh else io.append)(
                    files, "mat_done",
                    meta={"stage": "materialize", "run_id": self.cfg.run_id})
                self._fold("mat_done", DataFrame.distinct)
        return True

    @staticmethod
    def _stable_mapping(labels: DataFrame, mentions: DataFrame,
                        prior_map: DataFrame):
        """The full norm -> stable-id ``mapping``: linked norms through
        their component's identity.resolve_stable_ids assignment,
        singletons as themselves (components never shrink under
        append-only growth, so a singleton's id is its norm forever).
        The mention norms let the holder-aware rule see SINGLETON
        holders — after a retraction, a component fragment must not
        claim an id whose norm survives unlinked (it republishes
        itself).

        Returns (mapping, changed, merges). ``mapping`` is checkpointed
        once — it feeds three materialize joins plus the ledger diff;
        ``changed`` = norms whose mapping is new or moved vs
        ``prior_map`` (O(changed); the ledger append), checkpointed too.
        ``merges`` (entity_id, absorbed_id) derives from that one
        checkpoint, so the stable-id resolution runs once: a prior id a
        component claimed but did not keep is exactly the prior id of
        one of its linked norms that moved (merges under growth,
        re-assignments under splits)."""
        assign = identity.resolve_stable_ids(labels, prior_map, mentions)
        linked = labels.join(assign, "component").select("norm", "entity_id")
        mapping = checkpoint(linked.unionByName(_singletons(labels, mentions)))
        moved = checkpoint(mapping.join(
            prior_map.withColumnRenamed("entity_id", "absorbed_id"),
            "norm", "left").filter(
                ~F.col("entity_id").eqNullSafe(F.col("absorbed_id"))))
        merges = (moved.filter(F.col("absorbed_id").isNotNull())
                  .join(labels.select("norm"), "norm", "left_semi")
                  .select("entity_id", "absorbed_id").distinct())
        return mapping, moved.select("norm", "entity_id"), merges

    def _materialize(self, mentions: DataFrame, labels: DataFrame,
                     triples_raw: DataFrame) -> dict:
        """The one materialize of a warehouse with an entity ledger — a
        build's, an ingest's and retract()'s: the stable mapping over
        the current ``labels`` and ``mentions`` -> the outputs
        materialize.full_outputs makes of it over ``triples_raw`` (the
        current raw stream), written overlapped -> the entity_ids
        advance. Every input is a committed table or a checkpointed
        frame, so the three writes share no live persist. The outputs
        are a pure function of committed state: a replay after a crash
        at any point rewrites the same rows. Returns the lineage
        fields."""
        mapping, changed, merges = self._stable_mapping(
            labels, mentions, self._read_entity_ledger())
        commits = self._write_tables(
            "materialize",
            materialize.full_outputs(mentions, triples_raw, mapping),
            _MAT_PARTITIONS, parallel=True)
        return {"changed_mappings": self._advance_ids(changed, merges),
                **self._sizes(commits)}

    def _advance_ids(self, changed: DataFrame, merges: DataFrame) -> int:
        """Append the new or moved mappings as one entity_ids segment
        (``_seq`` = latest + 1, so they win on read) and log the merge
        sample: prior ids a component claimed but did not keep — merges
        under growth, re-assignments under splits. Returns the number
        of changed mappings."""
        merge_rows, n_merges = [], 0
        n_changed = changed.count()
        # merges derive from ``changed``: none unless a mapping moved
        if n_changed:
            merges = checkpoint(merges)  # the sample and the count read it
            merge_rows = [r.asDict() for r in merges.limit(100).collect()]
            n_merges = merges.count()
            seq = self.io.read("entity_ids").agg(
                F.max("_seq")).collect()[0][0] or 0
            self.io.append(changed.withColumn("_seq", F.lit(seq + 1)),
                           "entity_ids",
                           meta={"stage": "materialize",
                                 "run_id": self.cfg.run_id})
        self._log("entity_ids", changed=n_changed, merges=n_merges,
                  merge_sample=merge_rows)
        return n_changed

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
        """Returns the broadcast HINT to apply to batch-scope frames of a
        link step or a retract() run: F.broadcast below the configured
        row limit, identity above it (the hints are dropped and AQE picks
        the join strategy from real sizes — a large build, a bulk backlog
        or a mass takedown degrades to shuffle joins instead of OOMing).
        The decision is logged, never silent."""
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
        given corpus are removed from every table, the link state at
        O(affected) shuffle cost, instead of a full force-rebuild
        (run(prune_removed=True) only prunes ledgers; the data tables
        kept stale rows until the next force run). The 100 TB motivation
        is takedown/right-to-be-forgotten: a daily handful of removals
        must not re-link the corpus.

        Scope — only what removal alone needs lives here: the removed
        files' raw triples -> affected norms; a norm with no surviving
        mention DIES (leaves the mention dictionary and the band store,
        so future probes cannot link to ghosts);
        edges with a dead endpoint die. From there the delta takes the
        path ingest takes: the touched-component CC (_touched_cc — the
        components holding a dead norm can SPLIT, and edge segments a
        crashed ingest left unreflected are folded in), then the one
        materialize of builds and ingests, _materialize, over the
        remaining raw triples (stable mapping — the holder-aware rule in
        identity.resolve_stable_ids keeps published ids collision-free:
        the fragment holding the id norm keeps it, others get their CC
        label — full outputs, entity_ids advance), logged as its own
        ``materialize`` record.

        CRASH-SAFE by idempotent replay: every derived table is a pure
        function of (old triples_raw, removed keys, committed link
        state); labels are written before the link-table compactions
        (so a replay never loses unreflected edge segments a compaction
        folded away), data tables are rewritten before triples_raw, and
        the ledgers (``extract_done``, ``mat_done``) are pruned LAST — a
        replay after any crash point recomputes identical content (a
        post-triples_raw replay sees empty scopes and only re-commits
        already-correct tables). Dead
        norms keep their ledger rows (no tombstones): if a file
        returns, its norms get their old ids back.

        Cap-freeze note: removal never re-opens a mega-block — a band
        that crossed the cap stays frozen even if removals shrink it
        (consistent with ingest/streaming cap semantics).
        ``extract_metrics`` is left untouched: its rows are identity-
        less observability (no file key to anti-join), and metrics
        inform, never gate. The source side loses the removed files too:
        ``source_hashes`` and ``cfg.source_table`` are pruned — or, given
        ``source_path``, the source table is re-registered to it — so a
        later run without a source cannot re-extract them.

        A link store of the older prefix-partitioned layout is migrated
        first (_migrate_link_store). Caches and checkpoints live in one
        session.Scope, freed on return.

        Returns {"removed_files": n, "dead_norms": n,
        "touched_components": n, "changed_mappings": n, "rows": {...},
        "bytes": {...}} (also logged to lineage)."""
        with Scope(), self._stage("retract") as rec:
            io = self.io
            cfg = self.cfg
            keys = self._LINK_KEYS
            missing = [t for t in ("extract_done", "link_bands",
                                   "entity_ids")
                       if not io.exists(t)]
            if missing:
                raise StageError(
                    "retract() needs the committed link state "
                    f"(missing: {missing}); build the warehouse with "
                    "run(incremental=True) — one-shot builds skip those "
                    "commits by design"
                )
            self._migrate_link_store()
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
            rec["skipped"] = n_removed == 0
            if n_removed == 0:
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

            # ---- labels: one touched-component CC, written first ----------
            labels_out, n_touched = self._touched_cc(removed=B(dead))
            meta = {"stage": "retract", "run_id": cfg.run_id}
            io.write(labels_out, "labels", meta={
                **meta, "edge_segments": io.segments("edges")})

            # the three link-state rewrites are independent (each compact's
            # plan reads only its OWN table + the checkpointed dead set) —
            # overlap them (guide §2.6)
            self._overlap([
                lambda: io.compact("mentions", mentions_out, meta=meta),
                lambda: io.compact(
                    "edges",
                    io.read("edges")
                    .join(B(dead.withColumnRenamed("norm", "norm_a")),
                          "norm_a", "left_anti")
                    .join(B(dead.withColumnRenamed("norm", "norm_b")),
                          "norm_b", "left_anti"),
                    meta=meta),
                lambda: io.compact(
                    "link_bands",
                    io.read("link_bands").join(B(dead), "norm", "left_anti"),
                    meta=meta),
            ])

            with self._stage("materialize") as mat:
                mat.update(self._materialize(
                    io.read("mentions"), io.read("labels"), remaining_raw))
            stats = {"removed_files": n_removed, "dead_norms": n_dead,
                     "touched_components": n_touched, **mat}

            # ---- prune the raw stream + per-file tables + ledgers LAST -------
            def prune(tables, rows=lambda df: df):
                """Compact each committed table without the removed
                files' rows, overlapped."""
                self._overlap([functools.partial(lambda t: io.compact(
                    t, rows(io.read(t)).join(B(removed), keys, "left_anti"),
                    meta=meta), t) for t in tables if io.exists(t)])

            # the source table is re-registered when the caller names the
            # corpus's path (zero-copy), otherwise pruned like the others
            per_file = ["quarantine", "source_hashes"]
            if source_path is not None:
                io.register(cfg.source_table, source_path)
            else:
                per_file.append(cfg.source_table)
            prune(per_file)
            with self._stage("triples_raw", skipped=False) as raw_rec:
                raw_rec.update(self._sizes(self._write_tables(
                    "triples_raw", {"triples_raw": remaining_raw})))
            prune(("extract_done", "mat_done"), DataFrame.distinct)
            rec.update(stats)
            return stats

    # ---- linking (O(pending) for every run) --------------------------------
    _LINK_KEYS = ["repo", "path", "commit"]

    def _migrate_link_store(self) -> None:
        """Rewrite a link store of the older prefix-partitioned layout
        (``link_bands`` partitioned by ``_bp``, beside a
        ``link_signatures`` table) as the one unpartitioned
        ``link_bands``, once, before a link step or retract() reads it.
        The dead table is dropped BEFORE the rewrite: a crash between
        the two leaves ``_bp`` in place, so the next run migrates again
        — no crash point can leave ``link_signatures`` behind."""
        io = self.io
        if io.exists("link_bands") and "_bp" in io.read("link_bands").columns:
            io.drop("link_signatures")
            io.write(io.read("link_bands").drop("_bp"), "link_bands",
                     meta={"stage": "link_store_migrated",
                           "run_id": self.cfg.run_id})
            self._log("link_store_migrated")

    def _link(self, pending: DataFrame | None, n_pending: int, fresh: bool,
              durable: bool, ingest: bool) -> dict:
        """The link step (B5-B9) of every run, at O(pending) cost:

          * mentions — the pending files' (surface, lang, norm) rows the
            dictionary lacks, found via a broadcast semi/anti pair (the
            dictionary is SCANNED, never shuffled), appended;
          * edges — signatures computed for the pending norms ABSENT
            from the band store (link_bands); candidate pairs = their
            band self-join ∪ a band-key equi-join probe of the store (no
            shuffle of the store), verified against grams recomputed
            in-row for the store norms the probe touched; the mega-block
            cap applies to the COMBINED band population, so a band that
            ever crossed the cap never emits new pairs (pairs emitted
            while it was small stay — the batch analog of the streaming
            max_band freeze; drops are logged as
            ``edges_megablock_cap``). A durable run appends the new
            norms' bands to the store after the edges;
          * labels — CC over every committed edge while no labels are
            committed (``labels``), else only on the components a new
            edge touches (``labels_incremental``, _touched_cc, the one
            touched-component CC retract() also runs); untouched labels
            pass through.

        A link table that is absent reads as empty, and an append to it
        is its base write, so on a build every pending norm is new and
        the probe joins fold away: a build is an ingest into empty link
        state. A FRESH relink (``force``, or lang-aware band keys) reads
        every link table as empty and writes snapshots instead of
        appending. The materialize step (_materialize_step) follows.

        CRASH-SAFE RESUME: extraction's ledger advances before linking,
        so a crash between the two must not skip these files forever
        (extraction's anti-join sees nothing left to do). ``pending`` is
        extract_done ∖ mat_done (None: every extracted file), the one
        pending set of the link and materialize steps, computed once by
        the caller; ``mat_done`` advances after the materialize, so a
        crash anywhere before it replays the batch through both steps.
        Every sub-step re-derives its own todo from committed state and
        commits it as one append, whose row count comes back from the
        commit (an empty append commits nothing), so a replay re-links
        without duplicating:
          - the mentions step appends its rows at once: they dedup by
            anti-join against the mentions table, so a replay appends
            none twice;
          - the new-norm set is "pending norms ∉ link_bands", and
            regenerated edges anti-join the edges table before append.
            The band append follows the edges append: a crash between
            them leaves those norms unblocked, and the replay
            regenerates (and anti-joins away) their pairs;
          - the labels commit manifest records WHICH edge segments it
            reflects — a crash between the edges append and the labels
            write leaves an unreflected segment that the next run — an
            ingest or a retract() — folds into its touched-component CC
            input.

        Equal to the fresh relink except for cap-freeze semantics
        (pinned by tests against Pipeline-on-union). Returns
        {sub-step: committed}."""
        cfg, io, keys = self.cfg, self.io, self._LINK_KEYS
        self._migrate_link_store()
        full_cc = fresh or not io.exists("labels")
        unreflected = self._unreflected_edge_segments()
        if n_pending == 0 and not unreflected and not full_cc:
            for stage in ("mentions", "edges", "labels"):
                self._log(stage, skipped=True, incremental=ingest)
            return {"mentions": False, "edges": False, "labels": False}
        B = self._batch_broadcast(n_pending)

        def state(name: str) -> DataFrame:
            """The committed link table; empty (a plan Spark's optimizer
            folds joins of away) when absent or on a fresh relink."""
            if io.exists(name) and not fresh:
                return io.read(name)
            return self.spark.createDataFrame(
                [], _LINK_SCHEMAS[name]).where(F.lit(False))

        # the step's caches and the CC's checkpoints are freed once the
        # labels commit, before materialize reads the committed tables
        with Scope():
            with self._stage("mentions", skipped=False,
                             incremental=ingest) as rec:
                raw = io.read("triples_raw")
                if pending is not None:
                    raw = raw.join(B(pending), keys, "left_semi")
                new_m = normalize.normalize_mentions(raw)
                # which of the batch's mention rows are genuinely new:
                # semi-join the dictionary against the (small, broadcast)
                # batch, then anti-join the batch against that overlap
                cols = ["surface", "lang", "norm"]
                overlap = state("mentions").join(B(new_m), cols,
                                                 "left_semi")
                m_commits = self._write_tables("mentions", {
                    "mentions": new_m.join(B(overlap), cols, "left_anti")},
                    append=not fresh)
                rec.update(pending_files=n_pending,
                           **self._sizes(m_commits))

            with self._stage("edges", skipped=False,
                             incremental=ingest) as rec:
                store = state("link_bands")
                # the store is the source of truth for "already blocked":
                # pending norms absent from it (replay-safe on retry),
                # found by a semi-join against the (small, broadcast)
                # batch — the store is scanned, never shuffled
                known = store.select("norm").join(
                    B(new_m.select("norm")), "norm", "left_semi").distinct()
                sig = persist(blocking.minhash_signature_df(
                    new_m.join(B(known), "norm", "left_anti"),
                    cfg.minhash_hashes, cfg.extractor_seed,
                    cfg.shingle_size))
                blocks = blocking.band_keys_df(
                    sig, cfg.minhash_hashes, cfg.lsh_bands,
                    lang_df=new_m if cfg.link_lang_aware else None)
                touched = store.join(
                    B(blocks.select("band_key").distinct()), "band_key",
                    "left_semi").select("norm", "band_key")
                # every member of a band the batch touches, new or stored,
                # with the band's size: one shuffle by band key, kept by
                # the checkpoint, serves the cap (it bounds the s^2/2 pair
                # blow-up of degenerate bands and never fires silently),
                # the logged drop count and the band joins below
                bands = checkpoint(
                    blocks.withColumn("_new", F.lit(True))
                    .unionByName(touched.withColumn("_new", F.lit(False)))
                    .withColumn("_bs", F.count("*").over(
                        Window.partitionBy("band_key"))))
                n_mega = bands.filter(F.col("_bs") > cfg.max_block_size) \
                    .select("band_key").distinct().count()
                if n_mega:
                    self._log("edges_megablock_cap",
                              n_blocks_dropped=n_mega,
                              max_block_size=cfg.max_block_size)
                ok = bands.filter(F.col("_bs") <= cfg.max_block_size)
                old_ok = ok.filter(~F.col("_new")).select("norm", "band_key")
                pairs = blocking.probe_pairs(
                    ok.filter("_new").select("norm", "band_key"), old_ok)
                # grams for the verify join: recomputed in-row for the
                # store norms in a touched band (batch-proportional), with
                # the expression minhash_signature_df uses for the new
                grams = old_ok.select("norm").distinct().withColumn(
                    "grams", blocking.gram_array(n=cfg.shingle_size)
                ).unionByName(sig.select("norm", "grams"))
                # anti-join against committed edges: a retry after a
                # crash before the mat_done advance regenerates the same
                # pairs — they must not stack
                new_edges = score_pairs(
                    pairs, grams, cfg.link_threshold
                ).join(state("edges").select("norm_a", "norm_b"),
                       ["norm_a", "norm_b"], "left_anti")
                # edges first: a replay after a crash before the band
                # commit still finds these norms unblocked
                tables = {"edges": new_edges}
                if durable:
                    tables["link_bands"] = bands.filter("_new").select(
                        "norm", "band_key")
                e_commits = self._write_tables("edges", tables,
                                               append=not fresh)
                rec.update(self._sizes(e_commits))

            labels_changed = full_cc or bool(unreflected) or (
                "edges" in e_commits and e_commits["edges"]["rows"] != 0)
            if labels_changed:
                with self._stage("labels" if full_cc
                                 else "labels_incremental") as rec:
                    if full_cc:
                        labels = cc.connected_components(
                            io.read("edges"), cfg.cc_max_iter)
                    else:
                        # the rows this run appended, read back
                        appended = e_commits.get("edges")
                        labels, rec["touched_components"] = \
                            self._touched_cc(
                                appended and io.read(appended["table"]))
                        rec["unreflected_segments"] = len(unreflected)
                    # the write reads the old snapshot while staging to a
                    # tmp dir; the atomic swap happens only after the read
                    # ran. Its manifest records which edge segments it
                    # reflects.
                    rec.update(self._sizes({"labels": io.write(
                        labels, "labels", meta={
                            "stage": "labels", "run_id": cfg.run_id,
                            "edge_segments": io.segments("edges")})}))
            else:
                self._log("labels", skipped=True, incremental=ingest)
        for name in ("mentions", "link_bands", "edges"):
            self._fold(name)
        return {"mentions": "mentions" in m_commits,
                "edges": "edges" in e_commits, "labels": labels_changed}

    def _pending(self, fresh: bool, durable: bool):
        """The files the link and materialize steps have not finished,
        and their count: extract_done ∖ mat_done, checkpointed once.
        Without the ledger, or on a fresh relink, every extracted file
        (None), counted from the ledger's commits. A one-shot warehouse
        keeps no ledger: its committed outputs mark its one
        materialize, so a one-shot run finds nothing pending there — a
        durable run finds every file and upgrades the warehouse."""
        io = self.io
        if not fresh and io.exists("mat_done"):
            pending = checkpoint(io.read("extract_done").join(
                io.read("mat_done"), self._LINK_KEYS, "left_anti")
                .distinct())
            return pending, pending.count()
        if not (fresh or durable) and all(
                io.exists(t) for t in _STAGE_TABLES["materialize"]):
            return None, 0
        n = io.rows("extract_done")
        return None, n if n is not None else io.read("extract_done").count()

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

    def _touched_cc(self, new_edges: DataFrame | None = None,
                    removed: DataFrame | None = None):
        """Labels after a signed edge delta, for ingest and retract()
        alike: cc.incremental_components over the committed labels and
        edges, re-running CC only on the components that ``new_edges``,
        the unreflected edge segments (a crash between an edges append
        and its labels write) and the ``removed`` norms touch. Returns
        (labels plan, touched component count)."""
        delta = [self.io.read(s) for s in self._unreflected_edge_segments()]
        # the committed edges already hold this ingest's append, which
        # is also an unreflected segment: duplicates dedup inside
        # incremental CC
        delta += [new_edges] if new_edges is not None else []
        labels, touched = cc.incremental_components(
            self.io.read("labels"), self.io.read("edges"),
            functools.reduce(DataFrame.unionByName, (
                e.select("norm_a", "norm_b") for e in delta),
                self.spark.createDataFrame([], _LINK_SCHEMAS["edges"])),
            self.cfg.cc_max_iter, removed=removed)
        return labels, touched.count()

    def _compact_ledgers(self, keep_keys: DataFrame | None,
                         force: bool = False) -> None:
        """Fold the ingest's segment tables into one base snapshot once
        ``COMPACT_AFTER`` accumulate (or immediately when ``force``, the
        prune_removed path). ``extract_done`` and ``source_hashes`` fold
        to distinct rows, semi-joined against ``keep_keys`` (the
        registered corpus) when pruning; ``triples_raw`` and
        ``extract_metrics`` fold as-is. Crash-safety: the base manifest
        lists the segments it supersedes, so readers never see a row
        twice. Metrics inform, they never gate — the correctness ledger
        is extract_done."""
        keys = self._LINK_KEYS

        def keep(led):
            led = led.distinct()
            return led if keep_keys is None else led.join(
                keep_keys.select(*keys).distinct(), keys, "left_semi")

        for name in ("extract_done", "source_hashes"):
            self._fold(name, keep, force=force, pruned=keep_keys is not None)
        for name in ("triples_raw", "extract_metrics"):
            self._fold(name)
        self._fold("quarantine", lambda q: q.dropDuplicates(
            ["repo", "path", "commit", "obj"]))
        # entity_ids folds to the LATEST row per norm (keeping its _seq
        # so later appends still order above it)
        self._fold("entity_ids", self._latest_ids)

    def _fold(self, name: str, content=None, force: bool = False,
              **log) -> None:
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
                meta={"stage": "ledger_compact", "run_id": self.cfg.run_id})
            self._log("ledger_compact", table=name, segments=n_seg, **log)


_STAGE_TABLES = {
    "triples_raw": ("triples_raw", "quarantine", "extract_metrics",
                    "extract_done"),
    "materialize": ("triples", "entities", "aliases"),
}
# the columns the link step reads of each link table (_link: state)
_LINK_SCHEMAS = {"mentions": "surface string, lang string, norm string",
                 "edges": "norm_a string, norm_b string",
                 "link_bands": "norm string, band_key string"}
_MAT_PARTITIONS = {"triples": ["pred"], "aliases": ["lang"]}
