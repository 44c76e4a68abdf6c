"""Table IO behind one interface: Iceberg when the runtime jar is on the
classpath, parquet + atomic snapshot manifests otherwise (SURVEY.md §7
"Iceberg in-sandbox" risk item).

Semantics both backends provide:
  * ``write`` is an atomic, committed snapshot: readers never observe a
    half-written table (parquet backend stages to a temp dir, fsyncs a
    commit manifest last; Iceberg gets this natively).
  * ``exists`` is true only for *committed* tables — the resume logic
    (pipeline.py, north rule BASELINE.json:14) keys off it.
  * partitioned writes (`partition_by`) for the final triple/entity
    outputs (BASELINE.json:6 "partitioned Iceberg outputs").
  * every parquet file is zstd-compressed (``CODEC``, parquet's default
    level): Iceberg tables pin it as a table property, so the codec does
    not depend on the runtime's default (gzip before Iceberg 1.4).

On the parquet backend the commit manifest (``_gondar_commit.json``) is
the ONLY success marker: ``exists``, resume and ``_recover`` trust
nothing else, so writes skip Hadoop's ``_SUCCESS`` (and its ``.crc``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..errors import TableFormatError

_COMMIT = "_gondar_commit.json"
# the codec of every parquet file the package persists: TableIO's tables,
# the IVF index and the streaming sinks. zstd entropy-codes what snappy
# only dictionary/RLE-packs — the warehouse's hex norms, md5 band keys and
# sha256 columns — for about half the bytes at parquet's default level.
CODEC = "zstd"


def swap_in(tmp: str, final: str) -> None:
    """Crash-safe replace of directory ``final`` by the fully staged
    ``tmp``: the old copy moves ASIDE (rename, atomic) rather than
    rmtree-then-rename — a crash between those two steps would leave NO
    copy. With the aside, every instant has a complete directory on disk
    (``final`` or ``final.old-<id>``); restore_aside() / TableIO._recover
    finish an interrupted swap."""
    aside = None
    if os.path.exists(final):
        aside = final + ".old-" + uuid.uuid4().hex[:8]
        os.rename(final, aside)
    os.rename(tmp, final)
    if aside is not None:
        shutil.rmtree(aside, ignore_errors=True)


def restore_aside(final: str) -> None:
    """Undo a swap_in that died between its two renames: ``final`` is
    missing and its ``.old-<id>`` aside is the last complete copy."""
    if os.path.exists(final):
        return
    parent, base = os.path.split(os.path.abspath(final))
    for entry in sorted(os.listdir(parent)):
        if entry.startswith(base + ".old-"):
            os.rename(os.path.join(parent, entry), final)
            return


class TableIO:
    def __init__(self, spark: SparkSession, warehouse: str,
                 use_iceberg: bool | None = None) -> None:
        self.spark = spark
        self.warehouse = warehouse
        if use_iceberg is None:
            use_iceberg = "spark.sql.catalog.gondar" in {
                k for k, _ in spark.sparkContext.getConf().getAll()
            }
        self.use_iceberg = use_iceberg
        if not use_iceberg:
            os.makedirs(warehouse, exist_ok=True)
            self._recover()

    def _recover(self) -> None:
        """Finish interrupted swaps and clean write garbage:
          * `<name>.old-<id>` aside dirs: restore if the new snapshot
            never committed (no manifest at the final path), else delete
            (crash happened after the swap);
          * `<name>.tmp-<id>` staging dirs: always delete — a hard kill
            mid-write skips the except-path cleanup and would otherwise
            leave a full-size table copy in the warehouse forever
            (single-writer design: no live writer exists at init)."""
        for entry in os.listdir(self.warehouse):
            path = os.path.join(self.warehouse, entry)
            if ".tmp-" in entry:
                shutil.rmtree(path, ignore_errors=True)
                continue
            if ".old-" not in entry:
                continue
            final = os.path.join(self.warehouse, entry.split(".old-")[0])
            if not os.path.exists(os.path.join(final, _COMMIT)):
                shutil.rmtree(final, ignore_errors=True)  # half-swapped tmp
                os.rename(path, final)
            else:
                shutil.rmtree(path, ignore_errors=True)
        # physically drop segment dirs a crash left behind after their
        # rows were folded into a base snapshot (the base manifest lists
        # them as superseded; segments() already hides them from readers)
        for entry in os.listdir(self.warehouse):
            if self._SEG_SEP in entry or not os.path.isdir(
                    os.path.join(self.warehouse, entry)):
                continue
            meta = self.commit_meta(entry) or {}
            for seg in meta.get("superseded_segments") or []:
                shutil.rmtree(os.path.join(self.warehouse, seg),
                              ignore_errors=True)

    # ---- paths -----------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _ident(self, name: str) -> str:
        return f"gondar.db.{name}"

    # ---- write (atomic snapshot commit) -----------------------------------
    def write(self, df: DataFrame, name: str,
              partition_by: list[str] | None = None,
              meta: dict | None = None) -> dict:
        if self.use_iceberg:
            writer = (df.writeTo(self._ident(name)).using("iceberg")
                      .tableProperty("write.parquet.compression-codec",
                                     CODEC))
            if partition_by:
                from pyspark.sql import functions as F
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.createOrReplace()
            commit = {"table": name, "ts": time.time(),
                      "rows": self._iceberg_row_count(name),
                      "meta": meta or {}}
            return commit
        final = self._path(name)
        tmp = final + ".tmp-" + uuid.uuid4().hex[:8]
        try:
            if partition_by:
                # cluster rows by the partition columns before the
                # partitioned write (guide §6 / Iceberg's
                # write.distribution-mode=hash): without this every input
                # task writes a file into every partition dir it sees —
                # measured on the prefix-partitioned link store: a small
                # append from 32 tasks x 256 dirs emitted thousands of
                # near-empty files and made the ingest SLOWER at higher
                # parallelism. One shuffle of the written rows, one file
                # per populated dir (AQE-coalesced) — and a REBALANCE, not
                # a repartition, so AQE splits a hot partition value
                # across tasks instead of writing it through one.
                df = df.hint("rebalance", *partition_by)
            w = (df.write.mode("overwrite").option("compression", CODEC)
                 # the commit manifest below is the success marker
                 .option("mapreduce.fileoutputcommitter.marksuccessfuljobs",
                         "false"))
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(tmp)
            # rows from the parquet FOOTERS (driver-side metadata read,
            # microseconds per file) — not a second Spark scan of the
            # data; bytes and files from the same walk of the staging dir
            commit = {
                "table": name,
                "ts": time.time(),
                **self._staged_stats(tmp),
                "partition_by": partition_by or [],
                # a base write REPLACES the table, so every segment
                # committed before it is stale. Listing them IN the commit
                # manifest makes the swap+prune effectively atomic: a
                # crash between the rename below and the rmtree loop
                # leaves the folded dirs on disk, but segments() excludes
                # manifest-superseded names, so read() can never union
                # their rows back in (pre-fix, identity-less tables like
                # extract_metrics double-counted until the next fold);
                # _recover() deletes the orphan dirs at next init.
                "superseded_segments": self._raw_segments(name),
                "meta": meta or {},
            }
            with open(os.path.join(tmp, _COMMIT), "w") as f:
                json.dump(commit, f)
            # recovery (_recover, run at init) restores the aside if the
            # swap never happened and deletes it if it did
            swap_in(tmp, final)
            # a base write REPLACES the table: any append segments from
            # earlier incremental runs are now stale and must not be
            # unioned back in by read() — a forced full re-run would
            # otherwise resurrect pre-rewrite ledger/metric rows.
            # (compact() reads base+segments BEFORE calling write, so the
            # fold is complete by the time this drop runs. The new
            # manifest already lists these as superseded, so a crash
            # anywhere in this loop is invisible to readers.)
            for seg in commit["superseded_segments"]:
                shutil.rmtree(self._path(seg), ignore_errors=True)
            # drop Spark's cached file listing for the swapped path —
            # otherwise later reads resolve to the pre-swap part files
            self.spark.catalog.refreshByPath(final)
            return commit
        except Exception as e:  # pragma: no cover - defensive
            shutil.rmtree(tmp, ignore_errors=True)
            raise TableFormatError(f"write({name}) failed: {e}") from e

    def _iceberg_row_count(self, name: str) -> int | None:
        """Row count from the LAST snapshot's summary — catalog metadata,
        no data scan (the parquet-footer analog on this branch)."""
        try:
            rows = self.spark.sql(
                f"SELECT summary FROM {self._ident(name)}.snapshots "
                f"ORDER BY committed_at DESC LIMIT 1"
            ).collect()
            if rows:
                return int(rows[0]["summary"]["total-records"])
        except Exception:
            pass
        return None

    # Footer-walk cap: microseconds per file is MINUTES per stage commit at
    # millions of files. Above the cap the footer reads stop (rows=None in
    # the commit manifest, never a wrong number; bytes and files still
    # cost one stat per file) — at that scale the Iceberg branch's
    # snapshot summary is the right source anyway.
    MAX_FOOTER_FILES = 20_000

    @classmethod
    def _staged_stats(cls, path: str) -> dict:
        """``{rows, bytes, files}`` of a staged table dir in one walk:
        rows summed from the part files' footers, bytes and files over
        every file on disk (part files and their checksums)."""
        import pyarrow.parquet as pq

        rows, nbytes, files, parts = 0, 0, 0, 0
        for root, _dirs, names in os.walk(path):
            for f in names:
                p = os.path.join(root, f)
                files += 1
                nbytes += os.path.getsize(p)
                if rows is None or not f.endswith(".parquet"):
                    continue
                parts += 1
                if parts > cls.MAX_FOOTER_FILES:
                    import logging

                    logging.getLogger(__name__).warning(
                        "row-count skipped for %s: > %d part files",
                        path, cls.MAX_FOOTER_FILES,
                    )
                    rows = None
                    continue
                rows += pq.ParquetFile(p).metadata.num_rows
        return {"rows": rows, "bytes": nbytes, "files": files}

    # ---- append segments (ledger tables) -----------------------------------
    # A table that only ever GROWS (the extract_done ledger, extract
    # metrics) must not be rewritten whole on every incremental run — at
    # 10^9 files the full-ledger rewrite becomes the slowest stage of an
    # otherwise tiny run. ``append`` commits the new rows as a SEGMENT
    # (`<name>__seg_<id>`, each an atomic snapshot via ``write``); ``read``
    # transparently unions base + segments; ``compact`` folds segments back
    # into the base snapshot (crash-safe: base is rewritten FIRST, segment
    # drops after — a crash in between leaves duplicate rows, which ledger
    # consumers tolerate by keying on distinct keys / dedup-on-read).
    # On Iceberg, appends are native row-level appends and ``segments``
    # is always empty (the catalog owns file compaction).
    _SEG_SEP = "__seg_"

    def append(self, df: DataFrame, name: str, meta: dict | None = None,
               partition_by: list[str] | None = None) -> dict:
        if self.use_iceberg:
            df.writeTo(self._ident(name)).append()
            return {"table": name, "ts": time.time(), "appended": True,
                    "meta": meta or {}}
        if not self.exists(name):
            return self.write(df, name, meta=meta, partition_by=partition_by)
        seg = f"{name}{self._SEG_SEP}{uuid.uuid4().hex[:12]}"
        return self.write(df, seg, meta=meta, partition_by=partition_by)

    def _raw_segments(self, name: str) -> list[str]:
        """Committed segment dirs on disk, WITHOUT the superseded filter
        (used while building a new base manifest)."""
        prefix = f"{name}{self._SEG_SEP}"
        out = []
        for entry in sorted(os.listdir(self.warehouse)):
            if entry.startswith(prefix) and "." not in entry[len(prefix):]:
                if os.path.exists(os.path.join(self.warehouse, entry, _COMMIT)):
                    out.append(entry)
        return out

    def segments(self, name: str) -> list[str]:
        """Committed segment table names for ``name`` (parquet backend).
        Segments the base commit manifest lists as superseded are
        EXCLUDED even if their dirs survived a crash mid-prune — their
        rows are already folded into the base snapshot."""
        if self.use_iceberg:
            return []
        meta = self.commit_meta(name) or {}
        dead = set(meta.get("superseded_segments") or [])
        return [s for s in self._raw_segments(name) if s not in dead]

    def compact(self, name: str, df: DataFrame | None = None,
                meta: dict | None = None,
                partition_by: list[str] | None = None) -> dict | None:
        """Fold segments into one base snapshot. ``df`` overrides the
        compacted content (callers use this to dedup or prune while
        compacting); default is the full union read. No-op when there is
        nothing to fold (unless ``df`` is given — an explicit rewrite)."""
        if self.use_iceberg:
            return None
        segs = self.segments(name)
        if not segs and df is None:
            return None
        if df is None:
            df = self.read(name)
        # the write plan reads the CURRENT base + segments while staging to
        # a tmp dir; the atomic swap happens only after the read finished
        commit = self.write(df, name, meta=meta, partition_by=partition_by)
        for seg in segs:
            self.drop(seg)
        return commit

    # ---- zero-copy registration --------------------------------------------
    def register(self, name: str, path: str) -> dict:
        """Register ALREADY-COMMITTED data as table ``name`` without
        copying it: the table dir holds only a commit manifest whose
        ``external_path`` points at the data. ``read`` resolves the
        pointer; ``drop`` removes only the pointer. This is the 100 TB
        ingestion mode — Pipeline.run(source_path=...) registers the
        corpus instead of rewriting it through a full copy + shuffle
        (fixture mode keeps the copying source_df path)."""
        if self.use_iceberg:
            raise TableFormatError(
                "register() is the parquet-backend zero-copy mode; on "
                "Iceberg point the catalog at the existing table instead"
            )
        if not os.path.isdir(path):
            raise TableFormatError(f"register({name}): no directory {path}")
        final = self._path(name)
        tmp = final + ".tmp-" + uuid.uuid4().hex[:8]
        os.makedirs(tmp)
        commit = {"table": name, "ts": time.time(),
                  "external_path": os.path.abspath(path),
                  # a registration replaces the table like write() does —
                  # any segments from a prior life are stale
                  "superseded_segments": self._raw_segments(name)}
        with open(os.path.join(tmp, _COMMIT), "w") as f:
            json.dump(commit, f)
        swap_in(tmp, final)
        return commit

    # ---- read --------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.table(self._ident(name))
        if not self.exists(name):
            raise TableFormatError(f"table {name} not committed")
        meta = self.commit_meta(name) or {}
        if meta.get("external_path"):
            df = self.spark.read.parquet(meta["external_path"])
        else:
            df = self.spark.read.parquet(self._path(name))
        for seg in self.segments(name):
            df = df.unionByName(self.spark.read.parquet(self._path(seg)))
        return df

    def exists(self, name: str) -> bool:
        if self.use_iceberg:
            try:
                self.spark.table(self._ident(name))
                return True
            except Exception:
                return False
        return os.path.exists(os.path.join(self._path(name), _COMMIT))

    def commit_meta(self, name: str) -> dict | None:
        if self.use_iceberg:
            return {"table": name} if self.exists(name) else None
        p = os.path.join(self._path(name), _COMMIT)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def drop(self, name: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")
        else:
            for seg in self.segments(name):
                shutil.rmtree(self._path(seg), ignore_errors=True)
            shutil.rmtree(self._path(name), ignore_errors=True)
            self.spark.catalog.refreshByPath(self._path(name))
