"""SparkSession factory tuned for the KG-construction job.

Scale posture (the settings that matter at 100 TB / 1000 executors, all
harmless at local[32]):
  - AQE on, with skew-join splitting and partition coalescing — the north
    rule requires explicit skew handling (/root/repo/BASELINE.json:6,14).
  - Arrow enabled with a bounded records-per-batch so the mapInPandas
    extractor sees micro-batches (the reference's token-budget instinct,
    /root/reference/gondar/utils/Flow.py:14, generalized to batch sizing).
  - shuffle partitions sized by caller (32 in-sandbox; thousands on a
    real cluster).

Iceberg: if the Iceberg runtime jars are on the classpath we configure a
hadoop catalog under the warehouse; otherwise gondar_spark.sources.tables
falls back to parquet + snapshot manifests behind the same interface.

Cache and checkpoint lifetime: every persist and localCheckpoint in the
package goes through ``Scope`` (below) — the one owner of executor
storage for a pipeline run, a retraction, a CC call, a dedup query or a
declared query.
"""

from __future__ import annotations

import contextvars
import logging
import os
import threading

from pyspark.sql import DataFrame, SparkSession

# the root scope's bound for callers that never call release_caches():
# beyond this many outstanding PERSISTS the oldest is force-unpersisted
# (logged). A dropped persisted Dataset is never auto-freed — the SQL
# CacheManager holds entries until unpersist/clearCache regardless of
# Python references — so the cap strictly improves the untracked case.
# Checkpoints neither count nor get evicted: a live plan may still read
# their blocks, and unlike a persist they cannot be recomputed.
MAX_LIVE_CACHES = 16

# Spark's JVM-wide cache of Janino-compiled classes (LRU, keyed by the
# generated source). Its default of 100 entries is smaller than ONE build's
# working set: a build of the perfbench corpora (local[4]) generates 155-170
# distinct classes, so LRU evicted each before its next use, and every
# build, incremental ingest, streaming micro-batch and declared query of a
# long-lived session compiled them all again. 2000 is ~12x one build's
# working set, leaving room for the ingest, retraction and query plans of
# the same session; a repeated build now compiles 0, and perfbench's
# `build_linked` build CPU fell ~16% from this alone (local[4]). The
# cost is small: the same session retained 91.4 vs 90.0 MB of heap after a
# full GC and equal metaspace (~166 MB).
CODEGEN_CACHE_ENTRIES = 2000

_CURRENT: contextvars.ContextVar[Scope | None] = contextvars.ContextVar(
    "gondar_scope", default=None)


def _rdd_id(df: DataFrame) -> int | None:
    """A localCheckpoint's RDD id straight off the plan (LogicalRDD.rdd.id)
    — NOT a before/after diff of all persistent RDDs, which would capture
    (and later free) checkpoints created concurrently by OTHER driver
    threads in a shared session."""
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:  # plan shape changed: skip cleanup, never misfree
        return None


class Scope:
    """Owns the caches and checkpoints created while it is open, and frees
    them all on exit. ``with Scope():`` makes it the innermost scope of
    the calling thread (a ContextVar); ``Scope.current()`` is that scope,
    or the process ROOT scope when none is open. The module functions
    ``persist``/``checkpoint``/``release`` act on ``Scope.current()``, so
    an operator whose returned plan reads its own persist or checkpoint
    leaves the lifetime to its caller's ``with``; ``release_caches()``
    drains the root scope (bench.py and tools/check_oracles.py call it
    between queries).

    Freeing: ``DataFrame.unpersist()`` for persists; for checkpoints,
    ``getPersistentRDDs().get(id).unpersist(False)`` — DataFrame.unpersist
    only touches CacheManager entries, which localCheckpoint storage is
    not, and the context cleaner frees it only on JVM GC. Entries are
    shared across threads (the root especially): all mutation happens
    under the scope's lock, and every free is individually try/except'd
    — an entry whose session has stopped raises, and one dead entry must
    not leak the live rest."""

    def __init__(self) -> None:
        # DataFrame (persist) | (JavaSparkContext, rdd id) (checkpoint);
        # checkpoints hold only the id so the cleaner can still GC them
        self._entries: list = []
        self._lock = threading.Lock()
        self._token = None

    @staticmethod
    def current() -> Scope:
        return _CURRENT.get() or _ROOT

    def __enter__(self) -> Scope:
        self._token = _CURRENT.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _CURRENT.reset(self._token)
        self.close()

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        evict = None
        with self._lock:
            self._entries.append(df)
            if self is _ROOT:
                persists = [e for e in self._entries if not isinstance(e, tuple)]
                if len(persists) > MAX_LIVE_CACHES:
                    evict = persists[0]
                    self._entries = [e for e in self._entries
                                     if e is not evict]
        if evict is not None:
            logging.getLogger(__name__).warning(
                "root cache scope over %d persists — force-releasing the "
                "oldest; call release_caches() between queries",
                MAX_LIVE_CACHES,
            )
            _free(evict)
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint (runs the job now: any ``observe`` on
        ``df`` has fired when this returns)."""
        df = df.localCheckpoint(eager=True)
        rid = _rdd_id(df)
        if rid is not None:
            with self._lock:
                self._entries.append((df.sparkSession.sparkContext._jsc, rid))
        return df

    def release(self, df: DataFrame) -> None:
        """Free one registered persist or checkpoint before scope exit."""
        rid = None if any(e is df for e in self._entries) else _rdd_id(df)
        with self._lock:
            hit = [e for e in self._entries if e is df or (
                rid is not None and isinstance(e, tuple) and e[1] == rid)]
            self._entries = [e for e in self._entries
                             if not any(e is h for h in hit)]
        for e in hit:
            _free(e)

    def close(self) -> int:
        """Free every entry; returns how many were freed (entries whose
        session died are dropped, logged)."""
        with self._lock:
            drained, self._entries = self._entries, []
        return sum(_free(e) for e in drained)


def _free(entry) -> bool:
    try:
        if isinstance(entry, tuple):
            jsc, rid = entry
            rdd = jsc.getPersistentRDDs().get(rid)
            if rdd is not None:
                rdd.unpersist(False)
        else:
            entry.unpersist()
        return True
    except Exception:  # stopped session / dead JVM handle — skip, no leak
        logging.getLogger(__name__).warning(
            "free failed (stopped session?) — dropping scope entry",
            exc_info=True,
        )
        return False


_ROOT = Scope()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with the innermost open scope."""
    return Scope.current().persist(df)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint, registered with the innermost open scope."""
    return Scope.current().checkpoint(df)


def release(df: DataFrame) -> None:
    """Free ``df``'s persist or checkpoint from the innermost open scope
    now, before the scope exits."""
    Scope.current().release(df)


def release_caches() -> int:
    """Free everything registered with the root scope since the last call
    (operator-owned persists and checkpoints made outside any ``with
    Scope()``). Safe while no returned plan is still being consumed."""
    return _ROOT.close()


def build_session(
    app_name: str = "gondar_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    arrow_batch_rows: int = 256,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
    warm_start: bool = True,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    # ship ourselves to the Python workers: the mapInPandas closures import
    # gondar_spark, so the package root must be importable worker-side.
    # Local mode: inherit via PYTHONPATH. Cluster mode: users additionally
    # pass the zipped package via `spark-submit --py-files` (north rule,
    # /root/repo/BASELINE.json:14).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{py_path}" if py_path else pkg_root
        )
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch_rows),
        # deterministic outputs: never rely on partition order
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.autoBroadcastJoinThreshold": "67108864",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
        # a static conf: read once, when the JVM first generates code
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    if warehouse and _iceberg_available():
        conf.update(
            {
                "spark.sql.extensions": (
                    "org.apache.iceberg.spark.extensions"
                    ".IcebergSparkSessionExtensions"
                ),
                "spark.sql.catalog.gondar": "org.apache.iceberg.spark.SparkCatalog",
                "spark.sql.catalog.gondar.type": "hadoop",
                "spark.sql.catalog.gondar.warehouse": warehouse,
            }
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if warm_start:
        _warm_start(spark)
    return spark


def _warm_start(spark: SparkSession) -> None:
    """One-time per-session JVM warm-up over a few-KB synthetic frame:
    exercise the parquet writer/reader, explode+split, hash aggregate,
    window, join, sort-limit and md5/higher-order-function codegen paths
    so Janino compilation and C2 JIT of the shared operator machinery are
    paid at session build, not by the first production queries (guide
    §1: measure steady state, not compiler warm-up). Costs a few seconds
    once per application — irrelevant against any real workload, and the
    data involved is generated in-memory (no inputs touched, nothing
    precomputed). Idempotent via a session marker; disable with
    ``warm_start=False``."""
    jvm_session_ids = getattr(_warm_start, "_done", set())
    _warm_start._done = jvm_session_ids
    sid = spark.sparkContext.applicationId
    if sid in jvm_session_ids:
        return
    jvm_session_ids.add(sid)
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .sources.tables import CODEC

    tmp = tempfile.mkdtemp(prefix="gondar_warm_")
    try:
        base = spark.range(2000).select(
            F.col("id"), (F.col("id") % 37).alias("k"),
            F.concat(F.lit("tok a b c d "),
                     F.col("id").cast("string")).alias("txt"),
        )
        # in TableIO's codec, so its native library loads here
        base.write.mode("overwrite").option("compression", CODEC).parquet(
            f"{tmp}/t")
        pf = spark.read.parquet(f"{tmp}/t")
        (pf.select("k", F.explode(F.split("txt", " ")).alias("w"))
         .groupBy("w").agg(F.count("*").alias("n"), F.countDistinct("k"))
         .write.mode("overwrite").format("noop").save())
        w = Window.partitionBy("k").orderBy("id")
        win = pf.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        (win.join(pf.select(F.col("id").alias("id2"), "k"), "k")
         .groupBy("k").agg(F.sum("id2").alias("s"))
         .orderBy(F.desc("k")).limit(5)
         .write.mode("overwrite").format("noop").save())
        (pf.select(
            "id", F.md5(F.col("txt").cast("binary")).alias("h"),
            F.array_min(F.transform(
                F.split("txt", " "),
                lambda s: F.md5(s.cast("binary")))).alias("m"))
         .write.mode("overwrite").format("noop").save())
    except Exception:  # warm-up must never fail a session build
        pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _iceberg_available() -> bool:
    """True iff the Iceberg Spark runtime is importable on the JVM side.

    In-sandbox this is False and the parquet fallback engages; on a real
    cluster ship the runtime jar via --packages and this turns on.
    """
    try:
        import importlib.util

        # cheap proxy: a pyspark-iceberg runtime ships no python module, so
        # check the env flag users set when submitting with the jar.
        import os

        return os.environ.get("GONDAR_ICEBERG", "0") == "1" and (
            importlib.util.find_spec("pyspark") is not None
        )
    except Exception:
        return False
