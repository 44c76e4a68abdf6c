"""Incremental-linking benchmark (round-4 verdict ask #1's done
criterion): the linking stages' wall for ingesting a FIXED-SIZE batch
must stay ~flat while the committed corpus grows 10x — the probe design
pays O(new batch) per ingest (signatures for new norms only, band-store
equi-join probe, CC on touched components), where the old design
re-blocked and re-labeled the whole corpus every run.

Corpus shape: the mention DICTIONARY and the similarity graph must grow
WITH the corpus (synth's fixed 24-entity pool makes full relink
accidentally cheap at any file count). Each file carries one log()
literal; files pair up into two-member families whose mentions are
overlapping windows of the family's md5 hex (3-gram jaccard ~0.64 >=
0.6 -> one edge per family), so |norms| ~ n_files and |edges| ~
n_files/2. The ingest batch adds new families PLUS probe-hit members
(window of an OLD family -> links into a committed component), so the
batch exercises both the new x new and new x store paths and touches
old components.

Reported: summed mentions+edges+labels walls from lineage for the SAME
batch at 1x and 10x corpus (ratio ~1.0 = flat), plus the full
force-relink wall at 10x — the O(corpus) cost the probe path avoids.
Each run's Spark job count (``*_jobs``: the jobs the application's
status store gained during the run) is reported beside its wall: at
small batches the job count, not the data, sets the ingest latency.
So are the files and bytes it wrote (``*_files_written``,
``*_bytes_written``: files new or rewritten under the warehouse between
a walk before and one after the run; deletions are not counted).

Usage: python tools/bench_linking.py [base_files] [batch_files]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from gondar_spark.config import JobConfig  # noqa: E402
from gondar_spark.pipeline import Pipeline  # noqa: E402
from gondar_spark.session import build_session  # noqa: E402

_LINK_STAGES = ("mentions", "edges", "labels_incremental")


def _family_files(spark, fam_start: int, fam_end: int, member: int,
                  offset: int, tag: str):
    """One file per family in [fam_start, fam_end): mention = 20-char
    window of md5('fam:<f>') at ``offset`` (offsets 0 and 4 overlap in
    16 of 20 chars -> jaccard ~0.64, an edge; offsets 0 and 12 share 8
    -> no edge). Pure column expressions — generation is distributed."""
    n = fam_end - fam_start
    return (
        spark.range(fam_start, fam_end)
        .select(
            F.lit("benchrepo").alias("repo"),
            F.concat(F.lit(f"src/{tag}_m{member}_"),
                     F.col("id").cast("string"),
                     F.lit(".py")).alias("path"),
            F.lit("c0").alias("commit"),
            F.lit("python").alias("lang"),
            F.concat(
                F.lit('    log("'),
                F.substring(F.md5(F.concat(F.lit("fam:"),
                                           F.col("id").cast("string"))),
                            offset + 1, 20),
                F.lit('")'),
            ).alias("content"),
        )
        .repartition(max(8, n // 4000))
    )


def _link_wall(pipe: Pipeline, run_id: str, stages=_LINK_STAGES) -> float:
    recs = [r for r in pipe.lineage()
            if r.get("run_id") == run_id and r["stage"] in stages
            and "wall_s" in r]
    return round(sum(r["wall_s"] for r in recs), 3)


def _stage_walls(pipe: Pipeline, run_id: str, stages) -> dict:
    """Per-stage attribution for the summed walls — which link stage
    carries the corpus-proportional residual at the capacity edge (the
    50k campaign's open question) should be readable from the payload,
    not require a rerun."""
    return {s: _link_wall(pipe, run_id, stages=(s,)) for s in stages}


def _job_ids(spark) -> set:
    """Ids of the jobs in the application's status store (it retains
    the last ``spark.ui.retainedJobs``, more than one run starts)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _listing(root: str) -> dict:
    """{path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            st = os.stat(os.path.join(r, f))
            out[os.path.join(r, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _timed(spark, wh: str, fn):
    """(result, wall s, Spark jobs, files written, bytes written) of one
    call; the written files are those new or rewritten under ``wh``."""
    before, files = _job_ids(spark), _listing(wh)
    t0 = time.time()
    out = fn()
    wall = round(time.time() - t0, 3)
    written = [v[0] for p, v in _listing(wh).items() if files.get(p) != v]
    return (out, wall, len(_job_ids(spark) - before), len(written),
            sum(written))


def ingest_at_scale(spark, n_families: int, batch_families: int) -> dict:
    wh = tempfile.mkdtemp(prefix="gondar_link_wh_")
    corpus = tempfile.mkdtemp(prefix="gondar_link_corpus_")
    try:
        for member, off in ((0, 0), (1, 4)):
            _family_files(spark, 0, n_families, member, off, "seed") \
                .write.mode("append").parquet(corpus)
        pipe = Pipeline(spark, JobConfig(warehouse=wh, run_id="seed"))
        _, seed_wall, seed_jobs, seed_files, seed_bytes = _timed(
            spark, wh, lambda: pipe.run(source_path=corpus,
                                        incremental=True))

        # the ingest batch: new families (new x new pairs) + third
        # members of a slice of OLD families (store-probe hits that
        # touch committed components)
        _family_files(spark, n_families, n_families + batch_families,
                      0, 0, "newfam").write.mode("append").parquet(corpus)
        _family_files(spark, n_families, n_families + batch_families,
                      1, 4, "newfam").write.mode("append").parquet(corpus)
        _family_files(spark, 0, batch_families, 2, 2, "probe") \
            .write.mode("append").parquet(corpus)
        pipe.cfg = JobConfig(warehouse=wh, run_id="ingest")
        _, ingest_wall, ingest_jobs, ingest_files, ingest_bytes = _timed(
            spark, wh,
            lambda: pipe.run(source_path=corpus, incremental=True))
        link_wall = _link_wall(pipe, "ingest")
        # must read lineage while cfg.run_id is still "ingest" —
        # lineage() reads the current run's file
        link_stage_walls = _stage_walls(pipe, "ingest", _LINK_STAGES)
        mat_wall = _link_wall(pipe, "ingest", stages=("materialize",))
        n_norms = pipe.io.read("mentions").select("norm").distinct().count()
        n_edges = pipe.io.read("edges").count()
        touched = [r for r in pipe.lineage()
                   if r.get("run_id") == "ingest"
                   and r["stage"] == "labels_incremental"]

        # a re-run with nothing new: its cost is all job overhead
        pipe.cfg = JobConfig(warehouse=wh, run_id="noop")
        _, noop_wall, noop_jobs, noop_files, noop_bytes = _timed(
            spark, wh,
            lambda: pipe.run(source_path=corpus, incremental=True))

        # retraction: take the ingest batch back out — wall must track
        # the batch (dead norms + touched components), not the corpus
        remaining = spark.read.parquet(corpus).filter(
            ~F.col("path").startswith("src/newfam")
            & ~F.col("path").startswith("src/probe"))
        pipe.cfg = JobConfig(warehouse=wh, run_id="retract")
        rstats, retract_wall, retract_jobs, retract_files, retract_bytes = \
            _timed(spark, wh, lambda: pipe.retract(source_df=remaining))

        # the avoided cost: full relink of the grown corpus
        pipe.cfg = JobConfig(warehouse=wh, run_id="relink")
        _, full_wall, full_jobs, full_files, full_bytes = _timed(
            spark, wh, lambda: pipe.run(source_path=corpus, force=True))
        full_link_wall = round(sum(
            r["wall_s"] for r in pipe.lineage()
            if r.get("run_id") == "relink" and "wall_s" in r
            and r["stage"] in ("mentions", "edges", "labels")), 3)
        full_mat_wall = round(sum(
            r["wall_s"] for r in pipe.lineage()
            if r.get("run_id") == "relink" and "wall_s" in r
            and r["stage"] == "materialize"), 3)
        return {
            "families": n_families, "dict_norms": n_norms,
            "edges": n_edges,
            "touched_components": (touched[-1]["touched_components"]
                                   if touched else 0),
            "seed_run_wall_s": seed_wall,
            "seed_run_jobs": seed_jobs,
            "seed_run_files_written": seed_files,
            "seed_run_bytes_written": seed_bytes,
            "ingest_run_wall_s": ingest_wall,
            "ingest_run_jobs": ingest_jobs,
            "ingest_run_files_written": ingest_files,
            "ingest_run_bytes_written": ingest_bytes,
            "noop_run_wall_s": noop_wall,
            "noop_run_jobs": noop_jobs,
            "noop_run_files_written": noop_files,
            "noop_run_bytes_written": noop_bytes,
            "link_wall_s": link_wall,
            "link_stage_walls_s": link_stage_walls,
            "materialize_wall_s": mat_wall,
            "retract_wall_s": retract_wall,
            "retract_jobs": retract_jobs,
            "retract_files_written": retract_files,
            "retract_bytes_written": retract_bytes,
            "retract_dead_norms": rstats["dead_norms"],
            "full_relink_link_wall_s": full_link_wall,
            "full_relink_materialize_wall_s": full_mat_wall,
            "full_relink_run_wall_s": full_wall,
            "full_relink_run_jobs": full_jobs,
            "full_relink_run_files_written": full_files,
            "full_relink_run_bytes_written": full_bytes,
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(corpus, ignore_errors=True)


def main() -> None:
    base_families = int(sys.argv[1]) if len(sys.argv) > 1 else 15_000
    batch_families = int(sys.argv[2]) if len(sys.argv) > 2 else 1_500
    spark = build_session(
        app_name="gondar_bench_linking",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        # the campaign's FULL-RELINK baseline at 10x corpus (the
        # O(corpus) cost being measured against) needs headroom the
        # incremental paths don't: 32 concurrent write tasks over the
        # full re-blocked graph OOM an 8g single-JVM driver at the
        # 500k-family point
        extra_conf={"spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        small = ingest_at_scale(spark, base_families, batch_families)
        big = ingest_at_scale(spark, base_families * 10, batch_families)
        ratio = (round(big["link_wall_s"] / small["link_wall_s"], 2)
                 if small["link_wall_s"] else None)
        print(json.dumps({
            "batch_families": batch_families,
            "at_1x": small,
            "at_10x": big,
            "link_wall_ratio_10x": ratio,
            "materialize_wall_ratio_10x": round(
                big["materialize_wall_s"] / small["materialize_wall_s"], 2)
            if small["materialize_wall_s"] else None,
            "retract_wall_ratio_10x": round(
                big["retract_wall_s"] / small["retract_wall_s"], 2)
            if small["retract_wall_s"] else None,
            "incremental_vs_full_relink_speedup_10x": round(
                big["full_relink_link_wall_s"] / big["link_wall_s"], 2)
            if big["link_wall_s"] else None,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
