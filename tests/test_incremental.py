"""File-level incremental resume (B12 anti-join), quarantine path, and a
giant-component CC stress test."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.operators.cc import connected_components
from gondar_spark.operators.extract import _extract_micro_batch
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df


def test_incremental_extracts_only_new_files(spark, tmp_path):
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="inc")
    pipe = Pipeline(spark, cfg)

    small = generate_source_df(spark, SynthConfig(n_files=80), partitions=4)
    pipe.run(source_df=small)
    t1 = pipe.io.read("triples_raw")
    n1 = t1.count()

    # grow the corpus: same generator, more files (first 80 identical)
    big = generate_source_df(spark, SynthConfig(n_files=120), partitions=4)
    executed = pipe.run(source_df=big, incremental=True)
    assert executed["triples_raw"]
    t2 = pipe.io.read("triples_raw")
    n2 = t2.count()
    assert n2 > n1
    # lineage records the incremental row delta
    inc = [r for r in pipe.lineage() if r["stage"] == "triples_raw_incremental"]
    assert inc and inc[-1]["new_rows"] == n2 - n1

    # equivalence: incremental result == from-scratch extraction
    cfg2 = JobConfig(warehouse=str(tmp_path / "wh2"), run_id="scratch")
    pipe2 = Pipeline(spark, cfg2)
    pipe2.run(source_df=big)
    scratch = pipe2.io.read("triples_raw")
    key = ["subj", "pred", "obj", "chunk_id"]
    assert t2.select(key).exceptAll(scratch.select(key)).count() == 0
    assert scratch.select(key).exceptAll(t2.select(key)).count() == 0

    # second incremental run with the same corpus: no new work
    executed = pipe.run(source_df=big, incremental=True)
    assert not executed["triples_raw"]


def test_incremental_ledger_zero_extractor_invocations(spark, tmp_path):
    """The done-file ledger: an unchanged corpus re-runs with ZERO
    extractor invocations — including files whose extraction yielded zero
    triples, which the pre-ledger anti-join on triples_raw re-extracted on
    every incremental run."""
    cfg = JobConfig(warehouse=str(tmp_path / "whl"), run_id="led")
    pipe = Pipeline(spark, cfg)
    base = generate_source_df(spark, SynthConfig(n_files=40), partitions=4)
    prose = spark.createDataFrame(
        [("orgx/repo", "docs/notes.txt", "c9", "python",
          "plain prose, no code symbols here")],
        ["repo", "path", "commit", "lang", "content"],
    )
    corpus = base.unionByName(prose)
    pipe.run(source_df=corpus)

    # zero-triple file: in the ledger, absent from triples_raw
    done = pipe.io.read("extract_done")
    n_done0 = done.count()
    assert done.filter(F.col("path") == "docs/notes.txt").count() == 1
    assert (pipe.io.read("triples_raw")
            .filter(F.col("path") == "docs/notes.txt").count() == 0)
    m0 = pipe.io.read("extract_metrics").count()
    assert m0 > 0

    executed = pipe.run(source_df=corpus, incremental=True)
    assert not executed["triples_raw"]
    rec = [r for r in pipe.lineage()
           if r["stage"] == "triples_raw_incremental"][-1]
    assert rec["n_todo"] == 0 and rec["new_rows"] == 0
    # zero extractor invocations: the per-batch __metric__ rows are the
    # invocation counter, and none were added
    assert pipe.io.read("extract_metrics").count() == m0

    # a genuinely new file extracts, advances the ledger AND the metrics
    extra = spark.createDataFrame(
        [("orgy/repo", "src/new.py", "c1", "python", "def newfn(ctx):")],
        ["repo", "path", "commit", "lang", "content"],
    )
    executed = pipe.run(source_df=corpus.unionByName(extra), incremental=True)
    assert executed["triples_raw"]
    assert pipe.io.read("extract_metrics").count() > m0
    assert pipe.io.read("extract_done").count() == n_done0 + 1


def test_zero_copy_source_registration(spark, tmp_path):
    """run(source_path=...) must not rewrite the corpus: the source table
    is a pointer manifest, the external data is untouched, and the final
    outputs equal the copying mode's."""
    import os

    src = generate_source_df(spark, SynthConfig(n_files=60), partitions=4)
    ext_dir = str(tmp_path / "external_corpus")
    src.write.partitionBy("lang").parquet(ext_dir)
    before = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(ext_dir) for f in fs
    )

    cfg = JobConfig(warehouse=str(tmp_path / "whz"), run_id="zc")
    pipe = Pipeline(spark, cfg)
    executed = pipe.run(source_path=ext_dir)
    assert executed["materialize"]

    # no full-corpus write: the source table dir holds ONLY the pointer
    src_dir = os.path.join(cfg.warehouse, cfg.source_table)
    assert os.listdir(src_dir) == ["_gondar_commit.json"]
    # the external data was read, never written
    after = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(ext_dir) for f in fs
    )
    assert after == before

    # outputs equal the copying mode bit-for-bit
    cfg2 = JobConfig(warehouse=str(tmp_path / "whc"), run_id="cp")
    pipe2 = Pipeline(spark, cfg2)
    pipe2.run(source_df=src)
    for t in ("triples", "entities", "aliases"):
        a, b = pipe.io.read(t), pipe2.io.read(t)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # resume: a second zero-copy run skips every stage
    assert not any(pipe.run(source_path=ext_dir).values())


def test_quarantine_rows_on_extractor_failure():
    """A poisoned unit (non-string) exhausts retries and lands in
    quarantine with provenance — never a silent drop (A15)."""
    pdf = pd.DataFrame(
        {
            "repo": ["r", "r"],
            "path": ["ok.py", "bad.py"],
            "commit": ["c1", "c2"],
            "lang": ["python", "python"],
            "base_chunk": [0, 0],
            "unit": ["def alpha(ctx):", None],  # None -> .split raises
        }
    )
    cols = _extract_micro_batch(pdf, chunk_lines=64, max_retries=2)
    rows = list(zip(cols["subj"], cols["pred"], cols["obj"], cols["kind"]))
    assert ("r:ok.py", "defines_fn", "alpha", "symbol") in rows
    quarantined = [r for r in rows if r[1] == "__error__"]
    assert len(quarantined) == 1 and quarantined[0][0] == "r:bad.py"


def test_cc_giant_component_with_hub(spark):
    """Star-with-chains topology: one hub node (hot entity analog) plus
    chains — a 400-node single component; canonical = min member."""
    edges = [("hub", f"n{i:03d}") for i in range(200)]
    edges += [(f"n{i:03d}", f"m{i:03d}") for i in range(200)]
    df = spark.createDataFrame(edges, ["norm_a", "norm_b"])
    labels = connected_components(df, max_iter=30)
    comps = labels.select("component").distinct().collect()
    assert [r["component"] for r in comps] == ["hub"]
    assert labels.count() == 401


def test_metric_rows_carry_partition_lineage(spark, tmp_path):
    """extract_metrics is per-PARTITION lineage: every batch metric row
    tags the physical partition that produced it, covering all input
    partitions — straggler/skew attribution after the fact."""
    import re

    from gondar_spark.config import JobConfig
    from gondar_spark.pipeline import Pipeline
    from gondar_spark.synth import SynthConfig, generate_source_df

    pipe = Pipeline(spark, JobConfig(warehouse=str(tmp_path / "wh"),
                                     run_id="plin"))
    pipe.run(source_df=generate_source_df(
        spark, SynthConfig(n_files=40), partitions=4))
    metrics = [r["metric"] for r in pipe.io.read("extract_metrics").collect()]
    pids = {int(m.group(1)) for m in
            (re.search(r"partition=(-?\d+)", s) for s in metrics) if m}
    assert pids and all(p >= 0 for p in pids)
    assert len(pids) >= 2  # multiple physical partitions represented


_RAW = ["subj", "pred", "obj", "kind", "repo", "path", "commit", "chunk_id"]


def _rows(df, cols):
    from collections import Counter

    return Counter(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("table", ["extract_metrics", "extract_done"])
def test_extract_crash_before_ledger_replays(spark, tmp_path, table,
                                            durable_base):
    """Kill an ingest after its data commit, before the extract_done
    append (at the metrics append or at the ledger append itself): the
    replay re-extracts the batch, and must neither stack its triples_raw
    rows a second time nor count a second provenance in triples."""
    from tests.test_incremental_linking import _crash_on, _src, _win
    from tests.test_incremental_materialize import (
        _full_recompute_snapshot,
        _snapshot,
    )

    ab = [("a.py", _win(2)), ("b.py", _win(4))]
    pipe = Pipeline(spark, JobConfig(
        warehouse=durable_base(ab, tmp_path / "wh"), run_id="x1"))
    run1 = _src(spark, ab)
    both = run1.unionByName(_src(spark, [("c.py", _win(0)),
                                         ("d.py", _win(6))]))
    restore = _crash_on(pipe.io, "append", table)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(source_df=both, incremental=True)
    restore()
    pipe.run(source_df=both, incremental=True)  # replay

    scratch = Pipeline(spark, JobConfig(warehouse=str(tmp_path / "wh2"),
                                        run_id="scratch"))
    scratch.run(source_df=both)
    assert (_rows(pipe.io.read("triples_raw"), _RAW)
            == _rows(scratch.io.read("triples_raw"), _RAW))
    assert _snapshot(pipe) == _full_recompute_snapshot(
        spark, pipe, tmp_path, "x")


def test_ingest_appends_one_triples_raw_segment(spark, tmp_path):
    """An ingest commits triples_raw as exactly one new segment and
    leaves its base snapshot as it was: O(batch) bytes, no rewrite."""
    import os

    pipe = Pipeline(spark, JobConfig(warehouse=str(tmp_path / "wh"),
                                     run_id="seg"))
    pipe.run(source_df=generate_source_df(
        spark, SynthConfig(n_files=30), partitions=2))
    base = pipe.io.commit_meta("triples_raw")
    base_files = sorted(os.listdir(os.path.join(pipe.cfg.warehouse,
                                                "triples_raw")))
    assert pipe.io.segments("triples_raw") == []

    pipe.run(source_df=generate_source_df(
        spark, SynthConfig(n_files=40), partitions=2), incremental=True)
    segs = pipe.io.segments("triples_raw")
    assert len(segs) == 1
    assert pipe.io.commit_meta("triples_raw") == base
    assert sorted(os.listdir(os.path.join(pipe.cfg.warehouse,
                                          "triples_raw"))) == base_files
    new_rows = [r for r in pipe.lineage()
                if r["stage"] == "triples_raw_incremental"][-1]["new_rows"]
    assert pipe.io.commit_meta(segs[0])["rows"] == new_rows > 0


# Spark jobs a no-op ingest of a registered corpus may run: the probes of
# the source and extraction todos and of the one pending set linking and
# materialize share, as measured on this test's corpus.
NOOP_INGEST_JOBS = 8


def test_noop_ingest_job_count(spark, tmp_path):
    """A re-run with nothing new to ingest asks committed metadata, not
    Spark: its job count is pinned (status-store count around the run)."""
    from tests.test_table_commits import _job_ids

    corpus = str(tmp_path / "corpus")
    generate_source_df(spark, SynthConfig(n_files=40, seed=5),
                       partitions=2).write.parquet(corpus)
    pipe = Pipeline(spark, JobConfig(warehouse=str(tmp_path / "wh"),
                                     run_id="n1"))
    pipe.run(source_path=corpus, incremental=True)
    generate_source_df(spark, SynthConfig(n_files=50, seed=5),
                       partitions=2).filter(
        ~F.col("path").isin(*[r[0] for r in spark.read.parquet(corpus)
                              .select("path").collect()])
    ).write.mode("append").parquet(corpus)
    pipe.run(source_path=corpus, incremental=True)   # one segment each

    before = _job_ids(spark)
    executed = pipe.run(source_path=corpus, incremental=True)
    n_jobs = len(_job_ids(spark) - before)
    assert not any(executed.values()), executed
    assert n_jobs <= NOOP_INGEST_JOBS, n_jobs


# Spark jobs a build of the same corpus may run, one-shot and durable
# (run(incremental=True) on an empty warehouse), as measured on this
# test's corpus before builds took the ingest's link step.
ONE_SHOT_BUILD_JOBS = 41
DURABLE_BUILD_JOBS = 48


@pytest.mark.parametrize("incremental,limit", [
    (False, ONE_SHOT_BUILD_JOBS), (True, DURABLE_BUILD_JOBS)])
def test_build_job_count(spark, tmp_path, incremental, limit):
    """A build is an ingest into empty link state: the empty link tables
    fold out of its plans, so it runs no more Spark jobs than the
    build-only stages it replaced (status-store count around the run)."""
    from tests.test_table_commits import _job_ids

    corpus = str(tmp_path / "corpus")
    generate_source_df(spark, SynthConfig(n_files=40, seed=5),
                       partitions=2).write.parquet(corpus)
    pipe = Pipeline(spark, JobConfig(warehouse=str(tmp_path / "wh"),
                                     run_id="b1"))
    before = _job_ids(spark)
    pipe.run(source_path=corpus, incremental=incremental)
    n_jobs = len(_job_ids(spark) - before)
    assert n_jobs <= limit, n_jobs
    assert pipe.io.exists("mat_done") == incremental
