"""Streaming KG construction (run_streaming_kg_ingest): a file-source
stream drained through foreachBatch incremental ingests must converge to
the same warehouse as a one-shot batch build over the same files.

Linking tables (triples_raw / mentions / edges / labels) are
history-independent, so they must EXACTLY equal the one-shot build.
Materialize outputs go through the stable-id ledger, which is
deliberately history-dependent across merges (a merged component keeps
its first-assigned id), so they are pinned against a same-ledger full
recompute — the same contract tests/test_incremental_materialize.py
pins for batch ingests.
"""

import os

import pytest
from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.errors import StageError
from gondar_spark.pipeline import Pipeline
from gondar_spark.streaming.jobs import run_streaming_kg_ingest
from gondar_spark.synth import SynthConfig, generate_source_df

from tests.test_incremental_linking import _src, _win
from tests.test_incremental_materialize import (
    _OUT,
    _full_recompute_snapshot,
    _snapshot,
)

_LINK_TABLES = [
    ("triples_raw", ["subj", "pred", "obj", "kind", "repo", "path",
                     "commit", "chunk_id"]),
    ("mentions", ["surface", "lang", "norm"]),
    ("edges", ["norm_a", "norm_b"]),
    ("labels", ["norm", "component"]),
]


def _set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_streaming_kg_ingest_equals_batch(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    wh = str(tmp_path / "wh_stream")
    args = dict(
        warehouse=wh,
        checkpoint_dir=str(tmp_path / "ckpt"),
        corpus_dir=str(tmp_path / "corpus"),
        max_files_per_trigger=2,
    )
    # wave 1: two components (w2-w4, w8-w10) + synth background
    wave1 = generate_source_df(
        spark, SynthConfig(n_files=40), partitions=2).unionByName(
        _src(spark, [("w2.py", _win(2)), ("w4.py", _win(4)),
                     ("w8.py", _win(8)), ("w10.py", _win(10))]))
    wave1.write.mode("append").parquet(src_dir)
    batches1 = run_streaming_kg_ingest(spark, src_dir, **args)
    assert len(batches1) >= 2, "expected multiple micro-batches"

    # wave 2: w6 BRIDGES the two committed components (the hard merge
    # case) + new files; same checkpoint -> only new files are delivered
    _src(spark, [("w6.py", _win(6)), ("w12.py", _win(12)),
                 ("w14.py", _win(14))]).write.mode("append").parquet(src_dir)
    batches2 = run_streaming_kg_ingest(spark, src_dir, **args)
    assert batches2, "second drain delivered no batches"

    pipe = Pipeline(spark, JobConfig(warehouse=wh, run_id="post"))
    recs = [r for r in pipe.lineage(all_runs=True)
            if r["stage"] == "materialize" and r.get("incremental")]
    assert recs and not recs[-1].get("skipped"), \
        "streaming batches did not take the incremental materialize path"

    # linking state == one-shot batch build over the union
    ref = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh_batch"), run_id="batch"))
    ref.run(source_df=spark.read.parquet(src_dir))
    for table, cols in _LINK_TABLES:
        assert _set(pipe.io.read(table), cols) == \
            _set(ref.io.read(table), cols), f"{table}: streaming != batch"

    # materialize outputs == same-ledger full recompute
    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "stream")
    for t, cols in _OUT:
        assert got[t] == want[t], f"{t}: streaming != full recompute"
        df = pipe.io.read(t)
        assert df.count() == df.select(cols).distinct().count()

    # the merge survived with a first-assigned id: both w-norms share one
    # entity and lineage recorded the absorption
    w_norms = [_win(2), _win(4), _win(6), _win(8), _win(10)]
    comp = (pipe.io.read("entity_ids")
            .filter(F.col("norm").isin(w_norms)))
    latest = comp.groupBy("norm").agg(
        F.max_by("entity_id", "_seq").alias("eid"))
    assert latest.select("eid").distinct().count() == 1


def test_streaming_refuses_flat_files_beside_batch_dirs(spark, tmp_path):
    """A corpus_dir mixing flat parquet files with batch_id= directories
    is refused before the stream starts: no batch runs, and neither the
    warehouse, the checkpoint nor the corpus is touched."""
    src_dir = str(tmp_path / "src")
    corpus = tmp_path / "corpus"
    df = _src(spark, [("w2.py", _win(2)), ("w4.py", _win(4))])
    df.write.parquet(src_dir)
    df.write.parquet(str(corpus / "batch_id=0"))
    df.coalesce(1).write.parquet(str(tmp_path / "flat"))
    [part] = [n for n in os.listdir(tmp_path / "flat")
              if n.endswith(".parquet")]
    os.rename(tmp_path / "flat" / part, corpus / "flat.parquet")

    def listing(d):
        return sorted((r, tuple(sorted(fs))) for r, _ds, fs in os.walk(d))

    before = listing(corpus)
    with pytest.raises(StageError, match="flat files"):
        run_streaming_kg_ingest(
            spark, src_dir, warehouse=str(tmp_path / "wh"),
            checkpoint_dir=str(tmp_path / "ckpt"), corpus_dir=str(corpus))
    assert not (tmp_path / "wh").exists()
    assert not (tmp_path / "ckpt").exists()
    assert listing(corpus) == before
