"""Round-5 verdict #2: the incremental/retract paths force-broadcast
batch-scope frames; a bulk backlog or mass takedown must DROP the hints
(AQE picks the strategy) instead of OOMing — and produce identical
results either way."""

from __future__ import annotations

from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df


def _set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


def test_oversized_batch_drops_hints_and_matches(spark, tmp_path):
    base = generate_source_df(spark, SynthConfig(n_files=40), partitions=4)
    grown = generate_source_df(spark, SynthConfig(n_files=70), partitions=4)

    # gated pipeline: broadcast_row_limit=0 -> every batch counts as
    # oversized, every hint is dropped
    gated = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh_gated"), run_id="g",
        broadcast_row_limit=0))
    gated.run(source_df=base, incremental=True)
    gated.run(source_df=grown, incremental=True)
    gate_recs = [r for r in gated.lineage() if r["stage"] == "broadcast_gate"]
    assert gate_recs and gate_recs[0]["hints_dropped"]

    # hinted pipeline: default limit, hints kept
    hinted = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh_hinted"), run_id="h"))
    hinted.run(source_df=base, incremental=True)
    hinted.run(source_df=grown, incremental=True)
    assert not any(r["stage"] == "broadcast_gate" for r in hinted.lineage())

    for t, cols in (("mentions", ["surface", "lang", "norm"]),
                    ("edges", ["norm_a", "norm_b"]),
                    ("labels", ["norm", "component"]),
                    ("triples", ["subj", "pred", "obj", "n_provenances"]),
                    ("entities", ["entity_id", "n_mentions", "n_aliases"])):
        assert _set(gated.io.read(t), cols) == _set(hinted.io.read(t), cols), t

    # retraction through both gates
    remaining = grown.filter(F.xxhash64("path") % 4 != 0)
    sg = gated.retract(source_df=remaining)
    sh = hinted.retract(source_df=remaining)
    assert sg["removed_files"] == sh["removed_files"] > 0
    assert [r for r in gated.lineage() if r["stage"] == "broadcast_gate"]
    for t, cols in (("mentions", ["surface", "lang", "norm"]),
                    ("labels", ["norm", "component"]),
                    ("triples", ["subj", "pred", "obj", "n_provenances"])):
        assert _set(gated.io.read(t), cols) == _set(hinted.io.read(t), cols), t
