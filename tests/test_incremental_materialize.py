"""Incremental materialize: an ingest's outputs must be EXACT-equal to
a full materialize over the same state — same stable-id ledger, same
mentions/labels — across merges, new provenance on untouched groups,
crash replays and no-change runs."""

import pytest
from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df

from tests.test_incremental_linking import _src, _win

_OUT = [
    ("triples", ["subj", "pred", "obj", "kind", "repo", "path", "commit",
                 "chunk_id", "n_provenances"]),
    ("entities", ["entity_id", "canonical_form", "n_aliases", "n_mentions"]),
    ("aliases", ["entity_id", "alias", "lang"]),
]


def _snapshot(pipe):
    return {
        t: {tuple(r) for r in pipe.io.read(t).select(*cols).collect()}
        for t, cols in _OUT
    }


def _full_recompute_snapshot(spark, pipe, tmp_path, tag):
    """Full materialize over the SAME warehouse state: copy the ledger
    so the stable-id resolution matches, then run _materialize, the one
    materialize of a warehouse with a ledger, in a scratch warehouse
    and snapshot its outputs."""
    import shutil

    scratch = str(tmp_path / f"wh_full_{tag}")
    shutil.copytree(pipe.cfg.warehouse, scratch)
    ref = Pipeline(spark, JobConfig(warehouse=scratch, run_id="ref"))
    # drop the outputs so nothing of them survives into the snapshot
    for t in ("triples", "entities", "aliases"):
        ref.io.drop(t)
    ref._materialize(ref.io.read("mentions"), ref.io.read("labels"),
                     ref.io.read("triples_raw"))
    return _snapshot(ref)


def test_incremental_materialize_exact_equal(spark, tmp_path):
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="m1")
    pipe = Pipeline(spark, cfg)
    base = generate_source_df(
        spark, SynthConfig(n_files=60), partitions=4).unionByName(
        _src(spark, [("w2.py", _win(2)), ("w4.py", _win(4)),
                     ("w10.py", _win(10)), ("w12.py", _win(12))]))
    pipe.run(source_df=base, incremental=True)

    # ingest 1: a MERGE (bridge w6/w8), a new smallest member (w0), new
    # provenance rows for existing synth groups, brand-new synth files
    grown = generate_source_df(
        spark, SynthConfig(n_files=90), partitions=4).unionByName(
        _src(spark, [("w2.py", _win(2)), ("w4.py", _win(4)),
                     ("w10.py", _win(10)), ("w12.py", _win(12)),
                     ("w0.py", _win(0)), ("w6.py", _win(6)),
                     ("w8.py", _win(8))]))
    pipe.run(source_df=grown, incremental=True)
    recs = [r for r in pipe.lineage()
            if r["stage"] == "materialize" and r.get("incremental")]
    assert recs and not recs[-1].get("skipped"), \
        "incremental materialize path did not run"
    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "g1")
    for t, _cols in _OUT:
        assert got[t] == want[t], f"{t}: incremental != full recompute"

    # ingest 2: pure provenance growth (same mentions, no link change)
    grown2 = grown.unionByName(_src(spark, [("w2b.py", _win(2))]))
    pipe.run(source_df=grown2, incremental=True)
    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "g2")
    for t, _cols in _OUT:
        assert got[t] == want[t], f"{t} after ingest 2"

    # no-change run: outputs untouched, stage logs a skip
    pipe.run(source_df=grown2, incremental=True)
    recs = [r for r in pipe.lineage() if r["stage"] == "materialize"]
    assert recs[-1].get("skipped")


def test_incremental_materialize_crash_replay(spark, tmp_path,
                                              durable_base):
    """Kill the run before mat_done advances (outputs already written):
    the replay must converge to the same exact outputs, no duplicates."""
    from tests.test_incremental_linking import _crash_on

    ab = [("a.py", _win(2)), ("b.py", _win(4))]
    cfg = JobConfig(warehouse=durable_base(ab, tmp_path / "wh"),
                    run_id="m1")
    pipe = Pipeline(spark, cfg)
    run1 = _src(spark, ab)

    both = run1.unionByName(_src(spark, [("c.py", _win(0)),
                                         ("d.py", _win(6))]))
    restore = _crash_on(pipe.io, "append", "mat_done")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(source_df=both, incremental=True)
    restore()
    pipe.run(source_df=both, incremental=True)

    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "crash")
    for t, cols in _OUT:
        assert got[t] == want[t], f"{t} after crash replay"
        df = pipe.io.read(t)
        assert df.count() == df.select(cols).distinct().count()


def test_link_crash_before_ledger_replays_outputs(spark, tmp_path,
                                                  durable_base):
    """Kill an ingest at its triples write: extraction and linking are
    committed, materialize did not finish. The replay finds nothing left
    to extract, re-links without appending, and materialize must still
    take the batch in from the mat_done ledger."""
    from tests.test_incremental_linking import _crash_on

    ab = [("a.py", _win(2)), ("b.py", _win(4))]
    cfg = JobConfig(warehouse=durable_base(ab, tmp_path / "wh"),
                    run_id="m1")
    pipe = Pipeline(spark, cfg)
    run1 = _src(spark, ab)

    both = run1.unionByName(_src(spark, [("c.py", _win(0)),
                                         ("d.py", _win(6))]))
    restore = _crash_on(pipe.io, "write", "triples")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(source_df=both, incremental=True)
    restore()
    executed = pipe.run(source_df=both, incremental=True)
    assert executed["materialize"]
    assert _snapshot(pipe) == _full_recompute_snapshot(
        spark, pipe, tmp_path, "link_crash")


def test_full_stage_fallback_replays_a_killed_ingest(spark, tmp_path):
    """A lang-aware ingest relinks fresh; killed at its mentions write,
    after its extraction commit, the replay extracts nothing new and
    must still relink, because extract_done holds files mat_done lacks
    — 4 mention and triple rows, as in a scratch build, not the 2 of
    the base."""
    from tests.test_incremental_linking import _crash_on

    def config(wh, run_id):
        return JobConfig(warehouse=str(tmp_path / wh), run_id=run_id,
                         link_lang_aware=True)

    pipe = Pipeline(spark, config("wh", "l1"))
    run1 = _src(spark, [("a.py", _win(2)), ("b.py", _win(4))])
    pipe.run(source_df=run1, incremental=True)
    both = run1.unionByName(_src(spark, [("c.py", _win(0)),
                                         ("d.py", _win(6))]))
    restore = _crash_on(pipe.io, "write", "mentions")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(source_df=both, incremental=True)
    restore()
    executed = pipe.run(source_df=both, incremental=True)
    assert not executed["triples_raw"] and executed["materialize"]

    scratch = Pipeline(spark, config("wh_scratch", "s1"))
    scratch.run(source_df=both)
    for t, cols in (("mentions", ["surface", "lang", "norm"]),
                    ("triples", ["subj", "pred", "path"])):
        got = {tuple(r) for r in pipe.io.read(t).select(*cols).collect()}
        want = {tuple(r) for r in scratch.io.read(t).select(*cols).collect()}
        assert got == want and len(got) == 4, t
    assert _snapshot(pipe) == _full_recompute_snapshot(
        spark, pipe, tmp_path, "fallback")
    # up to date: the next ingest recomputes nothing past its source copy
    again = pipe.run(source_df=both, incremental=True)
    assert not any(v for k, v in again.items() if k != "source"), again
