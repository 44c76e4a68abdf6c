"""Incremental retraction (Pipeline.retract): removing files must leave
the warehouse exactly as if the remaining corpus had been built from
scratch — linking tables identically (they are history-independent), and
materialize outputs vs a same-ledger full recompute (stable ids are
deliberately history-dependent). Covers the hard cases: a component
SPLIT (dead bridge norm), a surviving singleton that must keep its
published id against a claiming fragment, dead norms leaving the
signature store, and crash replay."""

import pytest
from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df

from tests.test_incremental_linking import _src, _win
from tests.test_incremental_materialize import (
    _OUT,
    _full_recompute_snapshot,
    _snapshot,
)

_LINK = [
    ("triples_raw", ["subj", "pred", "obj", "kind", "repo", "path",
                     "commit", "chunk_id"]),
    ("mentions", ["surface", "lang", "norm"]),
    ("edges", ["norm_a", "norm_b"]),
    ("labels", ["norm", "component"]),
]


def _set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def _win_files(offsets):
    return [(f"w{o}.py", _win(o)) for o in offsets]


def test_retract_equals_scratch_build(spark, tmp_path):
    """Chain w0-w2-w4-w6-w8 plus pair w12-w14; removing w4 SPLITS the
    chain into {w0,w2} and {w6,w8}. Every linking table must equal a
    from-scratch build on the remaining corpus; materialize outputs a
    same-ledger full recompute; and the fragment holding the old id norm
    (w0's) keeps the published id while the other fragment gets a fresh
    one."""
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="r1",
                    durable_link_state=True)
    pipe = Pipeline(spark, cfg)
    synth = generate_source_df(spark, SynthConfig(n_files=60), partitions=4)
    full = synth.unionByName(
        _src(spark, _win_files([0, 2, 4, 6, 8, 12, 14])))
    pipe.run(source_df=full)
    old_entities = _set(pipe.io.read("entities"), ["entity_id"])

    remaining = synth.filter(
        F.xxhash64("path") % 5 != 0   # drop ~1/5 of the synth files too
    ).unionByName(_src(spark, _win_files([0, 2, 6, 8, 12, 14])))
    stats = pipe.retract(source_df=remaining)
    assert stats["removed_files"] > 1
    assert stats["dead_norms"] >= 1        # w4's window norm died
    assert stats["touched_components"] >= 1

    scratch = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh2"), run_id="scratch",
        durable_link_state=True))
    scratch.run(source_df=remaining)
    for table, cols in _LINK:
        assert _set(pipe.io.read(table), cols) == \
            _set(scratch.io.read(table), cols), f"{table} != scratch"
    # signature store: dead norms are gone, surviving norms present
    sig_norms = _set(pipe.io.read("link_signatures"), ["norm"])
    assert sig_norms == _set(scratch.io.read("link_signatures"), ["norm"])

    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "ret")
    for t, cols in _OUT:
        assert got[t] == want[t], f"{t}: retract != full recompute"
        df = pipe.io.read(t)
        assert df.count() == df.select(cols).distinct().count()

    # split semantics: old chain id (= min norm, w0's window) survives on
    # the fragment containing it; the other fragment got a fresh id
    ents = _set(pipe.io.read("entities"), ["entity_id"])
    assert _win(0) in {e[0] for e in ents}
    assert _win(6) in {e[0] for e in ents}   # fresh id for {w6, w8}
    # and no removed-file provenance survives anywhere
    assert pipe.io.read("triples_raw").filter(
        F.col("path") == "w4.py").count() == 0
    assert old_entities != ents


def test_retract_singleton_keeps_id_against_fragment(spark, tmp_path):
    """Chain w0-w2-w4-w6 (id = w0's norm). Removing w2's file kills the
    bridge norm: w0 survives as a SINGLETON while {w4, w6} stays a
    component that still claims the old id. The singleton must keep its
    published id (it IS the id norm); the fragment must take a fresh
    one — no two entities may share an id."""
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="s1",
                    durable_link_state=True)
    pipe = Pipeline(spark, cfg)
    pipe.run(source_df=_src(spark, _win_files([0, 2, 4, 6])))
    pipe.retract(source_df=_src(spark, _win_files([0, 4, 6])))

    ents = pipe.io.read("entities")
    ids = [r["entity_id"] for r in ents.collect()]
    assert len(ids) == len(set(ids)), "duplicate entity ids after split"
    assert _win(0) in ids                  # singleton kept its id
    assert _win(4) in ids                  # fragment got its CC label
    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "single")
    for t, _cols in _OUT:
        assert got[t] == want[t], f"{t} after singleton split"

    # a later INGEST must still resolve consistently (holder-aware rule
    # in the regular materialize path): re-linking w2 re-merges both
    # fragments and the singleton under one id again
    pipe.run(source_df=_src(spark, _win_files([0, 2, 4, 6])),
             incremental=True)
    ents2 = pipe.io.read("entities")
    ids2 = [r["entity_id"] for r in ents2.collect()]
    assert len(ids2) == len(set(ids2))
    w_aliases = pipe.io.read("aliases").filter(
        F.col("alias").isin([_win(0), _win(2), _win(4), _win(6)]))
    assert w_aliases.select("entity_id").distinct().count() == 1


def test_retract_crash_replay(spark, tmp_path):
    """Kill the retraction between the linking-table rewrites and the
    ledger prunes: the replay must converge to the same state (every
    derived table is a pure function of old triples_raw + removed keys,
    and ledgers are pruned last)."""
    from tests.test_incremental_linking import _crash_on

    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="c1",
                    durable_link_state=True)
    pipe = Pipeline(spark, cfg)
    pipe.run(source_df=_src(spark, _win_files([0, 2, 4, 6, 12, 14])))
    remaining = _src(spark, _win_files([0, 2, 6, 12, 14]))

    restore = _crash_on(pipe.io, "write", "labels")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.retract(source_df=remaining)
    restore()
    pipe.retract(source_df=remaining)

    scratch = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh2"), run_id="scratch",
        durable_link_state=True))
    scratch.run(source_df=remaining)
    for table, cols in _LINK:
        assert _set(pipe.io.read(table), cols) == \
            _set(scratch.io.read(table), cols), f"{table} after replay"
    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "crash")
    for t, _cols in _OUT:
        assert got[t] == want[t], f"{t} after replay"

    # a second retract with the same corpus is a clean no-op
    assert pipe.retract(source_df=remaining)["removed_files"] == 0


def test_retract_refuses_old_link_store_layout_before_writing(spark,
                                                              tmp_path):
    """A link_signatures store without the ``_np`` prefix column (the
    pre-partitioning layout) fails retract() up front with StageError —
    before this check the overlapped store compaction failed on the
    missing column AFTER mentions and edges were already rewritten.
    Every table's commit manifest must be untouched."""
    import os

    from gondar_spark.errors import StageError

    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="o1",
                    durable_link_state=True)
    pipe = Pipeline(spark, cfg)
    pipe.run(source_df=_src(spark, _win_files([0, 2, 4, 6])))
    pipe.io.write(pipe.io.read("link_signatures").drop("_np"),
                  "link_signatures")

    def manifests():
        return {t: pipe.io.commit_meta(t)
                for t in sorted(os.listdir(cfg.warehouse))
                if pipe.io.exists(t)}

    before = manifests()
    with pytest.raises(StageError, match="_np"):
        pipe.retract(source_df=_src(spark, _win_files([0, 2, 6])))
    assert manifests() == before
