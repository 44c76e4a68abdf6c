"""Incremental retraction (Pipeline.retract): removing files must leave
the warehouse exactly as if the remaining corpus had been built from
scratch — linking tables identically (they are history-independent), and
materialize outputs vs a same-ledger full recompute (stable ids are
deliberately history-dependent). Covers the hard cases: a component
SPLIT (dead bridge norm), a surviving singleton that must keep its
published id against a claiming fragment, dead norms leaving the
band store, crash replay, and the migration of an older link-store
layout."""

import os

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
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="r1")
    pipe = Pipeline(spark, cfg)
    synth = generate_source_df(spark, SynthConfig(n_files=60), partitions=4)
    full = synth.unionByName(
        _src(spark, _win_files([0, 2, 4, 6, 8, 12, 14])))
    pipe.run(source_df=full, incremental=True)
    old_entities = _set(pipe.io.read("entities"), ["entity_id"])

    remaining = synth.filter(
        F.xxhash64("path") % 5 != 0   # drop ~1/5 of the synth files too
    ).unionByName(_src(spark, _win_files([0, 2, 6, 8, 12, 14])))
    stats = pipe.retract(source_df=remaining)
    assert stats["removed_files"] > 1
    assert stats["dead_norms"] >= 1        # w4's window norm died
    assert stats["touched_components"] >= 1

    scratch = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh2"), run_id="scratch"))
    scratch.run(source_df=remaining, incremental=True)
    for table, cols in _LINK:
        assert _set(pipe.io.read(table), cols) == \
            _set(scratch.io.read(table), cols), f"{table} != scratch"
    # band store: dead norms are gone, surviving norms keep their bands
    assert _set(pipe.io.read("link_bands"), ["norm", "band_key"]) == \
        _set(scratch.io.read("link_bands"), ["norm", "band_key"])

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
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="s1")
    pipe = Pipeline(spark, cfg)
    pipe.run(source_df=_src(spark, _win_files([0, 2, 4, 6])),
             incremental=True)
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
    # retract then ingest, back to back through the shared materialize,
    # stays exact against a same-ledger full recompute
    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "reingest")
    for t, _cols in _OUT:
        assert got[t] == want[t], f"{t} after retract + re-ingest"


def test_retract_crash_replay(spark, tmp_path, durable_base):
    """Kill the retraction between the linking-table rewrites and the
    ledger prunes: the replay must converge to the same state (every
    derived table is a pure function of old triples_raw + removed keys,
    and ledgers are pruned last)."""
    from tests.test_incremental_linking import _crash_on

    cfg = JobConfig(warehouse=durable_base(_win_files([0, 2, 4, 6, 12, 14]),
                                           tmp_path / "wh"),
                    run_id="c1")
    pipe = Pipeline(spark, cfg)
    remaining = _src(spark, _win_files([0, 2, 6, 12, 14]))

    restore = _crash_on(pipe.io, "write", "labels")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.retract(source_df=remaining)
    restore()
    pipe.retract(source_df=remaining)

    scratch = Pipeline(spark, JobConfig(
        warehouse=durable_base(_win_files([0, 2, 6, 12, 14]),
                               tmp_path / "wh2"), run_id="scratch"))
    for table, cols in _LINK:
        assert _set(pipe.io.read(table), cols) == \
            _set(scratch.io.read(table), cols), f"{table} after replay"
    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "crash")
    for t, _cols in _OUT:
        assert got[t] == want[t], f"{t} after replay"

    # a second retract with the same corpus is a clean no-op
    assert pipe.retract(source_df=remaining)["removed_files"] == 0



@pytest.mark.parametrize("table", ["edges", "triples"])
def test_retract_crash_after_labels_replays(spark, tmp_path, table,
                                           durable_base):
    """Kill the retraction after its labels write: in the edges
    compaction, or in the output writes. The replay sees labels
    already without the dead norms and must still converge to the
    scratch build and the same-ledger full recompute."""
    from tests.test_incremental_linking import _crash_on

    cfg = JobConfig(warehouse=durable_base(_win_files([0, 2, 4, 6, 12, 14]),
                                           tmp_path / "wh"),
                    run_id="c2")
    pipe = Pipeline(spark, cfg)
    remaining = _src(spark, _win_files([0, 2, 6, 12, 14]))

    restore = _crash_on(pipe.io, "write", table)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.retract(source_df=remaining)
    restore()
    pipe.retract(source_df=remaining)

    scratch = Pipeline(spark, JobConfig(
        warehouse=durable_base(_win_files([0, 2, 6, 12, 14]),
                               tmp_path / "wh2"), run_id="scratch"))
    for t, cols in _LINK:
        assert _set(pipe.io.read(t), cols) == \
            _set(scratch.io.read(t), cols), f"{t} after replay"
    got = _snapshot(pipe)
    want = _full_recompute_snapshot(spark, pipe, tmp_path, "crash2")
    for t, _cols in _OUT:
        assert got[t] == want[t], f"{t} after replay"


def _to_prefix_layout(pipe):
    """Rewrite a durable warehouse's link store in the older layout: a
    ``link_bands`` base and one segment partitioned by a band-key prefix
    (``_bp``), beside a ``link_signatures`` table partitioned by an
    md5(norm) prefix (``_np``)."""
    from gondar_spark.operators import blocking

    cfg, io = pipe.cfg, pipe.io
    rows = io.read("link_bands").collect()
    bands = pipe.spark.createDataFrame(rows, "norm string, band_key string") \
        .withColumn("_bp", F.concat(F.lit("p"),
                                    F.substring("band_key", 1, 3)))
    first = F.col("band_key").startswith("0:")
    io.write(bands.filter(first), "link_bands", partition_by=["_bp"])
    io.append(bands.filter(~first), "link_bands", partition_by=["_bp"])
    io.write(blocking.minhash_signature_df(
        io.read("mentions"), cfg.minhash_hashes, cfg.extractor_seed,
        cfg.shingle_size).withColumn("_np", F.concat(F.lit("p"), F.substring(
            F.md5(F.col("norm").cast("binary")), 1, 2))),
        "link_signatures", partition_by=["_np"])
    assert "_bp" in io.read("link_bands").columns
    assert io.segments("link_bands")


def test_prefix_layout_store_migrates_on_ingest_and_retract(
        spark, tmp_path, durable_base):
    """A warehouse whose link store has the older prefix-partitioned
    layout is migrated once, by the first ingest or retract() that reads
    it: both then equal a scratch warehouse, and neither ``_bp`` nor
    ``link_signatures`` remains."""
    base = _win_files([0, 2, 4, 6, 12, 14])
    for op, files in (("ingest", [0, 2, 4, 6, 8, 12, 14]),
                      ("retract", [0, 2, 6, 12, 14])):
        cfg = JobConfig(warehouse=durable_base(base, tmp_path / op),
                        run_id=op)
        pipe = Pipeline(spark, cfg)
        _to_prefix_layout(pipe)
        corpus = _src(spark, _win_files(files))
        if op == "ingest":
            pipe.run(source_df=corpus, incremental=True)
        else:
            assert pipe.retract(source_df=corpus)["dead_norms"] >= 1

        assert "link_store_migrated" in [r["stage"] for r in pipe.lineage()]
        assert pipe.io.read("link_bands").columns == ["norm", "band_key"]
        assert not pipe.io.exists("link_signatures")
        assert not os.path.exists(os.path.join(cfg.warehouse,
                                               "link_signatures"))
        scratch = Pipeline(spark, JobConfig(
            warehouse=durable_base(_win_files(files),
                                   tmp_path / f"{op}_scratch"),
            run_id="scratch"))
        for t, cols in [*_LINK, ("link_bands", ["norm", "band_key"])]:
            assert _set(pipe.io.read(t), cols) == \
                _set(scratch.io.read(t), cols), f"{op}: {t} != scratch"
        got = _snapshot(pipe)
        want = _full_recompute_snapshot(spark, pipe, tmp_path, op)
        for t, _cols in _OUT:
            assert got[t] == want[t], f"{op}: {t} != full recompute"


def test_retract_after_ingest_crash_keeps_unreflected_edges(spark, tmp_path):
    """An ingest killed between the edges append and the labels write
    leaves edge segments the labels manifest does not reflect. A
    retraction that runs next must fold them into its touched-component
    CC (as the next ingest would), not mark them reflected unseen: the
    follow-up ingest must then converge to a scratch build, merges of
    the crashed batch included."""
    from tests.test_incremental_linking import _crash_on

    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="x1")
    pipe = Pipeline(spark, cfg)
    pipe.run(source_df=_src(spark, _win_files([2, 4, 20, 30])),
             incremental=True)

    restore = _crash_on(pipe.io, "write", "labels")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(source_df=_src(spark, _win_files([0, 2, 4, 20, 22, 30])),
                 incremental=True)
    restore()
    assert pipe._unreflected_edge_segments()

    remaining = _src(spark, _win_files([0, 2, 4, 20, 22]))
    pipe.retract(source_df=remaining)
    pipe.run(source_df=remaining, incremental=True)

    scratch = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh2"), run_id="scratch"))
    scratch.run(source_df=remaining, incremental=True)
    for table, cols in _LINK[1:]:
        assert _set(pipe.io.read(table), cols) == \
            _set(scratch.io.read(table), cols), f"{table} != scratch"
    assert pipe.io.read("entities").count() == \
        scratch.io.read("entities").count()


@pytest.mark.parametrize("mode", ["source_df", "source_path"])
def test_retract_prunes_the_source_tables(spark, tmp_path, mode):
    """retract() removes the files from the configured source table and
    from source_hashes — re-registering the source table when given the
    corpus's path — so a later incremental run without a source cannot
    re-extract a retracted file."""
    import os

    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="s1",
                    source_table="corpus")
    pipe = Pipeline(spark, cfg)
    full = _src(spark, _win_files([0, 2, 4, 12]))
    remaining = _src(spark, _win_files([0, 2, 12]))
    if mode == "source_path":
        full_dir, rest_dir = str(tmp_path / "full"), str(tmp_path / "rest")
        full.write.parquet(full_dir)
        remaining.write.parquet(rest_dir)
        pipe.run(source_path=full_dir, incremental=True)
        pipe.retract(source_path=rest_dir)
        assert (pipe.io.commit_meta("corpus")["external_path"]
                == os.path.abspath(rest_dir))
    else:
        pipe.run(source_df=full, incremental=True)
        pipe.retract(source_df=remaining)

    gone = F.col("path") == "w4.py"
    for table in ("corpus", "source_hashes"):
        assert pipe.io.read(table).filter(gone).count() == 0, table
    assert pipe.io.read("source_hashes").count() == 3
    pipe.run(incremental=True)
    assert pipe.io.read("triples_raw").filter(gone).count() == 0
    assert pipe.io.read("triples").filter(gone).count() == 0


def test_retract_keeps_source_partitioning(spark, tmp_path):
    """retract() prunes a copied source table into a snapshot with the
    lang partitioning its build gave it, holding the remaining files."""
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="p1")
    pipe = Pipeline(spark, cfg)
    remaining = _src(spark, _win_files([0, 2, 12]))
    pipe.run(source_df=_src(spark, _win_files([0, 2, 4, 12])),
             incremental=True)
    pipe.retract(source_df=remaining)

    table = cfg.source_table
    assert pipe.io.commit_meta(table)["partition_by"] == ["lang"]
    assert os.path.isdir(os.path.join(cfg.warehouse, table, "lang=python"))
    cols = ["repo", "path", "commit", "lang", "content"]
    assert _set(pipe.io.read(table), cols) == _set(remaining, cols)

