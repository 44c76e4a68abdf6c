"""Round-5 incremental linking + stable entity ids (verdict asks #1/#2):

  * incremental pipeline ingest (probe the committed band store,
    CC only on touched components) must equal the from-scratch pipeline
    on mentions / edges / labels;
  * entity ids must SURVIVE corpus growth: a component keeps its
    first-assigned id when a lexicographically-smaller member arrives,
    and a merge of two pre-existing components keeps the minimum prior
    id deterministically, recording the merge in lineage;
  * cc.incremental_components fuzz-equals connected_components over the
    union on random graphs (bridges, new nodes, cycles).
"""

import inspect
import random

import pytest
from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.operators.cc import connected_components, incremental_components
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df

# sliding 12-char windows over a non-repeating alphabet: shift-2 windows
# share 10 chars -> 3-gram jaccard 0.667 >= 0.6 (edge), shift-4 share 8
# -> 0.43 (no edge). Chain topology is fully controlled by which windows
# exist (verified empirically against the real blocking+scoring stack).
_BASE = "abcdefghijklmnopqrstuvwxyz0123456789"


def _win(o: int) -> str:
    return _BASE[o:o + 12]


def _src(spark, files: list[tuple[str, str]]):
    """files = [(path, mention), ...] -> source df, one log() literal per
    file (the python literal-mention rule)."""
    rows = [
        ("orgx/repo", path, "c0", "python", f'    log("{m}")')
        for path, m in files
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")


def _set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_incremental_link_equals_full_recompute(spark, tmp_path):
    """Grow a synthetic corpus 80 -> 120 files; the incremental run (which
    takes the O(new) probe path — asserted via lineage) must produce the
    same mentions / edges / labels as a from-scratch pipeline on the
    grown corpus."""
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="inc")
    pipe = Pipeline(spark, cfg)
    base = generate_source_df(
        spark, SynthConfig(n_files=80), partitions=4).unionByName(
        _src(spark, [("w2.py", _win(2)), ("w4.py", _win(4))]))
    pipe.run(source_df=base, incremental=True)

    # growth adds new files AND new linkable norms: w0 extends the
    # committed w2-w4 component (a store-probe hit), w8/w10 form a brand
    # new one (new x new pairs)
    big = generate_source_df(
        spark, SynthConfig(n_files=120), partitions=4).unionByName(
        _src(spark, [("w2.py", _win(2)), ("w4.py", _win(4)),
                     ("w0.py", _win(0)), ("w8.py", _win(8)),
                     ("w10.py", _win(10))]))
    pipe.run(source_df=big, incremental=True)
    stages = [r["stage"] for r in pipe.lineage()]
    assert "labels_incremental" in stages  # the probe path actually ran

    cfg2 = JobConfig(warehouse=str(tmp_path / "wh2"), run_id="scratch")
    pipe2 = Pipeline(spark, cfg2)
    pipe2.run(source_df=big)

    for table, cols in [
        ("mentions", ["surface", "lang", "norm"]),
        ("edges", ["norm_a", "norm_b"]),
        ("labels", ["norm", "component"]),
    ]:
        inc = _set(pipe.io.read(table), cols)
        full = _set(pipe2.io.read(table), cols)
        assert inc == full, f"{table}: incremental != from-scratch"
    # outputs are structurally identical (ids may differ BY DESIGN:
    # incremental keeps first-assigned ids)
    assert pipe.io.read("entities").count() == pipe2.io.read("entities").count()
    assert pipe.io.read("aliases").count() == pipe2.io.read("aliases").count()
    assert pipe.io.read("triples").count() == pipe2.io.read("triples").count()

    # an unchanged corpus re-runs with zero link work
    executed = pipe.run(source_df=big, incremental=True)
    assert not executed["triples_raw"]


def test_entity_id_stability_across_merge(spark, tmp_path):
    """The hard case from the round-4 verdict: two pre-existing
    components merge via a bridge batch that ALSO introduces a new
    lexicographically-smallest member. Raw CC labels churn (new min);
    the published entity id must not: the surviving id is the minimum
    FIRST-ASSIGNED id, the merge is recorded, and untouched entities
    keep their ids."""
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="merge")
    pipe = Pipeline(spark, cfg)

    # run 1: comp1 = {w2, w4} (id E1 = w2-norm), comp2 = {w10, w12}
    # (id E2 = w10-norm), plus an untouched singleton-ish pair far away
    run1 = _src(spark, [
        ("a.py", _win(2)), ("b.py", _win(4)),
        ("c.py", _win(10)), ("d.py", _win(12)),
    ])
    pipe.run(source_df=run1, incremental=True)
    e1 = _win(2)   # "cdefghijklmn"
    e2 = _win(10)  # "klmnopqrstuv"
    ids1 = {r["entity_id"] for r in pipe.io.read("entities").collect()}
    assert e1 in ids1 and e2 in ids1 and len(ids1) == 2

    # run 2 (incremental): bridge w6/w8 merges the components; w0 is a
    # NEW smaller member, so the raw CC label becomes w0-norm — the
    # published id must stay E1 = min(E1, E2)
    run2 = _src(spark, [
        ("e.py", _win(6)), ("f.py", _win(8)), ("g.py", _win(0)),
    ])
    both = run1.unionByName(run2)
    pipe.run(source_df=both, incremental=True)

    ents = pipe.io.read("entities").collect()
    ids2 = {r["entity_id"] for r in ents}
    assert ids2 == {e1}, f"expected surviving id {e1!r}, got {ids2}"
    # raw CC label (component min) is w0-norm — proves the ledger, not
    # the label, drives the published id
    labels = pipe.io.read("labels")
    assert labels.agg(F.min("component")).collect()[0][0] == _win(0)
    # all 7 aliases land on the surviving entity
    aliases = pipe.io.read("aliases").collect()
    assert {r["entity_id"] for r in aliases} == {e1}
    assert len({r["alias"] for r in aliases}) == 7
    # merge recorded in lineage with the absorbed id
    recs = [r for r in pipe.lineage() if r["stage"] == "entity_ids"
            and r.get("merges")]
    assert recs and any(
        m["absorbed_id"] == e2 and m["entity_id"] == e1
        for m in recs[-1]["merge_sample"]
    )
    # triples rewrite linkable objects to the surviving id
    objs = {r["obj"] for r in pipe.io.read("triples").collect()}
    assert objs == {e1}

    # run 3: same corpus again — nothing changes, ids stay put
    pipe.run(source_df=both, incremental=True)
    assert {r["entity_id"] for r in pipe.io.read("entities").collect()} == {e1}


def test_entity_id_stable_under_smaller_newcomer(spark, tmp_path,
                                                 durable_base):
    """No merge — just a new lexicographically-smaller member joining one
    component. min-label CC would relabel; the ledger must not."""
    ab = [("a.py", _win(2)), ("b.py", _win(4))]
    cfg = JobConfig(warehouse=durable_base(ab, tmp_path / "wh"),
                    run_id="newmin")
    pipe = Pipeline(spark, cfg)
    run1 = _src(spark, ab)
    e1 = _win(2)
    assert {r["entity_id"] for r in pipe.io.read("entities").collect()} == {e1}

    both = run1.unionByName(_src(spark, [("c.py", _win(0))]))
    pipe.run(source_df=both, incremental=True)
    assert {r["entity_id"] for r in pipe.io.read("entities").collect()} == {e1}
    # the raw label DID change underneath — that's what the ledger absorbs
    assert (pipe.io.read("labels").agg(F.min("component")).collect()[0][0]
            == _win(0))


def _crash_on(io, method: str, table: str):
    """Wrap io.<method> to raise whenever it is called for ``table`` —
    simulates a hard kill at that exact commit point. The table argument
    is bound by the wrapped method's signature, so it fires for
    ``write(df, name)`` and ``compact(name, df)`` alike. The returned
    ``restore()`` unwraps the method and fails if the crash never fired:
    a crash test whose crash never happened proves nothing."""
    real = getattr(io, method)
    sig = inspect.signature(real)
    fired = []

    def boom(*a, **kw):
        if sig.bind(*a, **kw).arguments["name"] == table:
            fired.append(table)
            raise RuntimeError(f"simulated crash at {method}({table})")
        return real(*a, **kw)

    setattr(io, method, boom)

    def restore():
        setattr(io, method, real)
        assert fired, f"simulated crash at {method}({table}) never fired"

    return restore


def test_crash_on_binds_the_table_argument(spark, tmp_path):
    """_crash_on fires for a method called ``(name, df)`` — compact — and
    its restore() fails when the wrapped call never happened."""
    from gondar_spark.sources.tables import TableIO

    io = TableIO(spark, str(tmp_path / "wh"), use_iceberg=False)
    df = spark.createDataFrame([("a", "b")], "norm_a string, norm_b string")
    io.write(df, "edges")
    restore = _crash_on(io, "compact", "edges")
    io.compact("labels", None)  # another table: passes through
    with pytest.raises(RuntimeError,
                       match=r"simulated crash at compact\(edges\)"):
        io.compact("edges", df)
    restore()
    assert io.read("edges").count() == 1

    restore = _crash_on(io, "append", "edges")
    with pytest.raises(AssertionError, match="never fired"):
        restore()


def _expected_state(spark, tmp_path, source_df):
    cfg = JobConfig(warehouse=str(tmp_path / "wh_ref"), run_id="ref")
    ref = Pipeline(spark, cfg)
    ref.run(source_df=source_df)
    return ref


def test_link_crash_before_ledger_advance_replays(spark, tmp_path,
                                                  durable_base):
    """Kill the run at its first output write, after linking: the
    batch's edges / signatures / mentions / labels are committed but
    mat_done has not advanced. The next run must re-link the pending
    files WITHOUT duplicating anything and converge to the from-scratch
    state."""
    ab = [("a.py", _win(2)), ("b.py", _win(4))]
    cfg = JobConfig(warehouse=durable_base(ab, tmp_path / "wh"),
                    run_id="r1")
    pipe = Pipeline(spark, cfg)
    run1 = _src(spark, ab)

    both = run1.unionByName(_src(spark, [("c.py", _win(0)),
                                         ("d.py", _win(6))]))
    restore = _crash_on(pipe.io, "write", "triples")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(source_df=both, incremental=True)
    restore()

    pipe.run(source_df=both, incremental=True)  # replay
    ref = _expected_state(spark, tmp_path, both)
    for table, cols in [("mentions", ["surface", "lang", "norm"]),
                        ("edges", ["norm_a", "norm_b"]),
                        ("labels", ["norm", "component"])]:
        got = pipe.io.read(table)
        assert _set(got, cols) == _set(ref.io.read(table), cols), table
        assert got.count() == got.select(cols).distinct().count(), \
            f"{table}: replay stacked duplicates"


def test_link_crash_before_labels_folds_unreflected_edges(spark, tmp_path,
                                                          durable_base):
    """Kill the run between the edges append and the labels write: the
    labels manifest doesn't list the new segment, so the next run must
    fold it into its incremental CC input (unreflected-segment path)."""
    ab = [("a.py", _win(2)), ("b.py", _win(4))]
    cfg = JobConfig(warehouse=durable_base(ab, tmp_path / "wh"),
                    run_id="r1")
    pipe = Pipeline(spark, cfg)
    run1 = _src(spark, ab)

    both = run1.unionByName(_src(spark, [("c.py", _win(0)),
                                         ("d.py", _win(6))]))
    restore = _crash_on(pipe.io, "write", "labels")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(source_df=both, incremental=True)
    restore()
    # the crash left an edge segment the labels manifest doesn't reflect
    assert pipe._unreflected_edge_segments()

    pipe.run(source_df=both, incremental=True)
    assert not pipe._unreflected_edge_segments()
    ref = _expected_state(spark, tmp_path, both)
    for table, cols in [("mentions", ["surface", "lang", "norm"]),
                        ("edges", ["norm_a", "norm_b"]),
                        ("labels", ["norm", "component"])]:
        got = pipe.io.read(table)
        assert _set(got, cols) == _set(ref.io.read(table), cols), table
        assert got.count() == got.select(cols).distinct().count(), \
            f"{table}: replay stacked duplicates"


def test_incremental_components_fuzz(spark):
    """Random graphs: incremental_components(old_labels, old, new) must
    equal connected_components(old ∪ new) — bridges, cycles, brand-new
    nodes, empty splits included. Each trial also removes a random node
    set (possibly empty, possibly outside every edge — a retraction that
    touches no component) and must equal connected_components over the
    surviving edges: splits, vanished components, removed endpoints of
    new edges."""
    rng = random.Random(1001)
    for trial in range(5):
        n = rng.randint(8, 40)
        edges = [
            (f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}")
            for _ in range(rng.randint(4, 60))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        cut = rng.randint(0, len(edges))
        old, new = edges[:cut], edges[cut:]
        to_df = lambda e: spark.createDataFrame(
            e or [("x", "x")], "norm_a string, norm_b string"
        ).filter(F.col("norm_a") != F.col("norm_b"))
        old_df, new_df = to_df(old), to_df(new)
        full = _set(connected_components(
            old_df.unionByName(new_df), 20), ["norm", "component"])
        old_labels = connected_components(old_df, 20)
        inc, _touched = incremental_components(old_labels, old_df, new_df, 20)
        assert _set(inc, ["norm", "component"]) == full, f"trial {trial}"

        gone = {f"n{i:03d}" for i in rng.sample(range(n + 5),
                                                rng.randint(0, 6))}
        survivors = [(a, b) for a, b in edges
                     if a not in gone and b not in gone]
        want = _set(connected_components(to_df(survivors), 20),
                    ["norm", "component"])
        removed = spark.createDataFrame(
            [(g,) for g in sorted(gone)] or [("x",)], "norm string"
        ).filter(F.col("norm") != "x")
        inc_rm, _touched = incremental_components(
            old_labels, old_df, new_df, 20, removed=removed)
        assert _set(inc_rm, ["norm", "component"]) == want, \
            f"trial {trial}, removed {sorted(gone)}"


def test_ivf_append_drift_gate(spark, tmp_path):
    """append_to_ivf_index: appended index rows equal a one-shot build
    over the union (same centroids), and the drift gate flags re-train
    when growth/skew cross the thresholds."""
    import json
    import os

    from gondar_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.kmeans_train(emb, k=8, n_iter=2)

    one = str(tmp_path / "one")
    similarity.build_ivf_index(emb, cents, one)

    two = str(tmp_path / "two")
    similarity.build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), cents, two)
    report = similarity.append_to_ivf_index(
        emb.filter(F.col("vec_id") % 2 != 0), two)
    rows_one = _set(spark.read.parquet(f"{one}/cells"), ["vec_id", "cell"])
    rows_two = _set(spark.read.parquet(f"{two}/cells"), ["vec_id", "cell"])
    assert rows_one == rows_two
    # roughly-doubling a balanced index: growth gate below default 1.0
    # factor -> no retrain flag, but the report is recorded
    assert report["appended"] > 0
    assert os.path.exists(f"{two}/drift.jsonl")

    # a second append pushes total past (1 + growth_factor) x build size
    report2 = similarity.append_to_ivf_index(emb, two)
    assert report2["retrain"]
    with open(f"{two}/drift.jsonl") as f:
        recs = [json.loads(line) for line in f]
    assert recs[-1]["retrain"]


def test_force_after_ingest_equals_scratch_build(spark, tmp_path,
                                                 durable_base):
    """run(force=True) on a durable warehouse after an ingest relinks
    FRESH: its link tables are snapshots equal to a scratch durable
    build of the grown corpus, and its outputs equal a full materialize
    under the same entity ledger."""
    from tests.test_incremental_materialize import (
        _full_recompute_snapshot,
        _snapshot,
    )

    ab = [("a.py", _win(2)), ("b.py", _win(4))]
    pipe = Pipeline(spark, JobConfig(
        warehouse=durable_base(ab, tmp_path / "wh"), run_id="f1"))
    both = _src(spark, ab + [("c.py", _win(0)), ("d.py", _win(10))])
    pipe.run(source_df=both, incremental=True)
    executed = pipe.run(source_df=both, force=True)
    assert all(executed.values()), executed

    scratch = Pipeline(spark, JobConfig(warehouse=str(tmp_path / "wh_s"),
                                        run_id="s1"))
    scratch.run(source_df=both, incremental=True)
    for table, cols in [("mentions", ["surface", "lang", "norm"]),
                        ("edges", ["norm_a", "norm_b"]),
                        ("labels", ["norm", "component"]),
                        ("link_bands", ["norm", "band_key"]),
                        ("mat_done", ["repo", "path", "commit"])]:
        got = pipe.io.read(table)
        assert _set(got, cols) == _set(scratch.io.read(table), cols), table
        assert got.count() == got.select(cols).distinct().count(), table
        assert pipe.io.segments(table) == [], table
    assert _snapshot(pipe) == _full_recompute_snapshot(
        spark, pipe, tmp_path, "force")


def test_build_crash_at_edges_resumes_to_scratch_build(spark, tmp_path):
    """A one-shot build killed at its edges commit: the resume re-links
    the committed mentions without appending to them and commits exactly
    the tables and rows of a scratch build."""
    import os

    src = _src(spark, [("a.py", _win(2)), ("b.py", _win(4)),
                       ("c.py", _win(0)), ("d.py", _win(20))])
    pipe = Pipeline(spark, JobConfig(warehouse=str(tmp_path / "wh"),
                                     run_id="k1"))
    restore = _crash_on(pipe.io, "write", "edges")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(source_df=src)
    restore()
    assert pipe.io.exists("mentions") and not pipe.io.exists("edges")
    executed = pipe.run(source_df=src)
    assert not executed["triples_raw"] and not executed["mentions"]
    assert executed["edges"] and executed["labels"] and executed["materialize"]

    ref = _expected_state(spark, tmp_path, src)

    def tables(p):
        return sorted(t for t in os.listdir(p.cfg.warehouse)
                      if not t.startswith("_"))

    assert tables(pipe) == tables(ref)
    for table in ("mentions", "edges", "labels", "triples", "entities",
                  "aliases"):
        got, want = pipe.io.read(table), ref.io.read(table)
        assert got.exceptAll(want).count() == 0, table
        assert want.exceptAll(got).count() == 0, table
