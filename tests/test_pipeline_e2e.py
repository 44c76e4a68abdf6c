"""Golden end-to-end: full pipeline on a seeded synthetic corpus.

Gates (BASELINE.md / /root/repo/BASELINE.json):
  * triple-level precision AND recall >= 0.95 vs golden fixtures,
  * per-row sha256(content) equality on the source pass,
  * canonicalization reproduces the planted alias clusters exactly,
  * idempotent resume from the last committed snapshot.
"""

import os

import pytest
from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.eval import precision_recall
from gondar_spark.operators.source import verify_source_hashes
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import (
    SynthConfig,
    build_entity_pool,
    expected_entity_of,
    generate_source_df,
    golden_hashes_df,
    golden_triples_df,
)

SCFG = SynthConfig(n_files=150)


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    cfg = JobConfig(warehouse=wh, run_id="e2e")
    p = Pipeline(spark, cfg)
    src = generate_source_df(spark, SCFG, partitions=8)
    p.run(source_df=src)
    return p


def test_triple_precision_recall(spark, pipe):
    golden = golden_triples_df(spark, SCFG, partitions=8)
    extracted = pipe.io.read("triples_raw")
    p, r = precision_recall(extracted, golden)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # chunk-level agreement too (provenance correctness)
    p2, r2 = precision_recall(extracted, golden,
                              keys=["subj", "pred", "obj", "chunk_id"])
    assert p2 >= 0.95 and r2 >= 0.95, (p2, r2)


def test_source_sha256_invariant(spark, pipe):
    golden = golden_hashes_df(spark, SCFG, partitions=8)
    src = pipe.io.read(pipe.cfg.source_table)
    assert verify_source_hashes(src, golden).count() == 0


def test_canonicalization_matches_planted_clusters(spark, pipe):
    pool = build_entity_pool(SCFG)
    aliases = pipe.io.read("aliases").collect()
    # group observed aliases by pipeline entity_id and by planted cluster
    by_entity: dict[str, set] = {}
    for row in aliases:
        by_entity.setdefault(row["entity_id"], set()).add(row["alias"])
    for entity_id, surfs in by_entity.items():
        clusters = {expected_entity_of(s, pool) for s in surfs}
        assert len(clusters) == 1, (
            f"entity {entity_id} mixes planted clusters {clusters}: {surfs}")
    # and no planted cluster is split across pipeline entities
    cluster_to_entities: dict[int, set] = {}
    for row in aliases:
        cl = expected_entity_of(row["alias"], pool)
        cluster_to_entities.setdefault(cl, set()).add(row["entity_id"])
    for cl, ents in cluster_to_entities.items():
        assert len(ents) == 1, f"cluster {cl} split into {ents}"


def test_entities_table_consistent(pipe):
    entities = pipe.io.read("entities")
    # canonical_form is the min norm == entity_id for merged clusters
    bad = entities.filter(F.col("canonical_form") != F.col("entity_id")).count()
    assert bad == 0
    assert entities.filter(F.col("n_mentions") <= 0).count() == 0


def test_triples_deduped(pipe):
    t = pipe.io.read("triples")
    assert t.count() == t.select("subj", "pred", "obj").distinct().count()


def test_quarantine_empty_and_lineage_written(pipe):
    assert pipe.io.read("quarantine").count() == 0
    stages = {r["stage"] for r in pipe.lineage()}
    assert {"source", "triples_raw", "mentions", "edges", "labels",
            "materialize"} <= stages


def test_lineage_bytes_match_committed_files(pipe):
    """Each stage record's ``bytes`` for a table is what its commit put
    on disk: every file under the table's dir except the manifest."""
    logged = {}
    for r in pipe.lineage():
        logged.update(r.get("bytes") or {})
    assert {pipe.cfg.source_table, "source_hashes", "triples_raw",
            "mentions", "edges", "labels", "triples", "entities",
            "aliases"} <= set(logged)
    for table, nbytes in logged.items():
        root = os.path.join(pipe.cfg.warehouse, table)
        on_disk = sum(os.path.getsize(os.path.join(r, f))
                      for r, _d, files in os.walk(root) for f in files
                      if f != "_gondar_commit.json")
        assert nbytes == on_disk > 0, table


def test_resume_skips_and_recomputes_missing(spark, pipe):
    # checksum of final triples
    def checksum():
        return pipe.io.read("triples").agg(
            F.coalesce(F.bit_xor(F.xxhash64("subj", "pred", "obj")), F.lit(0))
        ).collect()[0][0]

    before = checksum()
    # full resume: nothing executes
    executed = pipe.run()
    assert not any(executed.values())
    # kill after stage 4: drop labels + materialize outputs, resume
    for t in ("labels", "triples", "entities", "aliases"):
        pipe.io.drop(t)
    executed = pipe.run()
    assert executed["labels"] and executed["materialize"]
    assert not executed["edges"] and not executed["mentions"]
    assert checksum() == before


def test_durable_knob_outputs_identical(spark, tmp_path):
    """Round-6 durability knob (round-5 verdict #4): a one-shot build
    with durable_link_state=False (the default) must produce BIT-EQUAL
    triples/entities/aliases to a durable build — it only skips
    committing the incremental-ingest state."""
    src = generate_source_df(spark, SynthConfig(n_files=60), partitions=4)
    fast = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh_fast"), run_id="f"))
    fast.run(source_df=src)
    durable = Pipeline(spark, JobConfig(
        warehouse=str(tmp_path / "wh_dur"), run_id="d",
        durable_link_state=True))
    durable.run(source_df=src)
    for t in ("triples", "entities", "aliases", "mentions", "edges",
              "labels"):
        a, b = fast.io.read(t), durable.io.read(t)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t
    # the knob's whole point: no link-state commits on the fast path
    for t in ("link_signatures", "link_done", "mat_done", "entity_ids"):
        assert durable.io.exists(t), t
        assert not fast.io.exists(t), t
    # and a later incremental run on the fast warehouse still works: it
    # falls back to a full relink ONCE (committing the state), then the
    # warehouse is durable
    grown = generate_source_df(spark, SynthConfig(n_files=80), partitions=4)
    fast.run(source_df=grown, incremental=True)
    for t in ("link_signatures", "link_done", "mat_done", "entity_ids"):
        assert fast.io.exists(t), t
    durable.run(source_df=grown, incremental=True)
    for t, cols in (("mentions", ["surface", "lang", "norm"]),
                    ("edges", ["norm_a", "norm_b"]),
                    ("labels", ["norm", "component"])):
        # select: the incremental path's labels come out (component, norm)
        # — join-key reordering, same rows — and exceptAll is positional
        a = fast.io.read(t).select(*cols)
        b = durable.io.read(t).select(*cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t
