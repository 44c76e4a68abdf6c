"""Regression tests for the round-1 ADVICE findings: bool env config,
crash-safe snapshot swap, quarantine persistence on zero-triple runs,
metric row accounting, and deterministic / TakeOrdered top-k."""

from __future__ import annotations

import json
import os
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.operators.extract import _extract_micro_batch
from gondar_spark.operators.topk import top_k_by_count
from gondar_spark.pipeline import Pipeline
from gondar_spark.sources.tables import TableIO, _COMMIT
from gondar_spark.synth import SynthConfig, generate_source_df


def test_from_env_bool_fields(monkeypatch):
    for raw, expected in [("false", False), ("0", False), ("no", False),
                          ("true", True), ("1", True), ("YES", True)]:
        monkeypatch.setenv("GONDAR_LINK_LANG_AWARE", raw)
        cfg = JobConfig.from_env()
        assert cfg.link_lang_aware is expected, (raw, cfg.link_lang_aware)
    monkeypatch.delenv("GONDAR_LINK_LANG_AWARE")
    monkeypatch.setenv("GONDAR_CHUNK_LINES", "32")
    assert JobConfig.from_env().chunk_lines == 32


def test_tableio_swap_recovery(spark, tmp_path):
    """A crash between moving the old snapshot aside and installing the
    new one must not lose the committed table: recovery restores the
    aside directory."""
    wh = str(tmp_path / "wh")
    io = TableIO(spark, wh, use_iceberg=False)
    df = spark.range(5).select(F.col("id").cast("long"))
    io.write(df, "t")
    assert io.read("t").count() == 5

    # simulate the crash window: old renamed aside, new never arrived
    final = os.path.join(wh, "t")
    aside = final + ".old-" + uuid.uuid4().hex[:8]
    os.rename(final, aside)
    assert not io.exists("t")

    io2 = TableIO(spark, wh, use_iceberg=False)   # recovery runs at init
    assert io2.exists("t")
    assert io2.read("t").count() == 5
    assert not os.path.exists(aside)

    # crash AFTER the swap: aside is stale and must be deleted, not restored
    io2.write(spark.range(7).select(F.col("id").cast("long")), "t")
    stale = final + ".old-deadbeef"
    os.makedirs(stale)
    with open(os.path.join(stale, _COMMIT), "w") as f:
        json.dump({"table": "t"}, f)
    io3 = TableIO(spark, wh, use_iceberg=False)
    assert not os.path.exists(stale)
    assert io3.read("t").count() == 7


def test_incremental_persists_quarantine_without_new_triples(spark, tmp_path):
    """Files whose extraction fails (quarantine rows, zero triples) must
    be persisted by the incremental run — and not duplicated by later
    incremental runs (A15: never silently drop)."""
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="q",
                    extractor_max_retries=1)
    from gondar_spark.extraction.spec import poison_extractor

    pipe = Pipeline(spark, cfg, extractor=poison_extractor)

    base = generate_source_df(spark, SynthConfig(n_files=30), partitions=2)
    pipe.run(source_df=base)
    assert pipe.io.read("quarantine").count() == 0

    poison = spark.createDataFrame(
        [("org0/repo", "src/poison.py", "c0", "python", "POISON def x():")],
        ["repo", "path", "commit", "lang", "content"],
    )
    grown = base.unionByName(poison)
    executed = pipe.run(source_df=grown, incremental=True)
    assert executed["triples_raw"]  # quarantine write happened
    quar = pipe.io.read("quarantine")
    assert quar.count() == 1
    assert quar.first()["path"] == "src/poison.py"
    # triples unchanged (the poisoned file yielded none)
    inc = [r for r in pipe.lineage() if r["stage"] == "triples_raw_incremental"]
    assert inc[-1]["new_rows"] == 0 and inc[-1]["new_quarantine"] == 1

    # a second incremental run re-extracts the zero-triple file but must
    # not stack a duplicate quarantine row
    pipe.run(source_df=grown, incremental=True)
    assert pipe.io.read("quarantine").count() == 1


def test_metric_row_counts_triples_not_errors():
    pdf = pd.DataFrame(
        {
            "repo": ["r", "r"],
            "path": ["ok.py", "bad.py"],
            "commit": ["c1", "c2"],
            "lang": ["python", "python"],
            "base_chunk": [0, 0],
            "unit": ["def alpha(ctx):\nclass Beta:", None],
        }
    )
    cols = _extract_micro_batch(pdf, chunk_lines=64, max_retries=0)
    # simulate extract_triples' metric append logic
    n_triples = sum(1 for k in cols["kind"] if k != "error")
    assert n_triples == 2  # alpha + Beta; the __error__ row is excluded


def test_top_k_by_count_plan_and_ties(spark):
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 5 + [("c",)] * 3, ["k"]
    )
    top = top_k_by_count(df, "k", k=2)
    rows = top.collect()
    # deterministic tie-break: a before b at equal counts
    assert [(r["k"], r["cnt"]) for r in rows] == [("a", 5), ("b", 5)]
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


# ---- round-3 code-review regressions ----------------------------------------
def test_incremental_commits_ledger_after_data(spark, tmp_path, monkeypatch):
    """Crash consistency: in the incremental stage write, extract_done must
    be the LAST table committed — a ledger committed before the data would
    let a crash between the commits permanently skip files whose triples
    were never written."""
    from gondar_spark.config import JobConfig
    from gondar_spark.pipeline import Pipeline
    from gondar_spark.synth import SynthConfig, generate_source_df

    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="ord")
    pipe = Pipeline(spark, cfg)
    base = generate_source_df(spark, SynthConfig(n_files=30), partitions=4)
    pipe.run(source_df=base)

    events = []
    io_cls = type(pipe.io)
    orig = {m: getattr(io_cls, m) for m in ("write", "append")}

    def spy(method):
        def wrapped(self, df, name, *a, **kw):
            events.append(("start", method, name))
            out = orig[method](self, df, name, *a, **kw)
            events.append(("end", method, name))
            return out
        return wrapped

    for m in orig:
        monkeypatch.setattr(io_cls, m, spy(m))
    bigger = generate_source_df(spark, SynthConfig(n_files=40), partitions=4)
    pipe.run(source_df=bigger, incremental=True)
    # the ledger is a segment APPEND that happens strictly AFTER the data
    # commit (and never rides inside the stage's overlapped data group:
    # every data commit started before it has ended before it)
    i_data = next(i for i, (ev, _m, name) in enumerate(events)
                  if ev == "end" and name == "triples_raw")
    i_ledger = next(i for i, (ev, m, name) in enumerate(events)
                    if ev == "start" and m == "append"
                    and name == "extract_done")
    assert i_data < i_ledger
    data = {"triples_raw", "quarantine", "extract_metrics"}
    started, ended = ([name for e, _m, name in events[:i_ledger]
                       if e == ev and name in data]
                      for ev in ("start", "end"))
    assert sorted(started) == sorted(ended)


def test_http_transport_has_no_lossy_request_batch():
    """A loop-based request_batch on the HTTP adapter would re-bill every
    completed prompt when a later one fails; the extractor must take the
    unbatched path (exactly one billed call per prompt on the happy path)."""
    import json

    from gondar_spark.extraction.llm import BatchLLMExtractor, HttpChatTransport

    assert not hasattr(HttpChatTransport, "request_batch")

    def fake_post(url, headers, body, timeout_s):
        msgs = json.loads(body)["messages"]
        user = next(m["content"] for m in msgs if m["role"] == "user")
        head, _, rest = user.partition("):\n")
        lang = head.split("Reference (", 1)[1].split(",", 1)[0]
        reference = rest.rsplit("\n\nMotivation:", 1)[0]
        from gondar_spark.extraction.llm import HEADERS
        from gondar_spark.extraction.spec import extract_from_content

        facts = extract_from_content(lang, reference)
        data = {h: [f[i] for f in facts] for i, h in enumerate(HEADERS)}
        content = json.dumps({"headers": list(HEADERS),
                              "satisfy": [h for h in HEADERS if data[h]],
                              "data": data})
        return 200, json.dumps(
            {"choices": [{"message": {"role": "assistant",
                                      "content": content}}],
             "usage": {"prompt_tokens": 1, "completion_tokens": 1}})

    ext = BatchLLMExtractor(
        transport_factory=lambda: HttpChatTransport(
            "https://ep.example/v1", "k", http_post=fake_post),
        prompt_batch_size=4,
    )
    rows = [("python", f"def f{i}(ctx):", f"r:f{i}.py", 0) for i in range(9)]
    results = ext.extract_batch(rows)
    assert all(not isinstance(r, Exception) for r in results)
    assert ext.usage["n_requests"] == 9  # one per prompt, none re-billed


def test_cosine_null_embedding_stays_out_of_topk(spark):
    from gondar_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    got = cosine_topk(df, [1.0, 0.0], k=3).collect()
    # NULL embedding must not outrank the true negative-similarity row
    assert [r["vec_id"] for r in got][:2] == [1, 2]
    assert got[0]["cosine"] == 1.0 and got[1]["cosine"] == -1.0


def test_zero_copy_incremental_hashes_only_new_files(spark, tmp_path):
    from gondar_spark.config import JobConfig
    from gondar_spark.pipeline import Pipeline
    from gondar_spark.synth import SynthConfig, generate_source_df

    src = generate_source_df(spark, SynthConfig(n_files=30), partitions=4)
    ext_dir = str(tmp_path / "corpus")
    src.write.parquet(ext_dir)
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="zci")
    pipe = Pipeline(spark, cfg)
    pipe.run(source_path=ext_dir)
    n0 = pipe.io.read("source_hashes").count()

    # unchanged corpus, incremental: the source stage SKIPS (no full
    # re-hash of the registered corpus)
    executed = pipe.run(source_path=ext_dir, incremental=True)
    assert executed["source"] is False
    assert pipe.io.read("source_hashes").count() == n0

    # one new file appended to the external corpus: exactly one new hash
    extra = spark.createDataFrame(
        [("orgz/repo", "src/new.py", "c1", "python", "def zc(ctx):")],
        ["repo", "path", "commit", "lang", "content"],
    )
    extra.write.mode("append").parquet(ext_dir)
    executed = pipe.run(source_path=ext_dir, incremental=True)
    assert executed["source"] is True
    assert pipe.io.read("source_hashes").count() == n0 + 1


def test_root_scope_cap_force_releases_oldest(spark, monkeypatch):
    from gondar_spark import session

    session.release_caches()
    monkeypatch.setattr(session, "MAX_LIVE_CACHES", 2)
    root = session.Scope.current()
    dfs = [root.persist(spark.range(10 + i)) for i in range(3)]
    assert len(root._entries) == 2  # oldest force-released
    assert root._entries[0] is not dfs[0]
    assert dfs[0].storageLevel.useMemory is False
    session.release_caches()


def test_top_k_per_group_default_tiebreak_skips_map_columns(spark):
    from pyspark.sql import functions as F

    from gondar_spark.operators.topk import top_k_per_group

    df = spark.createDataFrame(
        [("g", 2.0, 10, {"k": "v"}), ("g", 1.0, 11, {"k": "w"})],
        "grp string, score double, rid long, payload map<string,string>",
    )
    got = top_k_per_group(df, "grp", "score", 1).collect()  # must not raise
    assert [r["rid"] for r in got] == [10]


def test_cc_never_frees_foreign_checkpoints(spark):
    """The freed-ids come straight off CC's own plan (LogicalRDD.rdd.id),
    so a checkpoint created by another caller in the same session is
    never touched."""
    from pyspark.sql import functions as F

    from gondar_spark.operators.cc import connected_components

    foreign = spark.range(5000).localCheckpoint()
    edges = [(f"a{i}", f"a{i + 1}") for i in range(100)]
    df = spark.createDataFrame(edges, ["norm_a", "norm_b"])
    connected_components(df, max_iter=30).count()
    assert foreign.count() == 5000  # blocks intact, no missing-block error


def test_extraction_runs_once_per_stage_write(spark, tmp_path):
    """The triples_raw stage writes three tables filtered from ONE
    extraction plan; without the raw persist each write re-ran the whole
    mapInPandas extraction (3x the expensive operator — on the LLM path,
    3x the bill). Counted via a worker-side marker file: total extracted
    rows across all extract_batch calls must equal the unit count ONCE."""
    from gondar_spark.config import JobConfig
    from gondar_spark.pipeline import Pipeline
    from gondar_spark.synth import SynthConfig, generate_source_df

    from gondar_spark.extraction.testing import CountingBatchExtractor

    marker = str(tmp_path / "calls.log")
    open(marker, "w").close()
    cfg = JobConfig(warehouse=str(tmp_path / "wh"), run_id="once")
    pipe = Pipeline(
        spark, cfg, batch_extractor=CountingBatchExtractor(marker))
    src = generate_source_df(spark, SynthConfig(n_files=50), partitions=4)
    pipe.run(source_df=src)

    n_units_extracted = sum(int(x) for x in open(marker) if x.strip())
    # ground truth: unit count for the same corpus (chunking is
    # deterministic); anything above it means the stage re-extracted
    from gondar_spark.operators.chunk import prepare_extraction_units

    n_units = prepare_extraction_units(src, cfg.chunk_lines,
                                       pass_through_chars=cfg.max_chunk_chars
                                       ).count()
    assert n_units_extracted == n_units, (n_units_extracted, n_units)

    # incremental with new files: the new units extract once as well
    open(marker, "w").close()
    bigger = generate_source_df(spark, SynthConfig(n_files=60), partitions=4)
    pipe.run(source_df=bigger, incremental=True)
    n_inc = sum(int(x) for x in open(marker) if x.strip())
    new_files = bigger.join(src, ["repo", "path", "commit"], "left_anti")
    n_new_units = prepare_extraction_units(
        new_files, cfg.chunk_lines,
        pass_through_chars=cfg.max_chunk_chars).count()
    assert n_inc == n_new_units, (n_inc, n_new_units)
