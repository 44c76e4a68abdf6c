"""What a commit already knows, TableIO reports instead of Spark: an
append returns its row count and commits nothing when it turns out
empty, and a read takes each directory's schema from the footer Spark
wrote into its part files, so it starts no schema-inference job."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gondar_spark.sources.tables import TableIO


def _rows(spark, lo: int, hi: int):
    return spark.range(lo, hi, numPartitions=4).select(
        "id", F.md5(F.col("id").cast("string")).alias("h"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("de").alias("lang"))


def _job_ids(spark) -> set:
    """Ids of the jobs in the application's status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _manifests(warehouse: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(warehouse):
        if "_gondar_commit.json" in files:
            with open(os.path.join(root, "_gondar_commit.json")) as f:
                out[root] = json.load(f)
    return out


def _sorted(df) -> list:
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_append_returns_rows_and_empty_append_commits_nothing(
        spark, tmp_warehouse):
    io = TableIO(spark, tmp_warehouse)
    base = io.append(_rows(spark, 0, 100), "t")  # no table yet: a base write
    assert base["rows"] == 100 and io.exists("t")
    seg = io.append(_rows(spark, 100, 130), "t", partition_by=["lang"])
    assert seg["rows"] == 30 and io.segments("t") == [seg["table"]]

    entries = sorted(os.listdir(tmp_warehouse))
    manifests = _manifests(tmp_warehouse)
    for pb in (None, ["lang"]):
        empty = io.append(_rows(spark, 0, 0), "t", partition_by=pb)
        assert empty["rows"] == 0 and empty["table"] == "t"
        assert io.append(_rows(spark, 0, 100).filter("id < 0"), "t",
                         partition_by=pb)["rows"] == 0
    assert io.segments("t") == [seg["table"]]
    assert sorted(os.listdir(tmp_warehouse)) == entries
    assert _manifests(tmp_warehouse) == manifests
    assert io.read("t").count() == 130


def test_read_takes_the_footer_schema_and_starts_no_job(spark, tmp_warehouse):
    """A base and two segments, one of them partitioned: the read plans
    without a Spark job and equals today's per-directory inferred read,
    schema included (the partition column still comes from the
    listing)."""
    io = TableIO(spark, tmp_warehouse)
    io.write(_rows(spark, 0, 200), "t")
    io.append(_rows(spark, 200, 260), "t")
    io.append(_rows(spark, 260, 300), "t", partition_by=["lang"])
    segs = io.segments("t")
    assert len(segs) == 2

    before = _job_ids(spark)
    typed = io.read("t")
    assert _job_ids(spark) - before == set()

    inferred = spark.read.parquet(os.path.join(tmp_warehouse, "t"))
    for s in segs:
        inferred = inferred.unionByName(
            spark.read.parquet(os.path.join(tmp_warehouse, s)))
    assert typed.schema == inferred.schema
    assert _sorted(typed) == _sorted(inferred)
    assert len(_sorted(typed)) == 300


def test_registered_directory_without_spark_footer_still_reads(
        spark, tmp_warehouse, tmp_path):
    """A corpus written by another tool carries no Spark schema in its
    footers: its read keeps Spark's inference."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"path": [f"f{i}.py"], "n": [i]}),
                       corpus / f"part-{i}.parquet")
    meta = pq.read_metadata(corpus / "part-0.parquet").metadata or {}
    assert not any(k.startswith(b"org.apache.spark") for k in meta)

    io = TableIO(spark, tmp_warehouse)
    io.register("src", str(corpus))
    df = io.read("src")
    assert dict(df.dtypes) == {"path": "string", "n": "bigint"}
    assert sorted(tuple(r) for r in df.collect()) == [("f0.py", 0),
                                                       ("f1.py", 1)]
