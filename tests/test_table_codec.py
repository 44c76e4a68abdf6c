"""The parquet backend's on-disk format: every write path commits zstd
part files and no Hadoop ``_SUCCESS`` marker (the commit manifest is the
only one), a warehouse written with snappy keeps reading and compacts to
zstd, and a partition value that holds most rows is written through
more than one task."""

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gondar_spark.sources.tables import TableIO


def _codecs(path: str) -> set:
    """Codecs of every column chunk of every part file under ``path``."""
    out = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                for rg in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        out.add(md.row_group(rg).column(c).compression)
    return out


def _markers(path: str) -> list:
    return [f for _r, _d, files in os.walk(path) for f in files
            if "_SUCCESS" in f]


def _rows(spark, lo: int, hi: int):
    return spark.range(lo, hi, numPartitions=4).select(
        "id", F.md5(F.col("id").cast("string")).alias("h"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("de").alias("lang"))


def _ids(df) -> list:
    return sorted(r["id"] for r in df.select("id").collect())


def test_every_write_path_commits_zstd_and_no_success_marker(
        spark, tmp_warehouse):
    io = TableIO(spark, tmp_warehouse)
    io.write(_rows(spark, 0, 400), "plain")
    io.write(_rows(spark, 0, 400), "parted", partition_by=["lang"])
    io.append(_rows(spark, 0, 400), "ledger")  # no table yet: a base write
    seg = io.append(_rows(spark, 400, 600), "ledger")["table"]
    assert io.segments("ledger") == [seg]
    for name in ("plain", "parted", "ledger", seg):
        path = os.path.join(tmp_warehouse, name)
        assert _codecs(path) == {"ZSTD"}, name
        assert _markers(path) == [], name
    assert os.path.isdir(os.path.join(tmp_warehouse, "parted", "lang=en"))

    io.compact("ledger")
    ledger = os.path.join(tmp_warehouse, "ledger")
    assert io.segments("ledger") == []
    assert _codecs(ledger) == {"ZSTD"} and _markers(ledger) == []
    assert _ids(io.read("ledger")) == list(range(600))


def test_snappy_warehouse_reads_and_compacts_to_zstd(spark, tmp_warehouse):
    # a base committed by the earlier writer: snappy part files, Hadoop's
    # _SUCCESS marker and the commit manifest
    base = os.path.join(tmp_warehouse, "ledger")
    _rows(spark, 0, 300).write.option("compression", "snappy").parquet(base)
    with open(os.path.join(base, "_gondar_commit.json"), "w") as f:
        json.dump({"table": "ledger", "ts": 0.0, "rows": 300,
                   "partition_by": [], "superseded_segments": [],
                   "meta": {}}, f)
    assert _codecs(base) == {"SNAPPY"} and _markers(base)

    io = TableIO(spark, tmp_warehouse)
    seg = io.append(_rows(spark, 300, 500), "ledger")["table"]
    assert _codecs(os.path.join(tmp_warehouse, seg)) == {"ZSTD"}
    assert _ids(io.read("ledger")) == list(range(500))

    io.compact("ledger")
    assert io.segments("ledger") == []
    assert not os.path.exists(os.path.join(tmp_warehouse, seg))
    assert _codecs(base) == {"ZSTD"} and _markers(base) == []
    assert _ids(io.read("ledger")) == list(range(500))


def test_hot_partition_value_is_written_by_more_than_one_task(
        spark, tmp_warehouse):
    """90% of the rows share one ``lang``: the partitioned write
    rebalances, so AQE splits the hot value at the advisory size instead
    of sending all of it through one task into one file."""
    df = spark.range(0, 20_000, numPartitions=8).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        F.when(F.col("id") % 10 == 0, "de").otherwise("en").alias("lang"))
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        TableIO(spark, tmp_warehouse).write(df, "skewed",
                                            partition_by=["lang"])
    finally:
        spark.conf.set(key, old)

    hot = os.path.join(tmp_warehouse, "skewed", "lang=en")
    parts = [f for f in os.listdir(hot) if f.endswith(".parquet")]
    assert len(parts) > 1, parts
    back = TableIO(spark, tmp_warehouse).read("skewed")
    assert _ids(back) == list(range(20_000))
    assert back.filter(F.col("lang") == "en").count() == 18_000
