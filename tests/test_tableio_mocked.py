"""Jar-free unit coverage of TableIO: the mocked Iceberg branch
(write/read/exists/drop logic without the runtime jar — the real
skip-gated exercise lives in test_iceberg_path.py), zero-copy
registration, and the parquet-footer row-count cap."""

import os

import pytest

# --- jar-free coverage of the Iceberg branch: the write/read/exists/drop
#     logic is pure Python over the Spark surface, so a mocked catalog
#     covers it even though the runtime jar cannot exist in this sandbox.
class _FakeWriter:
    def __init__(self, calls):
        self.calls = calls

    def using(self, fmt):
        self.calls["using"] = fmt
        return self

    def tableProperty(self, key, value):
        self.calls.setdefault("properties", {})[key] = value
        return self

    def partitionedBy(self, *cols):
        self.calls["partitioned_by"] = len(cols)
        return self

    def createOrReplace(self):
        self.calls["created"] = True

    def append(self):
        self.calls["appended"] = True
        self.calls.get("on_append", lambda: None)()


class _FakeDF:
    def __init__(self, calls):
        self.calls = calls

    def writeTo(self, ident):
        self.calls["ident"] = ident
        return _FakeWriter(self.calls)


class _FakeResult:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class _FakeSpark:
    def __init__(self, tables=(), snapshot_rows=None, snapshots_fail=False):
        self.tables = set(tables)
        self.snapshot_rows = snapshot_rows or []
        self.snapshots_fail = snapshots_fail
        self.sql_log = []

    def sql(self, q):
        self.sql_log.append(q)
        if ".snapshots" in q:
            if self.snapshots_fail:
                raise RuntimeError("no snapshots metadata table")
            return _FakeResult(self.snapshot_rows)
        return _FakeResult([])

    def table(self, ident):
        if ident not in self.tables:
            raise RuntimeError(f"table not found: {ident}")
        return f"df::{ident}"


def test_iceberg_branch_write_returns_snapshot_row_count(spark, tmp_path):
    # `spark` fixture: F.col in partitionedBy needs an active context
    from gondar_spark.sources.tables import TableIO

    spark = _FakeSpark(
        snapshot_rows=[{"summary": {"total-records": "123"}}]
    )
    io = TableIO(spark, str(tmp_path / "wh_i"), use_iceberg=True)
    calls = {}
    commit = io.write(_FakeDF(calls), "triples", partition_by=["pred", "lang"])
    # the codec is pinned, not left to the Iceberg runtime's default
    assert calls == {"ident": "gondar.db.triples", "using": "iceberg",
                     "properties": {"write.parquet.compression-codec":
                                    "zstd"},
                     "partitioned_by": 2, "created": True}
    assert commit["rows"] == 123  # from the snapshot summary, no data scan
    # unpartitioned write skips partitionedBy
    calls2 = {}
    io.write(_FakeDF(calls2), "plain")
    assert "partitioned_by" not in calls2 and calls2["created"]


def test_iceberg_branch_row_count_degrades_to_none(tmp_path):
    from gondar_spark.sources.tables import TableIO

    io = TableIO(_FakeSpark(snapshots_fail=True), str(tmp_path / "wh_i2"),
                 use_iceberg=True)
    commit = io.write(_FakeDF({}), "t")
    assert commit["rows"] is None  # never a wrong number


def test_iceberg_branch_append_rows_from_snapshot_summaries(tmp_path):
    """An append's rows are the difference of the snapshot summaries'
    total-records around it: 0 for an empty append, whether or not the
    runtime made a snapshot for it, and None when the summaries cannot
    be read. segments() and the commit metadata stay as they were."""
    from gondar_spark.sources.tables import TableIO

    spark = _FakeSpark(tables={"gondar.db.t"},
                       snapshot_rows=[{"summary": {"total-records": "10"}}])
    io = TableIO(spark, str(tmp_path / "wh_a"), use_iceberg=True)
    meta = io.commit_meta("t")
    calls = {}
    empty = io.append(_FakeDF(calls), "t")   # no new snapshot
    assert calls["ident"] == "gondar.db.t" and calls["appended"]
    assert empty["rows"] == 0
    assert io.segments("t") == [] and io.commit_meta("t") == meta

    # an empty snapshot: same total
    empty_snap = {"on_append": lambda: spark.snapshot_rows.insert(
        0, {"summary": {"total-records": "10"}})}
    assert io.append(_FakeDF(empty_snap), "t")["rows"] == 0

    grew = {"on_append": lambda: spark.snapshot_rows.insert(
        0, {"summary": {"total-records": "17", "added-records": "7"}})}
    assert io.append(_FakeDF(grew), "t")["rows"] == 7

    blind = TableIO(_FakeSpark(snapshots_fail=True), str(tmp_path / "wh_b"),
                    use_iceberg=True)
    assert blind.append(_FakeDF({}), "t")["rows"] is None  # may have rows


def test_iceberg_branch_read_exists_drop(tmp_path):
    from gondar_spark.errors import TableFormatError
    from gondar_spark.sources.tables import TableIO

    spark = _FakeSpark(tables={"gondar.db.known"})
    io = TableIO(spark, str(tmp_path / "wh_i3"), use_iceberg=True)
    assert io.exists("known") and not io.exists("missing")
    assert io.read("known") == "df::gondar.db.known"
    io.drop("known")
    assert any(q.startswith("DROP TABLE IF EXISTS gondar.db.known")
               for q in spark.sql_log)
    # zero-copy register is a parquet-backend feature
    with pytest.raises(TableFormatError):
        io.register("x", "/tmp")


def test_register_rejects_missing_dir(tmp_path):
    from gondar_spark.errors import TableFormatError
    from gondar_spark.sources.tables import TableIO

    class _NullSpark:
        pass

    io = TableIO.__new__(TableIO)
    io.spark = _NullSpark()
    io.warehouse = str(tmp_path / "wh_r")
    io.use_iceberg = False
    os.makedirs(io.warehouse, exist_ok=True)
    with pytest.raises(TableFormatError):
        io.register("src", str(tmp_path / "nowhere"))


def test_footer_count_caps_at_max_files(tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gondar_spark.sources.tables import TableIO

    d = tmp_path / "many"
    d.mkdir()
    for i in range(5):
        pq.write_table(pa.table({"x": [1, 2]}), d / f"part-{i}.parquet")
    stats = TableIO._staged_stats(str(d))
    assert stats["rows"] == 10 and stats["files"] == 5
    assert stats["bytes"] == sum(p.stat().st_size for p in d.iterdir())
    monkeypatch.setattr(TableIO, "MAX_FOOTER_FILES", 3)
    capped = TableIO._staged_stats(str(d))
    assert capped["rows"] is None  # capped, not wrong
    assert capped["bytes"] == stats["bytes"] and capped["files"] == 5
