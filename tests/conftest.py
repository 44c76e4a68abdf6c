from __future__ import annotations

import shutil
import tempfile

import pytest

from gondar_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="gondar_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        arrow_batch_rows=128,
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def durable_base(spark, tmp_path_factory):
    """Durable warehouses built once per module, one per source file
    list: ``durable_base(files, dest)`` copies the build of ``files``
    ((path, mention) pairs, as tests.test_incremental_linking._src
    takes them) to ``dest`` and returns its path. The tests of a module
    that ingest into, crash or retract the same base pay its build
    once; every test still mutates its own copy."""
    from gondar_spark.config import JobConfig
    from gondar_spark.pipeline import Pipeline
    from tests.test_incremental_linking import _src

    built: dict[tuple, str] = {}

    def copy(files, dest) -> str:
        key = tuple(files)
        if key not in built:
            wh = str(tmp_path_factory.mktemp("durable_base") / "wh")
            Pipeline(spark, JobConfig(warehouse=wh, run_id="base")).run(
                source_df=_src(spark, list(files)), incremental=True)
            built[key] = wh
        shutil.copytree(built[key], str(dest))
        return str(dest)

    return copy


@pytest.fixture()
def tmp_warehouse():
    d = tempfile.mkdtemp(prefix="gondar_wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
