"""Config loading (A21), error rendering (A22) and the CLI surface."""

import pytest

from gondar_spark.config import JobConfig
from gondar_spark.errors import ConfigError, StageError


def test_config_from_env(monkeypatch):
    monkeypatch.setenv("GONDAR_CHUNK_LINES", "32")
    monkeypatch.setenv("GONDAR_LINK_THRESHOLD", "0.7")
    monkeypatch.setenv("GONDAR_RUN_ID", "envrun")
    cfg = JobConfig.from_env()
    assert cfg.chunk_lines == 32
    assert cfg.link_threshold == 0.7
    assert cfg.run_id == "envrun"
    # explicit override wins over env
    assert JobConfig.from_env(chunk_lines=8).chunk_lines == 8


def test_config_validation_bounds():
    with pytest.raises(ConfigError):
        JobConfig(extractor_max_retries=10)
    with pytest.raises(ConfigError):
        JobConfig(link_threshold=0.0)
    with pytest.raises(ConfigError):
        JobConfig(chunk_lines=0)


def test_error_str_has_timestamp_and_type():
    s = str(StageError("boom"))
    assert "StageError" in s and "boom" in s and "20" in s


def test_cli_exposes_zero_copy_and_incremental():
    import main as mainmod

    args = mainmod.parse_args(
        ["--source-path", "/data/corpus", "--incremental"])
    assert args.source_path == "/data/corpus" and args.incremental
    d = mainmod.parse_args([])
    assert d.source_path is None and d.incremental is False
