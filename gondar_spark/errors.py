"""Typed error taxonomy (analog of the reference's exception module,
/root/reference/gondar/exception.py:18-71, minus its class-subscript bug).

Pipeline-level failures raise these; row-level failures never raise — they
become quarantine rows in the lineage/metrics tables (SURVEY.md §2A A15/A22).
"""

from __future__ import annotations

import datetime as _dt


class GondarSparkError(Exception):
    """Base error; renders with a UTC timestamp like the reference's
    BaseError (/root/reference/gondar/exception.py:30-31)."""

    default_message = "gondar_spark error"

    def __init__(self, message: str | None = None) -> None:
        self.message = message or self.default_message
        super().__init__(self.message)

    def __str__(self) -> str:
        ts = _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        return f"[{ts}] {type(self).__name__}: {self.message}"


class ConfigError(GondarSparkError):
    default_message = "invalid job configuration"


class StageError(GondarSparkError):
    default_message = "pipeline stage failed"


class TableFormatError(GondarSparkError):
    default_message = "table read/write failed"
