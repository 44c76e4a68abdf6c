"""Prompt assembly (A12/A13) and the pluggable-extractor seam (the 'wrap
the LLM extractor' contract)."""

import pandas as pd

from gondar_spark.extraction.prompts import (
    DEFAULT_HEADS,
    MessageTemplate,
    build_messages,
)
from gondar_spark.operators.extract import (
    extract_triples,
    split_extraction,
)
from gondar_spark.operators.chunk import prepare_extraction_units


def test_message_template_fill():
    m = MessageTemplate("user", "extract from {reference}").fill(
        reference="code here"
    )
    assert m == {"role": "user", "content": "extract from code here"}


def test_build_messages_structure():
    msgs = build_messages("def f(ctx):", "r:p", "python", 0)
    assert [m["role"] for m in msgs] == ["system", "user", "assistant"]
    assert "verbatim" in msgs[0]["content"]
    assert "def f(ctx):" in msgs[1]["content"]
    for head in DEFAULT_HEADS:
        assert head in msgs[0]["content"]


def test_custom_extractor_plugs_in(spark):
    # defined inside the test: cloudpickle must serialize it by VALUE —
    # a test-module-level fn would pickle by reference and break workers
    def upper_extractor(lang, text):
        out = []
        for i, line in enumerate(text.split("\n")):
            if line.startswith("def "):
                out.append(("defines_fn", line[4:].split("(")[0].upper(),
                            "symbol", i))
        return out

    df = spark.createDataFrame(
        [("r", "p", "c", "python", "def alpha(ctx):\n    out = beta(ctx)")],
        ["repo", "path", "commit", "lang", "content"],
    )
    raw = extract_triples(
        prepare_extraction_units(df, 64), chunk_lines=64,
        emit_metrics=False, extractor=upper_extractor,
    )
    triples, quarantine, _ = split_extraction(raw)
    rows = [(r["pred"], r["obj"]) for r in triples.collect()]
    assert rows == [("defines_fn", "ALPHA")]  # custom backend, same machinery
    assert quarantine.count() == 0
