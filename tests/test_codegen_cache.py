"""The session's codegen class cache covers a whole build: a second,
identical build in the same session reuses every generated class.

Spark's default cache (100 entries) is smaller than one build's working
set, so LRU evicted each class before its reuse and every build of a
long-lived session (streaming micro-batches, repeated ingests, notebooks)
paid Janino compilation again."""

import time

from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.pipeline import Pipeline
from gondar_spark.synth import SynthConfig, generate_source_df


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_build_compiles_nothing(spark, tmp_path):
    # the probe sees compiles: a long literal is inlined into the
    # generated source, so a never-seen value forces a new class
    before = _compiles(spark)
    spark.range(3).select(F.col("id") + F.lit(time.time_ns())).collect()
    assert _compiles(spark) > before, "codegen probe is broken"

    scfg = SynthConfig(n_files=30, seed=7)
    added = []
    for i in range(2):
        before = _compiles(spark)
        p = Pipeline(spark, JobConfig(warehouse=str(tmp_path / f"wh{i}"),
                                      run_id="codegen"))
        p.run(source_df=generate_source_df(spark, scfg, 4))
        added.append(_compiles(spark) - before)
    assert added[1] == 0, added
