"""spark-submit entry point for the KG-construction job (north rule:
``spark-submit --py-files gondar_spark.zip main.py --stage all``).

Stages run through gondar_spark.pipeline with checkpoint/resume: rerunning
after a failure skips committed stages. With --synthetic N the job
generates the deterministic corpus (sandbox mode); in production point
--source-table at an existing Iceberg table of
(repo, path, commit, lang, content).

Examples:
  spark-submit --master local[32] main.py --synthetic 10000 \
      --warehouse /tmp/wh --run-id run1
  spark-submit --master yarn --py-files gondar_spark.zip main.py \
      --source-table gondar.db.source_repos --warehouse s3://bucket/wh
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="gondar_spark KG construction job")
    p.add_argument("--warehouse", default="warehouse")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate N synthetic source files instead of "
                        "reading --source-table")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--source-table", default="source_repos")
    p.add_argument("--source-path", default=None,
                   help="ZERO-COPY mode: register this existing committed "
                        "parquet corpus as the source table (pointer "
                        "manifest, no rewrite) instead of --synthetic / a "
                        "pre-loaded --source-table")
    p.add_argument("--incremental", action="store_true",
                   help="the durable lifecycle: commit the ingest state "
                        "a later --incremental or --retract reads (on an "
                        "empty warehouse too); on a built one, extract "
                        "only files absent from the extract_done ledger")
    p.add_argument("--prune-removed", action="store_true",
                   help="with --incremental: drop ledger/hash rows for "
                        "files the registered corpus no longer contains "
                        "(default assumes an append-only corpus)")
    p.add_argument("--retract", action="store_true",
                   help="incremental retraction (takedown): remove files "
                        "present in the warehouse ledgers but ABSENT from "
                        "the given corpus from every table at O(affected) "
                        "cost (dead norms leave the dictionary and "
                        "band store; components split id-stably; the "
                        "outputs are rewritten under the stable ids). The "
                        "warehouse must have been built with --incremental")
    p.add_argument("--clean-corpus", default=None, metavar="PARQUET",
                   help="run the corpus-cleaning chain (quality gate -> "
                        "exact dedup -> LSH+CC near-dup removal) over a "
                        "(doc_id, text) parquet instead of the KG job; "
                        "writes survivors to --clean-out")
    p.add_argument("--clean-out", default=None,
                   help="output parquet dir for --clean-corpus")
    p.add_argument("--quality-threshold", type=float, default=0.35)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    p.add_argument("--chunk-lines", type=int, default=64)
    p.add_argument("--link-threshold", type=float, default=0.60)
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument("--force", action="store_true",
                   help="recompute all stages (ignore committed snapshots)")
    p.add_argument("--extractor", choices=("spec", "llm-mock"), default="spec",
                   help="extraction backend: the deterministic spec "
                        "extractor, or the batched LLM path through the "
                        "mock transport (prompt assembly -> batched calls "
                        "-> JSON parse -> quarantine)")
    p.add_argument("--tokens-per-min", type=int, default=0,
                   help="per-worker token budget for the LLM backend "
                        "(0 = unlimited)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from gondar_spark.config import JobConfig
    from gondar_spark.pipeline import Pipeline
    from gondar_spark.session import build_session

    spark = build_session(
        app_name=f"gondar_kg_{args.run_id}",
        shuffle_partitions=args.shuffle_partitions,
        warehouse=args.warehouse,
    )
    if args.clean_corpus:
        if not args.clean_out:
            print("--clean-corpus requires --clean-out", file=sys.stderr)
            return 2
        from gondar_spark.operators.dedup import clean_corpus, release_caches

        docs = spark.read.parquet(args.clean_corpus)
        n_in = docs.count()
        cleaned = clean_corpus(
            docs,
            quality_threshold=args.quality_threshold,
            jaccard_threshold=args.jaccard_threshold,
        )
        cleaned.write.mode("overwrite").parquet(args.clean_out)
        release_caches()
        n_out = spark.read.parquet(args.clean_out).count()
        print(json.dumps({"clean_corpus": {
            "input_rows": n_in, "kept_rows": n_out,
            "dropped_rows": n_in - n_out, "out": args.clean_out}}))
        return 0

    cfg = JobConfig(
        warehouse=args.warehouse,
        run_id=args.run_id,
        source_table=args.source_table,
        chunk_lines=args.chunk_lines,
        link_threshold=args.link_threshold,
        shuffle_partitions=args.shuffle_partitions,
    )
    batch_extractor = None
    if args.extractor == "llm-mock":
        from gondar_spark.extraction.llm import BatchLLMExtractor

        batch_extractor = BatchLLMExtractor(
            tokens_per_min=args.tokens_per_min or None,
            max_retries=cfg.extractor_max_retries)
    pipe = Pipeline(spark, cfg, batch_extractor=batch_extractor)
    source_df = None
    if args.synthetic:
        from gondar_spark.synth import SynthConfig, generate_source_df

        source_df = generate_source_df(
            spark,
            SynthConfig(n_files=args.synthetic, seed=args.seed),
            partitions=args.shuffle_partitions * 4,
        )
    if args.retract:
        stats = pipe.retract(source_df=source_df,
                             source_path=args.source_path)
        print(json.dumps({"retract": stats, "tables": {
            t: (pipe.io.commit_meta(t) or {}).get("rows")
            for t in ("triples", "entities", "aliases")
            if pipe.io.exists(t)
        }}))
        return 0
    executed = pipe.run(source_df=source_df, force=args.force,
                        incremental=args.incremental,
                        source_path=args.source_path,
                        prune_removed=args.prune_removed)
    summary = {
        "executed": executed,
        "tables": {
            t: (pipe.io.commit_meta(t) or {}).get("rows")
            for t in ("triples", "entities", "aliases", "quarantine")
            if pipe.io.exists(t)
        },
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
