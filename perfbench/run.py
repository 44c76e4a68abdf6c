"""gondar_spark benchmark: one command, two workloads, seeded inputs.

    python3 perfbench/run.py --workload build_dense --seed 1 --seconds 10 --trace 0

Run it from the repository root. Load model: a closed loop with one
client. One Python driver runs ``local[N]`` (N = min(4, nproc)) and starts
each operation only after the previous one returned.

``--trace 0`` times one-shot ``Pipeline.run`` builds of the workload's
corpus, each on a fresh warehouse, and prints the end-to-end metrics.
``--trace 1`` makes the traced run (``traced.py``): a durable build, the
build layer by layer through each layer's public function, one
incremental ingest, one no-op re-run and one round of the four dedup
queries of ``__spark_entry__``; it prints the per-layer metrics and
writes its spans to ``.perfbench_out/``. ``DESIGN.md`` says why.

Every operation's output is checked against a reference computed outside
the timed window; an operation that raises or fails its check counts in
``failed``. The last stdout line is the result JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

WORKLOADS = ("build_dense", "build_linked")
MIN_BUILDS = 1  # timed builds per run even when one outlasts --seconds
SIZES = {
    # dense: files, batch files; families: base families, batch families,
    # batch probes; dedup documents
    "full": {"dense": (1200, 120), "families": (1200, 120, 60),
             "docs": 500},
    "tiny": {"dense": (60, 10), "families": (40, 6, 4), "docs": 120},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the first build's output before its check "
                         "(the smoke test's failure-detection case)")
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.size = SIZES[args.size]
        self.n = max(1, min(4, os.cpu_count() or 1))
        self.work = os.path.join(root, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ref_outputs = None   # output digests every build must equal
        self._wh = 0

    # ---- session + inputs ----------------------------------------------
    def start(self):
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.makedirs(self.out_dir, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        from gondar_spark.session import build_session

        # the session's own warm start is off: the warm-up build warms the
        # code paths the timed build uses, and paying for both would add
        # ten seconds to every run
        self.spark = build_session(
            app_name="perfbench", master=f"local[{self.n}]",
            shuffle_partitions=self.n, warm_start=False,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "sw"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            })
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self):
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)

    def make_corpus(self):
        import corpora

        a = self.args
        if a.workload == "build_dense":
            self.corpus = corpora.dense_corpus(self.work, a.seed,
                                               *self.size["dense"])
        else:
            self.corpus = corpora.family_corpus(self.work, a.seed,
                                                *self.size["families"])
        self.corpus_bytes = self.corpus.info["build_bytes"]

    def references(self):
        """Reference digests, computed once and outside the timed window:
        the planted facts of the dense corpus (the rows
        ``synth.golden_triples_df`` builds, from the same per-file
        generator) or the exact edge set of the family corpus."""
        from checks import py_digest

        if self.args.workload == "build_dense":
            import corpora
            from gondar_spark.synth import build_entity_pool, render_file

            cfg = corpora.dense_config(self.args.seed, self.size["dense"][0])
            pool = build_entity_pool(cfg)
            gold = set()
            for i in range(cfg.n_files):
                row, facts = render_file(cfg, pool, i)
                subj = f"{row['repo']}:{row['path']}"
                gold |= {(subj, pred, obj, kind, row["repo"], row["path"],
                          row["commit"], line // cfg.chunk_lines)
                         for pred, obj, kind, line in facts}
            self.ref_triples = py_digest(gold)
            self.corpus.info["expected_triples"] = len(gold)
        else:
            self.ref_edges = py_digest(self.corpus.expected_edges)

    # ---- one build -------------------------------------------------------
    def _config(self, name: str):
        """A JobConfig on a fresh warehouse."""
        from gondar_spark.config import JobConfig

        self._wh += 1
        wh = os.path.join(self.work, f"wh{self._wh}-{name}")
        return JobConfig(warehouse=wh, run_id=name, shuffle_partitions=self.n)

    def check_build(self, p) -> list[str]:
        """Mismatches of one build's committed tables against the
        references; empty when the build is correct."""
        if self.args.corrupt and self.attempted == 1:  # the first build
            _corrupt(p.io.warehouse, "triples_raw"
                     if self.args.workload == "build_dense" else "edges")
        return self.check_tables(p.io.read)

    def check_tables(self, read) -> list[str]:
        """``read(name)`` gives a table of one build as a DataFrame."""
        from checks import OUTPUT_TABLES, TRIPLE_COLS, digests

        tables = {}
        for t in OUTPUT_TABLES:
            df = read(t)
            tables[t] = (df, sorted(df.columns))
        if self.args.workload == "build_dense":
            tables["triples_raw"] = (read("triples_raw").select(*TRIPLE_COLS)
                                     .distinct(), TRIPLE_COLS)
        else:
            tables["edges"] = (read("edges"), ["norm_a", "norm_b"])
            tables["norms"] = (read("mentions").select("norm").distinct(),
                               ["norm"])
        got = digests(tables)
        bad = []
        if self.args.workload == "build_dense":
            if got["triples_raw"] != self.ref_triples:
                bad.append(f"triples_raw {got['triples_raw']} != golden "
                           f"{self.ref_triples}")
        else:
            if got["edges"] != self.ref_edges:
                bad.append(f"edges {got['edges']} != expected "
                           f"{self.ref_edges}")
            if got["norms"][0] != self.corpus.info["expected_norms"]:
                bad.append(f"norms {got['norms'][0]} != "
                           f"{self.corpus.info['expected_norms']}")
        outs = {t: got[t] for t in OUTPUT_TABLES}
        if self.ref_outputs is None:
            self.ref_outputs = outs
        elif outs != self.ref_outputs:
            bad.append(f"outputs {outs} != first build {self.ref_outputs}")
        return bad

    def attempt(self, fn):
        """Run one operation and its check; returns fn's result, or None
        when it raised or failed its check."""
        self.attempted += 1
        try:
            res, bad = fn()
        except Exception as e:  # counted, reported, and the run goes on
            res, bad = None, [f"{type(e).__name__}: {str(e)[:300]}"]
        if bad:
            self.failed += 1
            self.errors += bad
            return None
        return res

    def timed_build(self, name="b"):
        """One one-shot ``Pipeline.run`` of the corpus on a fresh
        warehouse, then its check; returns (wall s, CPU s, bytes written),
        or None when it failed."""
        from gondar_spark.pipeline import Pipeline

        from probes import listing, tree_cpu_s, written

        def op():
            p = Pipeline(self.spark, self._config(name))
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            p.run(source_path=self.corpus.build_dir)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - c0
            # a fresh warehouse: every file in it was written by this build
            _files, nbytes = written({}, listing(p.io.warehouse))
            bad = self.check_build(p)
            if not bad:
                shutil.rmtree(p.io.warehouse, ignore_errors=True)
            return (wall, cpu, nbytes), bad
        return self.attempt(op)

    # ---- the two kinds of run -------------------------------------------
    def warm_up(self):
        """One untimed, unchecked build of the ingest batch (a tenth of the
        corpus), so most JIT compilation is done before timing."""
        from gondar_spark.pipeline import Pipeline

        p = Pipeline(self.spark, self._config("warm"))
        p.run(source_path=self.corpus.batch_dir)
        shutil.rmtree(p.io.warehouse, ignore_errors=True)

    def run_untraced(self) -> dict:
        walls, cpus, nbytes = [], [], 0
        t0 = time.perf_counter()
        # start another build only if one more of the last one's length
        # still ends inside --seconds: the run never overshoots by a build
        last = 0.0
        while (self.attempted < MIN_BUILDS or time.perf_counter() - t0 + last
               <= self.args.seconds):
            t1 = time.perf_counter()
            r = self.timed_build()
            last = time.perf_counter() - t1
            if r is not None:
                walls.append(r[0])
                cpus.append(r[1])
                nbytes += r[2]
        self.detail.update(builds=len(walls),
                           build_walls_s=[round(w, 4) for w in walls],
                           build_cpu_s=[round(c, 2) for c in cpus])
        m = {}
        if walls:
            m["build_cpu_s"] = (statistics.median(cpus), "s")
            m["write_amp"] = (nbytes / (len(walls) * self.corpus_bytes),
                              "B/B")
        return m

    def run_traced(self) -> dict:
        import traced

        return traced.run(self)


def _corrupt(warehouse: str, table: str) -> None:
    """Drop one part file of a committed table."""
    for r, _d, fs in sorted(os.walk(os.path.join(warehouse, table))):
        for f in sorted(fs):
            if f.endswith(".parquet"):
                os.remove(os.path.join(r, f))
                return


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    if not (os.path.isdir(os.path.join(root, "gondar_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root: gondar_spark/ and "
              "__spark_entry__.py are not in " + root, file=sys.stderr)
        return 2
    sys.path[:0] = [root, here]
    bench = Bench(args, root)
    try:
        t0 = time.perf_counter()
        bench.start()
        t1 = time.perf_counter()
        bench.make_corpus()
        t2 = time.perf_counter()
        bench.references()  # the benchmark's own work: not set-up time
        t3 = time.perf_counter()
        if not args.trace:  # the traced run has no time for a warm-up
            bench.warm_up()
        t4 = time.perf_counter()
        setup_s = (t2 - t0) + (t4 - t3)
        bench.detail = {"setup_parts_s": {
            "session": round(t1 - t0, 3), "corpus": round(t2 - t1, 3),
            "warm_build": round(t4 - t3, 3)}}
        metrics = bench.run_traced() if args.trace else bench.run_untraced()
        if not args.trace:
            metrics["setup_s"] = (setup_s, "s")
    finally:
        bench.stop()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "n_cores": bench.n, "corpus": bench.corpus.info,
                      "errors": bench.errors[:20],
                      **getattr(bench, "detail", {})}))
    print(json.dumps({
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
