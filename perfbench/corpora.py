"""Seeded input generators. The same seed always gives the same files.

Three shapes:

* dense: gondar_spark's own ``synth`` corpus with 40-80 facts per file.
  Its fixed 24-entity pool keeps the link graph tiny, so extraction,
  mentions and materialize carry the work.
* families: one ``log("<literal>")`` per file. Two files of a family hold
  overlapping 20-char windows of one md5 hex string, so the mention
  dictionary and the edge list grow with the file count. The ingest batch
  adds new families plus probe members: a 22-char window of an existing
  family, which links into a committed component and always sorts after
  that component's id, so incremental ids equal a from-scratch build.
* documents: the ``documents.parquet`` table the dedup queries of
  ``__spark_entry__`` read, in the shape of the repo's sf0.1 test table:
  a 30-word vocabulary, 10-100 tokens per document, one document in 20
  a near-copy of an earlier one with " dup" appended, ``source`` cycling
  over 20 values and ``lang`` 41% "en".

Every KG corpus comes as a full build corpus and the same rows split
into a durable base and one ingest batch.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from gondar_spark.config import JobConfig
from gondar_spark.extraction.spec import band_keys, char_ngrams, jaccard

SOURCE_COLS = ("repo", "path", "commit", "lang", "content")
PARTS = 8  # input files per corpus directory


@dataclasses.dataclass
class Corpus:
    """Files one KG workload hands to the program, plus what the generator
    knows about them (recorded in the benchmark output)."""

    build_dir: str   # every one-shot build reads this
    base_dir: str    # build corpus minus the batch: the durable warehouse
    batch_dir: str   # the ingest batch; base + batch == build corpus
    info: dict       # files, bytes, expected norms and edges
    expected_edges: list | None = None   # exact (norm_a, norm_b) edge set


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def _write(rows: list, path: str, cols=SOURCE_COLS, types=None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = list(zip(*rows))
    types = types or [pa.string()] * len(cols)
    pq.write_table(pa.table({c: pa.array(list(v), t)
                             for c, v, t in zip(cols, data, types)}), path)


def _write_parts(rows: list, out_dir: str, tag: str, parts: int = PARTS):
    """``rows`` as ``parts`` parquet files, so a scan has that many input
    splits; ``tag`` keeps names distinct when two sets share a directory."""
    step = -(-len(rows) // parts)
    for k in range(0, len(rows), step):
        _write(rows[k:k + step],
               os.path.join(out_dir, f"part-{tag}-{k // step:03d}.parquet"))


# ---- families ---------------------------------------------------------------

def _fam_hex(seed: int, fam: int) -> str:
    return hashlib.md5(f"{seed}:fam:{fam}".encode()).hexdigest()


def _fam_file(fam: int, member: int, literal: str, tag: str) -> tuple:
    return ("benchrepo", f"src/{tag}/f{fam}_m{member}.py", "c0", "python",
            f'    log("{literal}")')


def _fam_rows(seed: int, fams, tag: str) -> tuple[list, list]:
    rows, groups = [], []
    for f in fams:
        h = _fam_hex(seed, f)
        rows += [_fam_file(f, 0, h[0:20], tag), _fam_file(f, 1, h[4:24], tag)]
        groups.append([h[0:20], h[4:24]])
    return rows, groups


def _linked_pairs(groups: list, cfg: JobConfig) -> list:
    """Edges the pipeline must find: pairs inside a family that share an
    LSH band key and reach the Jaccard threshold (the program's own Python
    mirror of its blocking and scoring). Literals of different families
    are random hex windows and never come near the threshold."""
    out = []
    for norms in groups:
        keys = {n: set(band_keys(n, cfg.minhash_hashes, cfg.lsh_bands,
                                 cfg.extractor_seed)) for n in norms}
        for i, a in enumerate(norms):
            for b in norms[i + 1:]:
                if (keys[a] & keys[b] and jaccard(char_ngrams(a), char_ngrams(b))
                        >= cfg.link_threshold):
                    out.append((min(a, b), max(a, b)))
    return sorted(out)


def family_corpus(work: str, seed: int, families: int, batch_families: int,
                  batch_probes: int) -> Corpus:
    cfg = JobConfig()
    rng = random.Random(seed)
    base_rows, groups = _fam_rows(seed, range(families), "base")
    batch_rows, new_groups = _fam_rows(
        seed, range(families, families + batch_families), "batch")
    groups += new_groups
    for f in sorted(rng.sample(range(families), batch_probes)):
        h = _fam_hex(seed, f)
        batch_rows.append(_fam_file(f, 2, h[0:22], "probe"))
        groups[f].append(h[0:22])
    build_dir, base_dir, batch_dir = (
        os.path.join(work, d) for d in ("fam_build", "fam_base", "fam_batch"))
    _write_parts(base_rows + batch_rows, build_dir, "build")
    _write_parts(base_rows, base_dir, "base")
    _write_parts(batch_rows, batch_dir, "batch", 1)
    edges = _linked_pairs(groups, cfg)
    info = {"files": len(base_rows) + len(batch_rows),
            "base_files": len(base_rows), "batch_files": len(batch_rows),
            "build_bytes": dir_bytes(build_dir),
            "batch_bytes": dir_bytes(batch_dir),
            "expected_norms": sum(len(g) for g in groups),
            "expected_edges": len(edges)}
    return Corpus(build_dir, base_dir, batch_dir, info, edges)


# ---- dense synth ------------------------------------------------------------

def dense_config(seed: int, n_files: int):
    from gondar_spark.synth import SynthConfig

    return SynthConfig(n_files=n_files, seed=seed, facts_min=40, facts_max=80)


def dense_corpus(work: str, seed: int, n_files: int,
                 batch_files: int) -> Corpus:
    """Rendered by the program's own per-file generator; the last
    ``batch_files`` file ids form the ingest batch."""
    from gondar_spark.synth import build_entity_pool, render_file

    def rows(cfg):
        pool = build_entity_pool(cfg)
        return [tuple(render_file(cfg, pool, i)[0][c] for c in SOURCE_COLS)
                for i in range(cfg.n_files)]

    build_dir, base_dir, batch_dir = (
        os.path.join(work, d) for d in ("dense_build", "dense_base",
                                        "dense_batch"))
    full = rows(dense_config(seed, n_files))
    cut = n_files - batch_files
    _write_parts(full, build_dir, "build")
    _write_parts(full[:cut], base_dir, "base")
    _write_parts(full[cut:], batch_dir, "batch", 1)
    info = {"files": n_files, "base_files": cut, "batch_files": batch_files,
            "build_bytes": dir_bytes(build_dir),
            "batch_bytes": dir_bytes(batch_dir)}
    return Corpus(build_dir, base_dir, batch_dir, info)


# ---- documents ----------------------------------------------------------------

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
_LANGS = ("en",) * 41 + ("de", "es", "fr", "zh") * 15  # 41% en, 59 / 4 rest


def documents(out_dir: str, seed: int, n_docs: int) -> dict:
    """Writes ``out_dir/documents.parquet``; returns its size facts."""
    rng = random.Random(seed * 31 + 7)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    path = os.path.join(out_dir, "documents.parquet")
    _write([(i, t, rng.choice(_LANGS), f"src{i % 20}", len(t))
            for i, t in enumerate(texts)], path,
           cols=("doc_id", "text", "lang", "source", "n_chars"),
           types=(pa.int64(), pa.string(), pa.string(), pa.string(),
                  pa.int64()))
    return {"docs": n_docs, "docs_bytes": os.path.getsize(path)}
