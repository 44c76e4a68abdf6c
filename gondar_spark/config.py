"""Job configuration (analog of the reference's pydantic config,
/root/reference/gondar/settings/_DefaultConfig.py:7-71, rebuilt as a plain
dataclass validated at submit time; values flow in via CLI flags or
``spark-submit --conf spark.gondar.*``).

The reference groups config into Identity / Network / Performance / LLM;
we keep the same intent with pipeline / extractor / linking / runtime
groups. Bounds mirror the reference's validation style
(MAX_RETRY < 10, _DefaultConfig.py:22).
"""

from __future__ import annotations

import dataclasses
import os

from .errors import ConfigError


@dataclasses.dataclass(frozen=True)
class JobConfig:
    # --- pipeline / IO ---
    warehouse: str = "warehouse"          # table root (Iceberg catalog or parquet dir)
    source_table: str = "source_repos"    # (repo, path, commit, lang, content)
    run_id: str = "run0"                  # namespace for checkpoints/lineage
    # --- chunking (SURVEY.md B3; analog of get_Body sectioning,
    #     /root/reference/gondar/tools/entrez.py:36-56) ---
    chunk_lines: int = 64                 # lines per extraction chunk
    max_chunk_chars: int = 1 << 20        # files above this are JVM-pre-split
                                          # so Arrow rows stay bounded
    # --- extractor (SURVEY.md B4; analog of AzureOpenAIWrapper defaults,
    #     /root/reference/gondar/modules/PubMedFlow.py:71-75,104) ---
    extractor_seed: int = 1001            # reference pins seed=1001
    extractor_max_retries: int = 2        # reference: max_retries=2
    # --- linking ---
    shingle_size: int = 3                 # char n-gram size for similarity
    minhash_hashes: int = 16              # signature length
    lsh_bands: int = 8                    # bands (rows per band = hashes // bands)
    link_threshold: float = 0.60          # Jaccard threshold for an edge
    link_lang_aware: bool = False         # lang-tagged LSH blocks (north
                                          # star option; default off: the
                                          # golden alias clusters span
                                          # languages by design)
    cc_max_iter: int = 20                 # fixpoint cap for connected components
    # --- scale / skew (SURVEY.md B10) ---
    broadcast_row_limit: int = 1_000_000  # link-step/retract batch-scope
                                          # frames are broadcast-HINTED only
                                          # below this row count; above it
                                          # the hints are dropped (AQE picks
                                          # the join strategy) so a large
                                          # build, a bulk backlog or a mass
                                          # takedown degrades
                                          # to shuffle joins instead of
                                          # OOMing the driver (round-5
                                          # verdict #2). Logged either way.
    shuffle_partitions: int = 32
    max_block_size: int = 10_000          # LSH mega-block cap (B7): blocks of
                                          # s norms emit s^2/2 pairs; dropped
                                          # blocks are counted in lineage,
                                          # never silently

    def __post_init__(self) -> None:
        if self.extractor_max_retries >= 10:
            raise ConfigError("extractor_max_retries must be < 10")
        if self.minhash_hashes % self.lsh_bands != 0:
            raise ConfigError("minhash_hashes must be divisible by lsh_bands")
        if not (0.0 < self.link_threshold <= 1.0):
            raise ConfigError("link_threshold must be in (0, 1]")
        if self.chunk_lines <= 0 or self.cc_max_iter <= 0:
            raise ConfigError("chunk_lines and cc_max_iter must be positive")

    @classmethod
    def from_env(cls, **overrides) -> "JobConfig":
        """Build from GONDAR_* env vars (reference loads .env at import,
        /root/reference/gondar/settings/__init__.py:5-6); explicit
        overrides win."""
        fields = {f.name: f for f in dataclasses.fields(cls)}
        kwargs = {}
        for name, f in fields.items():
            env = os.environ.get(f"GONDAR_{name.upper()}")
            if env is not None:
                # bool first: bool subclasses int, and {int: int}[bool] would
                # otherwise parse "false" with int() (ValueError) or store a
                # truthy string if str-cast.
                if type(f.default) is bool:
                    kwargs[name] = env.strip().lower() in ("1", "true", "yes", "on")
                else:
                    caster = {int: int, float: float, str: str}.get(
                        type(f.default), str
                    )
                    kwargs[name] = caster(env)
        kwargs.update(overrides)
        return cls(**kwargs)
