"""Seeded input corpora for the benchmark.

Every row of the transcript corpus is a pure function of its global
conversation index (`joern_spark.generator`), so a seed only has to pick
a range of indices: seed `n` owns the block of `SEED_STRIDE`
conversations starting at `(n % SEED_BLOCKS) * SEED_STRIDE`, and each
workload corpus is a disjoint sub-range of that block. Different seeds
give different rows with the same skew profile (mega-conversations at
index % 509 == 7, hub cities, alias chains, rebinds); the program only
ever sees the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np

# 600 blocks of 10^6 conversations keep every conversation timestamp
# (2024-01-01 + 300 s per conversation index) below year 8000, inside
# the range both Spark and DuckDB accept.
SEED_STRIDE = 1_000_000
SEED_BLOCKS = 600

# Disjoint sub-ranges of a seed's block, one per corpus role.
OFFSETS = {"build": 0, "query": 200_000, "ingest": 400_000}


def block_counts(lo: int, hi: int) -> np.ndarray:
    """Blocks per conversation for global indices [lo, hi): the formula
    of `generator.conv_block_counts`, evaluated on a range instead of
    from index 0 (test_smoke.py checks the two agree)."""
    from joern_spark.generator import mix

    c = np.arange(lo, hi, dtype=np.uint64)
    nblocks = 1 + (mix(c, 1) % np.uint64(5)).astype(np.int64)
    nblocks[(c % np.uint64(509)) == np.uint64(7)] = 256
    return nblocks


def conv_range(seed: int, role: str, n_turns: int, skip_convs: int = 0) -> tuple[int, int]:
    """[lo, hi) conversation indices holding about `n_turns` turns for a
    corpus role of a seed; `skip_convs` moves further into the sub-range
    (the ingest workload lands consecutive ranges)."""
    lo = (seed % SEED_BLOCKS) * SEED_STRIDE + OFFSETS[role] + skip_convs
    counts = block_counts(lo, lo + max(1, n_turns // 4))
    hi = lo + int(np.searchsorted(np.cumsum(counts * 4), n_turns)) + 1
    return lo, hi


def frame(lo: int, hi: int):
    """pandas rows for conversations [lo, hi), as the generator makes them."""
    from joern_spark.generator import _generate_conv_range

    return _generate_conv_range(lo, hi, block_counts(lo, hi))


def write_parquet(df, path: str) -> int:
    """Write one parquet file atomically (tmp name hidden from Spark and
    DuckDB globs, then rename); returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    df.to_parquet(tmp, index=False, row_group_size=32768)
    os.replace(tmp, path)
    return os.path.getsize(path)


def write_corpus(seed: int, role: str, n_turns: int, sf: float) -> tuple[int, list[str]]:
    """Materialize a role's corpus where the program reads scale factor
    `sf` (`generator.transcripts_path`, under JOERN_SPARK_DATA), plus
    the entity vocabulary. Returns (turns, conversation ids)."""
    from joern_spark import generator as G

    lo, hi = conv_range(seed, role, n_turns)
    df = frame(lo, hi)
    write_parquet(df, os.path.join(G.transcripts_path(sf), "part-00000.parquet"))
    G.ensure_entities()
    return len(df), sorted(df["conv_id"].unique().tolist())


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory tree; (0, 0) when it is absent."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
