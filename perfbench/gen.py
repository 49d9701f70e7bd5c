"""Seeded input generator for ``log_tail``: the same seed always gives the
same round trips. (``lake_queries`` reads the fixed tables in ``lake/``;
its seed only orders the queries.)
"""

from __future__ import annotations

import numpy as np

TAIL_KEYS = 200  # distinct producer keys on the live tail
ZIPF_A = 1.3  # key skew: a handful of hot keys carry most records


def _zipf_keys(rng: np.random.Generator, n: int, space: int) -> np.ndarray:
    return (rng.zipf(ZIPF_A, size=n) - 1) % space


def tail_batches(seed: int, sizes: list[int]) -> list[list[tuple[str, str]]]:
    """One ``[(key, value), ...]`` batch per round trip, of the given sizes.
    Values are unique across the run, so delivery can be checked exactly."""
    rng = np.random.default_rng(seed)
    out = []
    for rt, n in enumerate(sizes):
        keys = _zipf_keys(rng, n, TAIL_KEYS)
        tokens = rng.integers(0, 1 << 30, size=n)
        out.append(
            [(f"key-{k}", f"rt{rt}-{i}-{t:08x}") for i, (k, t) in enumerate(zip(keys, tokens))]
        )
    return out
