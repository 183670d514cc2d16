"""User functions the benchmark sweeps over.

They live in an importable module so Spark's Python workers unpickle
them by reference.  Which psets fail is a pure function of the pset
and a seed-derived ``salt``, so the checker can recompute it.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd


def row_fails(salt: int, a: float, b: int, every: int) -> bool:
    return zlib.crc32(f"{salt}|{a!r}|{b}".encode()) % every == 0


def row_y(a: float, b: int) -> float:
    return a * b + (b % 7) * 0.25


class RowFunc:
    """``func(pset) -> dict`` for the row path; raises on the psets
    ``row_fails`` picks."""

    def __init__(self, salt: int, fail_every: int):
        self.salt = salt
        self.fail_every = fail_every

    def __call__(self, pset: dict) -> dict:
        a, b = pset["a"], pset["b"]
        if row_fails(self.salt, a, b, self.fail_every):
            raise ValueError(f"planned failure at a={a!r} b={b}")
        return {"y_": row_y(a, b)}


def batch_fails(x: np.ndarray, k: np.ndarray, m: np.ndarray, run_seq: np.ndarray,
                fail_every: int) -> np.ndarray:
    """Psets whose attempt in an even-numbered run fails."""
    key = (x * 7919 + k * 104729 + m * 1299709) % fail_every
    return (key == 0) & (run_seq % 2 == 0)


def batch_y(x: np.ndarray, k: np.ndarray, m: np.ndarray, run_seq: np.ndarray) -> np.ndarray:
    return x * 0.5 + k * m + run_seq * 0.001


class BatchFunc:
    """``func_pandas(pdf) -> pdf`` for the scale path; raises when the
    batch holds a pset ``batch_fails`` picks, so ``safe=True`` bisects
    it down to those rows."""

    def __init__(self, fail_every: int):
        self.fail_every = fail_every

    def __call__(self, pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [pdf[c].to_numpy() for c in ("x", "k", "m", "_run_seq")]
        if batch_fails(*cols, self.fail_every).any():
            raise ValueError("planned failure in batch")
        return pd.DataFrame({"y_": batch_y(*cols)})
