"""Small utilities from the reference's public surface, so scripts
written against it run verbatim against this package (reference
``/root/reference/src/psweep/psweep.py:48-120,371-407,477-530``; all
re-implemented from their documented behavior).

The DataFrame pair (`df_read`/`df_write`) is Spark-first: the default
format is parquet via the engine's format-generic table IO, not a
pickled pandas frame — same call sites, durable columnar storage.
"""

from __future__ import annotations

import os
import subprocess
import uuid as _uuid
from functools import wraps
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from .grid import is_seq
from .runner import _call_func, _exec_pset


def system(cmd: str, **kwds) -> subprocess.CompletedProcess:
    """Run a shell command, raising (with captured output printed) on a
    nonzero exit — the reference's template/jobscript helper."""
    try:
        return subprocess.run(
            cmd,
            shell=True,
            check=True,
            stderr=subprocess.STDOUT,
            stdout=subprocess.PIPE,
            **kwds,
        )
    except subprocess.CalledProcessError as ex:
        if ex.stdout:
            print(ex.stdout.decode())
        raise


def makedirs(path: str) -> None:
    """Create ``path`` recursively; empty string is a no-op."""
    if path.strip():
        os.makedirs(path, exist_ok=True)


def fullpath(path: str) -> str:
    return os.path.abspath(os.path.expanduser(path))


def itr(func: Callable) -> Callable:
    """Decorator: let a sequence-taking function accept varargs or a
    bare scalar — ``f(a)``, ``f(a, b)`` and ``f([a, b])`` all work."""

    @wraps(func)
    def wrapper(*args, **kwds):
        if len(args) == 1:
            (arg,) = args
            return func(arg if is_seq(arg) else [arg], **kwds)
        return func(args, **kwds)

    return wrapper


def get_uuid(retry: int = 10, existing: Sequence[str] = ()) -> str:
    """A fresh UUID4 string not present in ``existing``."""
    taken = set(existing)
    for _ in range(max(1, retry)):
        ret = str(_uuid.uuid4())
        if ret not in taken:
            return ret
    raise RuntimeError(f"failed to generate a fresh UUID in {retry} tries")


def get_many_uuids(
    num: int, retry: int = 10, existing: Sequence[str] = ()
) -> list[str]:
    """``num`` distinct fresh UUID4 strings, disjoint from ``existing``."""
    taken = set(existing)
    for _ in range(max(1, retry)):
        ret = {str(_uuid.uuid4()) for _ in range(num)}
        if len(ret) == num and not (ret & taken):
            return list(ret)
    raise RuntimeError(f"failed to generate {num} fresh UUIDs in {retry} tries")


def in_git_repo(cwd: str = ".") -> bool:
    p = subprocess.run(
        ["git", "rev-parse", "--is-inside-work-tree"],
        cwd=cwd, capture_output=True, text=True,
    )
    return p.returncode == 0 and p.stdout.strip() == "true"


def df_write(fn: str, df: DataFrame, fmt: str = "parquet", **kwds) -> None:
    """Write a DataFrame table (reference ``df_write(fn, df)``; pickle →
    parquet as the durable default, json/csv accepted)."""
    from .sources import write_table

    write_table(df, fn, fmt=fmt, **kwds)


def df_read(
    fn: str,
    fmt: str = "parquet",
    spark: SparkSession | None = None,
    **kwds,
) -> DataFrame:
    """Read a table written by :func:`df_write` (reference
    ``df_read(fn)``).  Uses the active SparkSession unless one is
    passed."""
    from .sources import read_table

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession; pass spark=...")
    return read_table(spark, fn, fmt=fmt, **kwds)


def df_ensure_dtypes(df: DataFrame) -> DataFrame:
    """Reference ``df_ensure_dtypes`` repairs pandas object-dtype washes
    (psweep.py:853-880).  The typed Spark core makes that state
    unrepresentable — every column carries its schema type through
    appends (type conflicts are rejected at append time), so this is a
    contract-preserving no-op kept for call-site compatibility."""
    return df


def df_update_pset_hash(df: DataFrame) -> DataFrame:
    """Recompute ``_pset_hash`` over the CURRENT pset columns
    (reference psweep.py:682-688) — the post-widening rehash that
    ``Database.append`` performs automatically, exposed for ad-hoc
    use."""
    from .hashing import df_hash_expr

    return df.withColumn("_pset_hash", df_hash_expr(df.schema))


def df_update_pset_cols(
    df: DataFrame, pset_cols: Sequence[str], fill_value=None
) -> DataFrame:
    """Ensure ``df`` carries at least ``pset_cols`` pset columns,
    NULL/`fill_value`-extending missing ones, then refresh
    ``_pset_hash`` (reference psweep.py:690-711).  ``Database.append``
    runs this widening automatically; exposed for ad-hoc frames.  A
    `fill_value` of None adds an untyped NULL column whose type
    resolves on the first typed append."""
    from pyspark.sql import functions as F

    from .hashing import filter_cols

    have = set(filter_cols(df.columns))
    want = set(pset_cols)
    if len(want) < len(have):
        raise ValueError(
            f"pset_cols {sorted(want)} is narrower than existing {sorted(have)}"
        )
    out = df
    for c in sorted(want - have):
        out = out.withColumn(c, F.lit(fill_value))
    return df_update_pset_hash(out)


def func_wrapper(
    pset: dict,
    func: Callable[[dict], dict],
    *,
    tmpsave: bool = False,
    verbose: bool = False,
    simulate: bool = False,
) -> dict:
    """Run ``func`` on ONE pset dict through the executor that
    ``run()`` applies to every pset (reference psweep.py:1197-1238):
    the same ``_time_utc``/``_exec_host``/``_pset_runtime`` stamps and
    the same tmpsave file — the single-pset escape hatch for debugging
    a workload function outside Spark."""
    return _exec_pset(
        pset, func, tmpsave=tmpsave, verbose=verbose, simulate=simulate
    )


def capture_logs_wrapper(
    pset: dict,
    func: Callable[[dict], dict],
    capture_logs: str,
    db_field: str = "_logs",
) -> dict:
    """Run ``func`` on one pset with stdout/stderr captured to the
    ``db_field`` key and/or a ``logs.txt`` under the pset's calc dir
    (reference psweep.py:1241-1292; same ``db|file|db+file`` modes as
    ``run(capture_logs=...)``, through the same capture layer)."""
    if capture_logs not in ("db", "file", "db+file"):
        raise ValueError(
            f"capture_logs must be db|file|db+file, got {capture_logs!r}"
        )
    pset.update(_call_func(pset, func, capture_logs, db_field=db_field))
    return pset
