"""``history_query``: read-only queries over a recorded sweep history.

Setup builds the history with the code under test: ``BUILD_RUNS`` lazy
DataFrame-grid ``run()`` calls with ``func_pandas`` (the scale path),
whose x-ranges overlap so psets recur across runs and some recur with a
failed latest attempt.  Each timed op opens the DB with
``Database.load`` and runs one query kind; kinds come in seed-shuffled
blocks of all five, so every block holds each kind once.  Results are
checked against DuckDB over the same parquet files after timing.
"""

from __future__ import annotations

import math
import os
import random
import time

import duckdb
from pyspark.sql import functions as F

import psweep_spark as ps
from psweep_spark import database

from .tracing import Tracer
from .userfuncs import BatchFunc

BUILD_RUNS = 2
X_PER_RUN = 300  # x-values per run; grid = X_PER_RUN x N_K x N_M rows
X_POOL = 1000
N_K = 8
N_M = 5
FAIL_EVERY = 2003
#: warm-up blocks of all five kinds before timing (see NOTES.md, ramp)
WARMUP_BLOCKS = 2
KINDS = ("point", "run_lookup", "latest_agg", "failed", "extract")
FLOAT_TOL = 1e-6


class HistoryQuery:
    #: timed queries per run even on a slow host: below 20 no tail
    #: percentile has 10 ops beyond it
    min_ops = 20
    #: ops per kind-balanced block (tracing alternates whole blocks)
    block = len(KINDS)

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.rng = random.Random(seed)
        self.db_dir = os.path.join(work_dir, "calc", "database")
        self.run_ids: list[str] = []
        self.x_used: list[int] = []
        self.appended = 0
        self.build_walls: list[float] = []
        self.results: list[tuple[str, tuple, object]] = []
        self._block: list[str] = []

    def setup(self) -> None:
        spark, rng = self.spark, self.rng
        ks = ps.plist_df(spark, "k", list(range(N_K)))
        ms = ps.plist_df(spark, "m", list(range(N_M)))
        for _ in range(BUILD_RUNS):
            lo = rng.randrange(X_POOL - X_PER_RUN)
            xs = ps.plist_df(spark, "x", list(range(lo, lo + X_PER_RUN)))
            t = time.perf_counter()
            ps.run(spark, None, ps.pgrid_df(xs, ks, ms),
                   calc_dir=os.path.dirname(self.db_dir), safe=True,
                   func_pandas=BatchFunc(FAIL_EVERY))
            self.build_walls.append(time.perf_counter() - t)
            self.appended += X_PER_RUN * N_K * N_M
            self.x_used.extend(range(lo, lo + X_PER_RUN))
        self.x_used = sorted(set(self.x_used))
        df = ps.Database(self.db_dir).load(spark)
        self.run_ids = sorted(r[0] for r in df.select("_run_id").distinct().collect())
        for i in range(WARMUP_BLOCKS * len(KINDS)):
            self.op(*self.next_op(i), tracer=Tracer(), keep=False)
        self.results.clear()

    def patch(self, tracer) -> None:
        tracer.patch(database.Database, "load", "database.load")

    def next_op(self, i: int) -> tuple[str, tuple]:
        if not self._block:
            self._block = list(KINDS)
            self.rng.shuffle(self._block)
        kind = self._block.pop()
        rng = self.rng
        if kind == "point":
            args = (rng.choice(self.x_used), rng.randrange(N_K), rng.randrange(N_M))
        elif kind == "run_lookup":
            args = (rng.choice(self.run_ids),)
        elif kind == "extract":
            args = (rng.randrange(N_K), rng.randrange(N_M), rng.choice(self.run_ids))
        else:
            args = ()
        return kind, args

    def op(self, kind: str, args: tuple, tracer, keep: bool = True) -> int:
        """Run one query; returns the number of rows it returned."""
        df = ps.Database(self.db_dir).load(self.spark)
        with tracer.span("query.build"):
            if kind == "point":
                x, k, m = args
                q = ps.df_filter_conds(
                    df, [F.col("x") == x, F.col("k") == k, F.col("m") == m]
                ).select("_run_seq", "y_", "_failed")
            elif kind == "run_lookup":
                q = df.filter(F.col("_run_id") == args[0]).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("y_").alias("s"),
                    F.max("_pset_seq").alias("mx"),
                )
            elif kind == "latest_agg":
                q = ps.latest_per_pset(df).groupBy("k").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("y_").alias("s")
                )
            elif kind == "failed":
                q = ps.failed_psets(df).select("x", "k", "m", "_run_seq")
            else:
                k, m, rid = args
                q = ps.df_filter_conds(
                    df, [F.col("k") == k, F.col("m") == m, F.col("_run_id") == rid]
                )
        with tracer.span("query.exec"):
            if kind == "extract":
                rows = [tuple(sorted(d.items())) for d in ps.df_extract_params(q)]
            else:
                rows = [tuple(r) for r in q.collect()]
        if keep:
            self.results.append((kind, args, rows))
        return max(1, len(rows))

    # -- correctness -------------------------------------------------------

    def _oracle(self, con, kind: str, args: tuple) -> list[tuple]:
        if kind == "point":
            sql = ("SELECT _run_seq, y_, _failed FROM h "
                   "WHERE x = ? AND k = ? AND m = ?")
        elif kind == "run_lookup":
            sql = ("SELECT count(*), sum(y_), max(_pset_seq) FROM h "
                   "WHERE _run_id = ?")
        elif kind == "latest_agg":
            sql = ("SELECT k, count(*), sum(y_) FROM (SELECT *, row_number() "
                   "OVER (PARTITION BY _pset_hash ORDER BY _run_seq DESC, "
                   "_pset_seq DESC) AS rn FROM h) WHERE rn = 1 GROUP BY k")
        elif kind == "failed":
            sql = ("SELECT x, k, m, _run_seq FROM (SELECT *, row_number() "
                   "OVER (PARTITION BY _pset_hash ORDER BY _run_seq DESC, "
                   "_pset_seq DESC) AS rn FROM h) WHERE rn = 1 AND _failed")
        else:
            sql = ("SELECT k, m, x FROM h WHERE k = ? AND m = ? "
                   "AND _run_id = ? ORDER BY _pset_seq")
            return [
                tuple(sorted({"k": k, "m": m, "x": x}.items()))
                for k, m, x in con.execute(sql, list(args)).fetchall()
            ]
        return con.execute(sql, list(args)).fetchall()

    def check(self, n_ops: int) -> set[int]:
        """Indices of ops whose result differs from DuckDB's."""
        con = duckdb.connect()
        try:
            glob = os.path.join(self.db_dir, "data", "*", "*.parquet")
            con.execute(
                "CREATE VIEW h AS SELECT * FROM read_parquet('{}', "
                "hive_partitioning = true, union_by_name = true)".format(
                    glob.replace("'", "''"))
            )
            return {
                i for i, (kind, args, rows) in enumerate(self.results[:n_ops])
                if not _same(kind, rows, self._oracle(con, kind, args))
            }
        finally:
            con.close()

    @property
    def rows_stored(self) -> int:
        return self.appended

    def append_rate(self, op_walls: list[float], appended: list[int]) -> float:
        """psets/s of the history build's ``run()`` calls after the first
        (the first call of a process starts the Python workers)."""
        warm = self.build_walls[1:]
        return len(warm) * X_PER_RUN * N_K * N_M / sum(warm)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(
            a, b, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
    return a == b


def _same(kind: str, got: list[tuple], want: list[tuple]) -> bool:
    if kind != "extract":  # extract is ordered by _pset_seq; others are sets
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )
