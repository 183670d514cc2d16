"""``sweep_append``: incremental ``run()`` calls appending to one DB.

Each op is one ``ps.run(spark, func, params, skip_dups=True, safe=True)``
on a list-of-dicts grid (``pgrid`` of ``plist``s, the eager path) with a
plain per-row ``func`` (the row path).  The sequence starts from an
empty DB and its first ``WARMUP_CALLS`` calls are untimed set-up; from
the second call on, half of every grid repeats psets of earlier calls,
so skip-dups filters them.  A seed-chosen ~1/64 of psets raise and are
stored as ``_failed`` rows.
"""

from __future__ import annotations

import os
import random

import psweep_spark as ps
from psweep_spark import database, metastore, runner

from .userfuncs import RowFunc, row_fails, row_y

A_PER_CALL = 50  # grid = A_PER_CALL a-values x N_B b-values = 2000 psets
A_REPEATED = 25  # a-values taken from earlier calls: half the grid repeats
N_B = 40
FAIL_EVERY = 64
#: untimed calls that open the sequence (see NOTES.md, ramp)
WARMUP_CALLS = 3
Y_SAMPLE = 50


class Grids:
    """Seed-derived sequence of grids; tracks which psets are new."""

    def __init__(self, rng: random.Random, b_values: list[int]):
        self.rng = rng
        self.b = b_values
        self.a_seen: list[float] = []
        self.psets_seen: set[tuple[float, int]] = set()

    def next(self) -> tuple[list[dict], set[tuple[float, int]]]:
        old = self.rng.sample(self.a_seen, min(A_REPEATED, len(self.a_seen)))
        taken = set(self.a_seen)
        new: list[float] = []
        while len(old) + len(new) < A_PER_CALL:
            a = round(self.rng.uniform(0.0, 1000.0), 3)
            if a not in taken:
                taken.add(a)
                new.append(a)
        self.a_seen.extend(new)
        a_values = old + new
        self.rng.shuffle(a_values)
        grid = ps.pgrid(ps.plist("a", a_values), ps.plist("b", self.b))
        fresh = {(p["a"], p["b"]) for p in grid} - self.psets_seen
        self.psets_seen |= fresh
        return grid, fresh


class SweepAppend:
    #: timed calls per run even on a slow host, so the median always
    #: takes the same share of the sequence
    min_ops = 4
    #: ops per kind-balanced block (tracing alternates whole blocks)
    block = 1

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        rng = random.Random(seed)
        self.salt = rng.randrange(1 << 30)
        b_values = sorted(rng.sample(range(1000), N_B))
        self.func = RowFunc(self.salt, FAIL_EVERY)
        self.grids = Grids(random.Random(rng.random()), b_values)
        self.calc_dir = os.path.join(work_dir, "calc")
        self.fresh: list[set[tuple[float, int]]] = []
        self.sample_rng = random.Random(rng.random())

    def _run(self, grid: list[dict]) -> None:
        ps.run(self.spark, self.func, grid, calc_dir=self.calc_dir,
               skip_dups=True, safe=True)

    def setup(self) -> None:
        """The first ``WARMUP_CALLS`` calls of the sequence, untimed: they
        start the DB and carry the session to its plateau."""
        for _ in range(WARMUP_CALLS):
            grid, fresh = self.grids.next()
            self.fresh.append(fresh)
            self._run(grid)

    def patch(self, tracer) -> None:
        tracer.patch(runner, "prepare_params_df", "runner.prepare_params_df")
        for m in ("reserve_seqs", "append", "load", "max_seqs", "distinct_hashes"):
            tracer.patch(database.Database, m, f"database.{m}")
        tracer.patch_context(database.Database, "writer_lock",
                             "database.writer_lock_held")
        tracer.patch(metastore.LocalFSMetaStore, "put_if_absent",
                     "metastore.put_if_absent")

    def next_op(self, i: int) -> tuple[str, object]:
        grid, fresh = self.grids.next()
        self.fresh.append(fresh)
        return "run", grid

    def op(self, kind: str, grid, tracer) -> int:
        with tracer.span("runner.run"):
            self._run(grid)
        return len(self.fresh[-1])

    def check(self, n_ops: int) -> set[int]:
        """Indices of timed ops whose stored rows are wrong; every op if a
        table-wide invariant or an untimed call's rows are wrong."""
        df = ps.Database(self.db_dir).load(self.spark)
        pdf = df.select("a", "b", "y_", "_failed", "_pset_hash", "_pset_seq",
                        "_run_seq", "_run_id").toPandas()
        everyone = set(range(n_ops))
        calls = self.fresh[:WARMUP_CALLS + n_ops]
        if (len(pdf) != len(set().union(*calls))
                or not pdf["_pset_hash"].is_unique
                or not pdf["_pset_seq"].is_unique):
            return everyone
        pdf["key"] = list(zip(pdf["a"], pdf["b"]))
        by_key = pdf.set_index("key")
        bad, last_seq = set(), -1
        for c, fresh in enumerate(calls):
            rows = by_key.loc[by_key.index.isin(fresh)]
            seqs = rows["_run_seq"].unique()
            failed = rows["_failed"].astype(bool)
            want_failed = {k for k in fresh if row_fails(self.salt, *k, FAIL_EVERY)}
            ok_rows = rows[~failed]
            sample = ok_rows.sample(
                n=min(Y_SAMPLE, len(ok_rows)),
                random_state=self.sample_rng.randrange(1 << 30),
            )
            y_ok = all(
                abs(y - row_y(a, b)) < 1e-9
                for (a, b), y in zip(sample.index, sample["y_"])
            )
            if (len(rows) != len(fresh) or len(seqs) != 1
                    or rows["_run_id"].nunique() != 1 or seqs[0] <= last_seq
                    or set(rows.index[failed]) != want_failed or not y_ok
                    or ok_rows["y_"].isna().any()):
                if c < WARMUP_CALLS:
                    return everyone
                bad.add(c - WARMUP_CALLS)
            if len(seqs):
                last_seq = max(seqs)
        return bad

    @property
    def db_dir(self) -> str:
        return os.path.join(self.calc_dir, "database")

    @property
    def rows_stored(self) -> int:
        return len(set().union(*self.fresh))

    def append_rate(self, op_walls: list[float], appended: list[int]) -> float:
        """psets appended per second of summed ``run()`` wall."""
        return sum(appended) / sum(op_walls)
