"""Concurrent-writer + concurrent-reader stress for the DB commit
protocol (VERDICT r7 item 3; reader invariants VERDICT r8 item 6).

The CAS/lockfile protocol (metastore.py conditional put,
database.py:reserve_seqs manifest CAS, writer_lock staged-rename run
commits, rewrites published by manifest CAS) is unit-tested
in-process (tests/test_run.py concurrent-runs tests drive racing
THREADS through one JVM).  This tool is the
cross-PROCESS version: W separate OS processes, each with its own
SparkSession/JVM, hammer ``run()`` appends against ONE shared database
directory at the same time — the real multi-writer deployment shape
(several sweep jobs sharing an experiment DB on a shared filesystem).

Each worker: barrier-waits on a sentinel file so all writers contend,
then performs R ``run()`` appends of G-pset grids (disjoint pset
spaces per worker, so every row is accounted for).  Workers count
CAS retries: ``Database.update_meta``'s mutate callback is wrapped to
count re-invocations — a mutate that runs k>1 times for one commit
lost k−1 conditional-put races.  The count is reported
(``cas_retries_total``), not checked: a reservation CAS runs no Spark
job between its read and its put, so lost races are rare here.
``tests/test_database.py::test_update_meta_reapplies_mutate_after_lost_race``
pins the retry path.

The parent then opens the DB once and verifies the invariants the
protocol guarantees:

* zero lost rows: COUNT(*) == W·R·G and every worker's pset values
  are all present (no overwrite/eclipse between racing appends);
* ``_run_seq`` collision-free: W·R distinct values, one per append,
  exactly covering [0, W·R);
* ``_pset_seq`` collision-free: W·R·G distinct values (each append's
  reserved slot range is exclusive);
* one winner per seq: (seq → run_id) is a function.

READERS (r8 item 6): while the writers race, K reader processes (own
JVMs) loop ``Database.load(...)`` + per-run accounting against the
same directory and assert what the commit protocol promises a reader
— every visible append is ALL-OR-NOTHING:

* no torn run: every ``_run_seq`` group a read observes has exactly G
  rows (a run's partition dir appears atomically via ``os.rename``;
  a reader must never see half an append);
* no regression: a committed run never disappears from a later read
  by the same reader (append-only table, monotone visibility);
* no phantom: every observed ``_run_seq`` belongs to [0, W·R);
* no empty read: ``load()`` never returns None after rows were seen.

One writer's LAST append widens the pset schema (extra column),
forcing a ``_rewrite`` (read→rehash→write a fresh directory, publish it
by manifest CAS) while readers are scanning.  Readers count read
errors separately (recorded in the artifact); a SUCCESSFUL read
returning torn/regressed/empty data is what fails the stress.

Writes STRESS_CONCURRENT.json at the repo root.

Usage: python tools/stress_concurrent_writers.py [W R G K]  (default 4 6 200 3)
(work dir: $PSQ_STRESS_DIR, default /tmp/psq_stress_writers)
Internal: --worker <i> <W> <R> <G> <dbroot>
          --reader <i> <G> <W·R> <dbroot>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: work dir for the writers' calc dirs and the shared DB
SCRATCH = os.environ.get("PSQ_STRESS_DIR", "/tmp/psq_stress_writers")


def worker(i: int, w: int, r: int, g: int, dbroot: str) -> None:
    os.environ.setdefault("PSWEEP_SPARK_DRIVER_MEM", "3g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

    import psweep_spark.database as dbm
    from psweep_spark.grid import plist
    from psweep_spark.runner import run
    from psweep_spark.session import get_spark

    retries = {"n": 0}
    orig = dbm.Database.update_meta

    def counting_update_meta(self, mutate, max_retries: int = 256):
        calls = {"n": 0}

        def counting(meta):
            calls["n"] += 1
            return mutate(meta)

        out = orig(self, counting, max_retries)
        retries["n"] += max(0, calls["n"] - 1)
        return out

    dbm.Database.update_meta = counting_update_meta

    spark = get_spark(f"stress-writer-{i}")

    def func(pset):
        return {"y_": pset["a"] * 2.0}

    # barrier: parent touches <dbroot>/go once all workers are up
    ready = os.path.join(dbroot, f"ready_{i}")
    open(ready, "w").close()
    go = os.path.join(dbroot, "go")
    deadline = time.time() + 300
    while not os.path.exists(go):
        if time.time() > deadline:
            raise TimeoutError("barrier: parent never signalled go")
        time.sleep(0.02)

    t0 = time.time()
    for j in range(r):
        base = (i * r + j) * g
        params = plist("a", list(range(base, base + g)))
        if i == 0 and j == r - 1:
            # widening append: forces a _rewrite (table
            # read->rehash->fresh directory published by CAS) to run
            # WHILE readers scan
            params = [dict(p, b=float(p["a"])) for p in params]
        run(spark, func, params,
            calc_dir=os.path.join(SCRATCH, f"calc_{i}"),
            database_dir=os.path.join(dbroot, "database"))
    wall = round(time.time() - t0, 3)
    print(json.dumps({"worker": i, "appends": r, "rows": r * g,
                      "cas_retries": retries["n"], "wall_sec": wall}))


def reader(i: int, g: int, seq_upper: int, dbroot: str) -> None:
    """Loop concurrent reads until the stop file appears; assert the
    all-or-nothing visibility the staged-rename commit promises."""
    os.environ.setdefault("PSWEEP_SPARK_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")

    from pyspark.sql import functions as F

    from psweep_spark.database import Database
    from psweep_spark.session import get_spark

    spark = get_spark(f"stress-reader-{i}")
    db = Database(os.path.join(dbroot, "database"))

    open(os.path.join(dbroot, f"rready_{i}"), "w").close()
    go = os.path.join(dbroot, "go")
    deadline = time.time() + 300
    while not os.path.exists(go):
        if time.time() > deadline:
            raise TimeoutError("reader barrier: parent never signalled go")
        time.sleep(0.02)

    stop = os.path.join(dbroot, "stop")
    n_reads = n_errors = torn = regressions = phantoms = 0
    n_empty_after_rows = 0
    prev_seqs: set[int] = set()
    max_runs = 0
    while True:
        # check-then-read so the post-stop final state is also read
        stopping = os.path.exists(stop)
        try:
            df = db.load(spark)
            if df is None:
                # None after rows were seen: the table vanished under
                # the reader.  Required to be 0; prev_seqs is not
                # updated, so the next good read is not miscounted as
                # a regression.
                if prev_seqs:
                    n_empty_after_rows += 1
                    if stopping:
                        break
                    time.sleep(0.05)
                    continue
                counts: dict[int, int] = {}
            else:
                counts = {
                    int(row["_run_seq"]): int(row["n"])
                    for row in df.groupBy("_run_seq")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
            n_reads += 1
            torn += sum(1 for n in counts.values() if n != g)
            # full phantom check (ADVICE r9 #2): every observed seq
            # must lie in [0, W·R) — both bounds
            phantoms += sum(
                1 for s in counts if s < 0 or s >= seq_upper
            )
            if prev_seqs - set(counts):
                regressions += 1
            prev_seqs = set(counts)
            max_runs = max(max_runs, len(counts))
        except Exception:
            # recorded, not fatal
            n_errors += 1
        if stopping:
            break
        time.sleep(0.05)  # pace the loop (pre-table loads are instant)
    print(json.dumps({
        "reader": i, "reads": n_reads, "read_errors": n_errors,
        "empty_after_rows_reads": n_empty_after_rows,
        "torn_runs": torn, "regressions": regressions,
        "phantoms": phantoms, "max_runs_seen": max_runs,
    }))


def stress(w: int, r: int, g: int, k: int = 3) -> dict:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    dbroot = os.path.join(SCRATCH, "shared")
    os.makedirs(dbroot, exist_ok=True)

    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker",
             str(i), str(w), str(r), str(g), dbroot],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            cwd=REPO,
        )
        for i in range(w)
    ]
    rprocs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--reader",
             str(i), str(g), str(w * r), dbroot],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            cwd=REPO,
        )
        for i in range(k)
    ]
    deadline = time.time() + 300
    while (
        sum(os.path.exists(os.path.join(dbroot, f"ready_{i}"))
            for i in range(w)) < w
        or sum(os.path.exists(os.path.join(dbroot, f"rready_{i}"))
               for i in range(k)) < k
    ):
        if time.time() > deadline or any(
            p.poll() is not None for p in procs + rprocs
        ):
            for p in procs + rprocs:
                p.kill()
            outs = [p.communicate() for p in procs + rprocs]
            raise RuntimeError(f"worker died before barrier: {outs}")
        time.sleep(0.1)
    open(os.path.join(dbroot, "go"), "w").close()

    reports = []
    for p in procs:
        out, err = p.communicate(timeout=900)
        if p.returncode != 0:
            for rp in rprocs:
                rp.kill()
            raise RuntimeError(f"worker failed:\n{err[-4000:]}")
        reports.append(json.loads(out.strip().splitlines()[-1]))

    # writers done: signal readers to take one final read and report
    open(os.path.join(dbroot, "stop"), "w").close()
    rreports = []
    for p in rprocs:
        out, err = p.communicate(timeout=600)
        if p.returncode != 0:
            raise RuntimeError(f"reader failed:\n{err[-4000:]}")
        rreports.append(json.loads(out.strip().splitlines()[-1]))

    # ---- parent-side verification on a fresh session
    os.environ.setdefault("PSWEEP_SPARK_DRIVER_MEM", "6g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from pyspark.sql import functions as F

    from psweep_spark.database import Database
    from psweep_spark.session import get_spark

    spark = get_spark("stress-verify")
    df = Database(os.path.join(dbroot, "database")).load(spark)
    total = df.count()
    expected = w * r * g
    n_runs = df.select("_run_id").distinct().count()
    n_run_seq = df.select("_run_seq").distinct().count()
    run_seq_minmax = df.agg(
        F.min("_run_seq"), F.max("_run_seq")
    ).first()
    n_pset_seq = df.select("_pset_seq").distinct().count()
    # one winner per seq: (run_seq → run_id) and (pset_seq → pset_id)
    # are functions
    rs_fn = df.groupBy("_run_seq").agg(
        F.countDistinct("_run_id").alias("k")
    ).filter("k > 1").count()
    ps_fn = df.groupBy("_pset_seq").agg(
        F.countDistinct("_pset_id").alias("k")
    ).filter("k > 1").count()
    n_a = df.select("a").distinct().count()
    y_bad = df.filter(F.col("y_") != F.col("a") * 2.0).count()
    # the widening append: exactly g rows carry b (== their a), the
    # rest NULL-extended, and the post-rewrite rehash stayed unique
    n_b = df.filter(F.col("b").isNotNull()).count()
    b_bad = df.filter(
        F.col("b").isNotNull() & (F.col("b") != F.col("a"))
    ).count()
    n_hash = df.select("_pset_hash").distinct().count()

    summary = {
        "_doc": (
            "cross-process concurrent-writer stress (r7 item 3): W OS "
            "processes (own JVMs) barrier-start and race run() appends "
            "against ONE shared DB. Invariants verified by the parent "
            "on a fresh session; cas_retries counts mutate "
            "re-invocations inside Database.update_meta = conditional-"
            "put races LOST and retried (reported, not checked). "
            "K reader processes loop loads DURING the race (r8 item "
            "6): a successful read must never observe a torn run "
            "(_run_seq group != G rows), a regression (committed run "
            "vanishing), a phantom seq, or None after rows were seen; "
            "one writer's last append widens the pset schema so a "
            "rewrite (fresh directory published by manifest CAS) runs "
            "under the readers (read errors are recorded, not failures)."
        ),
        "writers": w,
        "appends_per_writer": r,
        "rows_per_append": g,
        "expected_rows": expected,
        "total_rows": total,
        "distinct_run_ids": n_runs,
        "distinct_run_seqs": n_run_seq,
        "run_seq_range": [run_seq_minmax[0], run_seq_minmax[1]],
        "distinct_pset_seqs": n_pset_seq,
        "run_seq_collisions": rs_fn,
        "pset_seq_collisions": ps_fn,
        "distinct_pset_values": n_a,
        "wrong_results": y_bad,
        "widened_rows": n_b,
        "widened_wrong": b_bad,
        "distinct_pset_hashes": n_hash,
        "cas_retries_total": sum(rep["cas_retries"] for rep in reports),
        "workers": reports,
        "readers": rreports,
        "reader_reads_total": sum(rep["reads"] for rep in rreports),
        "reader_errors_total": sum(rep["read_errors"] for rep in rreports),
    }
    readers_ok = all(
        rep["torn_runs"] == 0
        and rep["regressions"] == 0
        and rep["phantoms"] == 0
        and rep["empty_after_rows_reads"] == 0
        and rep["reads"] >= 3
        for rep in rreports
    )
    ok = (
        total == expected
        and n_runs == w * r
        and n_run_seq == w * r
        and run_seq_minmax[0] == 0
        and run_seq_minmax[1] == w * r - 1
        and n_pset_seq == expected
        and rs_fn == 0
        and ps_fn == 0
        and n_a == expected
        and y_bad == 0
        and n_b == g
        and b_bad == 0
        and n_hash == expected
        and readers_ok
    )
    summary["invariants_ok"] = ok
    summary["reader_invariants_ok"] = readers_ok
    return summary


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
               int(sys.argv[5]), sys.argv[6])
        return 0
    if len(sys.argv) > 1 and sys.argv[1] == "--reader":
        reader(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
               sys.argv[5])
        return 0

    vals = [int(x) for x in sys.argv[1:5]]
    w, r, g, k = vals + [4, 6, 200, 3][len(vals):]
    summary = stress(w, r, g, k)
    print(json.dumps({k: v for k, v in summary.items() if k != "_doc"},
                     indent=2))
    path = os.path.join(REPO, "STRESS_CONCURRENT.json")
    with open(path, "w") as fh:
        json.dump(summary, fh, indent=2, sort_keys=True)
    print(f"wrote {path}  invariants_ok={summary['invariants_ok']}")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0 if summary["invariants_ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
