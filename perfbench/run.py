"""Run one benchmark workload against the psweep_spark in the current
directory and print its metrics.

    python3 perfbench/run.py --workload sweep_append --seed 1 --seconds 12 --trace 0

The run sizes the Spark session from the host, builds its inputs from
``--seed``, sets up and warms up (timed as ``setup_s``), then runs ops
back to back, one client in a closed loop, until ``--seconds`` have
passed and the workload's ``min_ops`` are done.  Outputs are checked
after the timed window.  With ``--trace 0`` the last stdout line is a
JSON object with the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` it holds the per-layer metrics, read from spans and
Spark's status store on every other pair of op blocks (ABBA order),
plus the tracing overhead measured against the untraced ops of the
same run.  Everything the run writes stays under ``.perfbench_work/``
in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import procstat, stats  # noqa: E402
from perfbench.tracing import SparkJobs, Tracer, attribute, self_time  # noqa: E402

#: local parallelism leaves one core for the driver JVM and the Python
#: driver: on a 4-core host local[3] ran the sweep_append ramp faster
#: than local[4] (NOTES.md, host sizing)
SPARE_CORES = 1
#: driver heap as a share of host memory, clamped
HEAP_SHARE, HEAP_MIN_MB, HEAP_MAX_MB = 8, 1024, 4096


@dataclass
class OpRec:
    kind: str
    wall: float
    cpu: float
    traced: bool
    out: int  # psets appended (sweep_append) or rows returned (history_query)
    files_added: int = 0


def host_sizing() -> dict:
    ncpu = len(os.sched_getaffinity(0))
    mem_mb = _host_mem_mb()
    return {
        "nproc": ncpu,
        "cpus": max(1, ncpu - SPARE_CORES) if ncpu > 2 else ncpu,
        "mem_mb": mem_mb,
        "heap_mb": min(HEAP_MAX_MB, max(HEAP_MIN_MB, mem_mb // HEAP_SHARE)),
    }


def _host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        mem = int(fh.readline().split()[1]) // 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            lim = fh.read().strip()
        if lim.isdigit():
            mem = min(mem, int(lim) // (1024 * 1024))
    except FileNotFoundError:
        pass
    return mem


def start_spark(work: str, host: dict):
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["PSWEEP_SPARK_DRIVER_MEM"] = f"{host['heap_mb']}m"
    os.environ["PYTHONPATH"] = ROOT  # workers unpickle perfbench.userfuncs
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    from psweep_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap resident from the start, so JVM RSS does not
            # depend on when G1 grows the heap; C1 only, so the JIT reaches
            # its plateau within the warm-up (NOTES.md, host sizing); no
            # hsperfdata file, which would go to /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{host['heap_mb']}m "
                "-XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:-UsePerfData"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process this run started has ended.  The JVM exits only when its
    stdin closes, which would otherwise happen after this process has
    exited."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may be gone already
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=15)
            except Exception:
                proc.kill()
                proc.wait()
        procstat.end_tree()


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def count_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def make_workload(name: str, spark, work: str, seed: int):
    if name == "sweep_append":
        from perfbench.sweep_append import SweepAppend

        return SweepAppend(spark, work, seed)
    from perfbench.history_query import HistoryQuery

    return HistoryQuery(spark, work, seed)


def end_to_end(wl, ops: list[OpRec], setup_s: float) -> tuple[dict, dict]:
    walls = [o.wall for o in ops]
    value, pct, beyond = stats.tail(walls)
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": stats.median(walls),
        "op_tail_s": value,
        "cpu_s": stats.median([o.cpu for o in ops]),
        "psets_per_s": wl.append_rate(walls, [o.out for o in ops]),
        "stored_bytes_per_row": dir_bytes(wl.db_dir) / wl.rows_stored,
        "peak_rss_mb": procstat.peak_rss_mb(),
    }
    notes = {"op_tail_pct": pct, "op_tail_beyond": beyond}
    return metrics, notes


def per_layer(tracer: Tracer, ops: list[OpRec]) -> dict:
    """Medians over traced ops of each layer's time and counts."""
    from perfbench.history_query import KINDS

    spans = tracer.spans
    rows: list[dict] = []
    for i, o in enumerate(ops):
        if not o.traced:
            continue
        mine = tracer.op_spans(i)
        jobs = [j for j in tracer.jobs if j.op == i]

        def dur(name):
            return sum(spans[k].end - spans[k].start for k in mine if spans[k].name == name)

        def jobs_in(prefix):
            return sum(
                j.span is not None and spans[j.span].name.startswith(prefix) for j in jobs
            )

        rows.append({
            "runner.run.self_s": sum(
                self_time(spans, k) for k in mine if spans[k].name == "runner.run"
            ),
            "runner.prepare_params_df_s": dur("runner.prepare_params_df"),
            "runner.jobs": jobs_in("runner."),
            "database.reserve_seqs_s": dur("database.reserve_seqs"),
            "database.append_s": dur("database.append"),
            "database.writer_lock_held_s": dur("database.writer_lock_held"),
            "database.load_s": dur("database.load"),
            "database.jobs": jobs_in("database."),
            "database.load_jobs": jobs_in("database.load"),
            "database.files_added": o.files_added,
            "metastore.cas_puts": sum(
                spans[k].name == "metastore.put_if_absent" for k in mine
            ),
            "query.build_s": dur("query.build"),
            "spark.jobs": len(jobs),
            "spark.task_cpu_s": sum(j.task_cpu_s for j in jobs),
            "spark.input_bytes": sum(j.input_bytes for j in jobs),
            "spark.rows_scanned_per_row_returned": (
                sum(j.input_records for j in jobs) / max(o.out, 1)
            ),
            "spark.shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs) / 2**20,
        })
    out = {k: stats.median([r[k] for r in rows]) for k in rows[0]}
    for kind in KINDS:
        walls = [o.wall for o in ops if o.traced and o.kind == kind]
        out[f"query.{kind}_s"] = stats.median(walls) if walls else 0.0
    traced = [o.wall for o in ops if o.traced]
    plain = [o.wall for o in ops if not o.traced]
    out["trace.overhead_s"] = stats.median(traced) - stats.median(plain)
    return out


def run(args) -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "psweep_spark")) or not os.path.isfile(spec_path):
        print("perfbench: run from the repository root (psweep_spark/ and "
              "BENCHMARK.json must be in the current directory)", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    host = host_sizing()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # every process the run starts is ended before it exits, also when it
    # is stopped with SIGTERM or SIGHUP
    procstat.become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    signal.signal(signal.SIGHUP, _exit_on_sigterm)
    spark = None
    t0 = time.perf_counter()
    try:
        spark = start_spark(work, host)
        wl = make_workload(args.workload, spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t0

        tracer = Tracer()
        jobs = None
        if args.trace:
            wl.patch(tracer)
            jobs = SparkJobs(spark)
        ops: list[OpRec] = []
        failed_ops: set[int] = set()
        steal0 = procstat.steal_share()
        deadline = time.perf_counter() + args.seconds
        # tracing is on for blocks 1, 2, 5, 6, ... (ABBA), so traced and
        # untraced ops see the same kind mix and history growth; a traced
        # run needs one whole ABBA cycle
        min_ops = max(wl.min_ops, 4 * wl.block if args.trace else 1)
        while len(ops) < min_ops or time.perf_counter() < deadline:
            i = len(ops)
            kind, payload = wl.next_op(i)
            traced = bool(args.trace) and (i // wl.block) % 4 in (1, 2)
            files0 = count_files(wl.db_dir) if traced else 0
            tracer.op, tracer.enabled = i, traced
            out = 0
            c0 = procstat.tree_cpu_seconds()
            w0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    out = wl.op(kind, payload, tracer)
            except Exception:  # an op failure is data: count it, keep going
                traceback.print_exc()
                failed_ops.add(i)
            wall = time.perf_counter() - w0
            cpu = procstat.tree_cpu_seconds() - c0
            tracer.enabled = False
            rec = OpRec(kind, wall, cpu, traced, out)
            if traced:
                rec.files_added = count_files(wl.db_dir) - files0
            if jobs is not None:
                new = jobs.new_jobs()
                if traced:
                    attribute(tracer, i, new)
            ops.append(rec)
        steal = procstat.steal_share(steal0)
        tracer.unpatch()
        failed_ops |= wl.check(len(ops))

        e2e, notes = end_to_end(wl, ops, setup_s)
        metrics = per_layer(tracer, ops) if args.trace else e2e
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} host={json.dumps(host)}")
    print(f"# ops={len(ops)} failed_ops={len(failed_ops) / len(ops):.4f} "
          f"op_tail=p{notes['op_tail_pct']:g} ({notes['op_tail_beyond']} beyond) "
          f"cpu_steal={steal:.3f}")
    if args.trace:  # as measured with half the ops traced
        for name, value in e2e.items():
            print(f"# traced run: {name} = {value:.6g}")
    units = {m["name"]: m["unit"] for m in wanted}
    for name, unit in units.items():
        print(f"# {name} = {metrics[name]:.6g} {unit}")
    result = {
        "correct": not failed_ops,
        "attempted": len(ops),
        "failed": len(failed_ops),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("sweep_append", "history_query"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
