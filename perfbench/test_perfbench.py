"""Tests of the benchmark's own arithmetic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import textwrap
import time

import pytest

from perfbench import procstat, stats
from perfbench.tracing import Job, Span, Tracer, attribute, innermost, self_time


# -- tail percentile rule ----------------------------------------------------


@pytest.mark.parametrize(
    "n, pct, beyond",
    [(1000, 99.0, 10), (200, 95.0, 10), (100, 90.0, 10), (40, 75.0, 10),
     (99, 75.0, 24), (20, 50.0, 10), (30, 50.0, 15)],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, pct, beyond):
    xs = [float(i) for i in range(1, n + 1)]
    value, got_pct, got_beyond = stats.tail(xs)
    assert (got_pct, got_beyond) == (pct, beyond)
    assert value == xs[n - beyond - 1]
    assert sum(x > value for x in xs) == beyond


def test_tail_with_too_few_samples_is_the_max():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail([float(i) for i in range(19)]) == (18.0, 100.0, 0)


def test_nearest_rank_is_order_free():
    assert stats.nearest_rank([5.0, 1.0, 4.0, 2.0, 3.0], 50) == (3.0, 2)
    assert stats.nearest_rank([2.0], 99.9) == (2.0, 0)


# -- /proc process-tree accounting ------------------------------------------


def _fake_proc(root, procs):
    """procs: pid -> (ppid, comm, utime, stime, cutime, cstime, hwm_kb)."""
    for pid, (ppid, comm, ut, st, cut, cst, hwm) in procs.items():
        d = root / str(pid)
        d.mkdir()
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)]
        rest += ["0"] * 30
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(rest) + "\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm} kB\nVmRSS:\t1 kB\n")
        (d / "comm").write_text(comm + "\n")
    (root / "self").mkdir()  # non-numeric entries are skipped


@pytest.fixture
def proc(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, "python3", 100, 20, 0, 0, 2048),       # benchmark driver
        11: (10, "java", 400, 50, 0, 0, 8192),         # Spark JVM
        12: (11, "python3 -m (daemon)", 5, 5, 30, 10, 512),  # worker daemon, reaped kids
        13: (12, "python3", 7, 3, 0, 0, 256),          # live worker
        20: (1, "java", 999, 999, 0, 0, 99999),        # unrelated process
    })
    return str(tmp_path)


def test_tree_pids_follows_parent_links(proc):
    assert sorted(procstat.tree_pids(10, proc)) == [10, 11, 12, 13]
    assert sorted(procstat.tree_pids(12, proc)) == [12, 13]


def test_tree_cpu_counts_live_and_reaped_time_once(proc):
    ticks = (100 + 20) + (400 + 50) + (5 + 5 + 30 + 10) + (7 + 3)
    assert procstat.tree_cpu_seconds(10, proc) == pytest.approx(ticks / procstat.CLK_TCK)


def test_comm_with_spaces_and_parens_parses(proc):
    assert procstat.cpu_seconds([12], proc) == pytest.approx(50 / procstat.CLK_TCK)


def test_peak_rss_sums_driver_and_jvm_only(proc):
    assert procstat.peak_rss_mb(10, proc) == pytest.approx((2048 + 8192) / 1024)


def test_vanished_process_reads_as_zero(proc):
    assert procstat.cpu_seconds([999], proc) == 0.0
    assert procstat.status_kb(999, "VmHWM", proc) == 0


def test_live_tree_cpu_grows_with_work():
    before = procstat.tree_cpu_seconds()
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    assert procstat.tree_cpu_seconds() - before >= 0.1


def test_end_tree_kills_what_outlives_the_grace():
    child = subprocess.Popen(["sleep", "30"])
    assert child.pid in procstat.live_descendants()
    assert procstat.end_tree(grace=0.1) == [child.pid]
    assert procstat.live_descendants() == []


def test_end_tree_reaps_orphans_of_its_tree():
    # sh leaves a sleep behind when it exits; as a subreaper the run
    # inherits it and waits for it
    script = textwrap.dedent("""
        import subprocess, sys, time
        from perfbench import procstat
        assert procstat.become_subreaper()
        subprocess.run(["sh", "-c", "sleep 0.5 &"], check=True)
        orphans = procstat.live_descendants()
        t = time.monotonic()
        killed = procstat.end_tree(grace=10)
        print(len(orphans), killed, procstat.live_descendants(),
              time.monotonic() - t > 0.2)
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", script], cwd=root, check=True,
                         capture_output=True, text=True).stdout
    assert out.split() == ["1", "[]", "[]", "True"]


# -- spans: self time and job attribution ------------------------------------


def _spans():
    return [
        Span("op", 0.0, 10.0, None, 0),          # 0
        Span("runner.run", 1.0, 9.0, 0, 0),      # 1
        Span("database.load", 2.0, 3.0, 1, 0),   # 2
        Span("database.append", 2.5, 5.0, 1, 0),  # 3 overlaps 2
        Span("database.writer_lock_held", 4.0, 4.5, 3, 0),  # 4
        Span("database.load", 8.0, 12.0, 1, 0),  # 5 runs past its parent
    ]


def test_self_time_subtracts_union_of_children():
    spans = _spans()
    # runner.run 1..9; children cover 2..5 and 8..9 (clipped) -> 4 s
    assert self_time(spans, 1) == pytest.approx(8.0 - 4.0)
    assert self_time(spans, 3) == pytest.approx(2.5 - 0.5)
    assert self_time(spans, 4) == pytest.approx(0.5)
    assert self_time(spans, 0) == pytest.approx(10.0 - 8.0)


def test_job_goes_to_innermost_open_span():
    spans = _spans()
    cands = list(range(len(spans)))
    assert innermost(spans, cands, 4.2) == 4
    assert innermost(spans, cands, 2.7) == 3  # inside load and append: latest start
    assert innermost(spans, cands, 6.0) == 1
    assert innermost(spans, cands, 0.5) == 0
    assert innermost(spans, cands, 20.0) is None


def test_attribute_keeps_op_and_call_site():
    tr = Tracer(spans=_spans())
    tr.spans.append(Span("op", 20.0, 30.0, None, 1))
    jobs = [Job(1, "collect at runner.py:758", 4.2), Job(2, "count at x.py:1", 25.0)]
    attribute(tr, 0, jobs)
    assert [(j.op, j.span) for j in jobs] == [(0, 4), (0, None)]
    assert tr.jobs[0].call_site == "collect at runner.py:758"


# -- tracer wrappers ---------------------------------------------------------


class _Lib:
    def __init__(self):
        self.log = []

    def work(self, x):
        self.log.append(("work", time.time()))
        return x + 1

    @contextlib.contextmanager
    def lock(self):
        time.sleep(0.02)  # acquisition is not held time
        self.log.append(("acquired", time.time()))
        yield
        self.log.append(("released", time.time()))


def test_patch_records_spans_only_while_enabled_and_unpatches():
    tr = Tracer()
    tr.patch(_Lib, "work", "lib.work")
    tr.patch_context(_Lib, "lock", "lib.lock_held")
    lib = _Lib()
    assert lib.work(1) == 2
    assert tr.spans == []
    tr.enabled, tr.op = True, 7
    with tr.span("op"):
        with lib.lock():
            lib.work(2)
    names = [(s.name, s.parent, s.op) for s in tr.spans]
    assert names == [("op", None, 7), ("lib.lock_held", 0, 7), ("lib.work", 1, 7)]
    held = tr.spans[1]
    acquired = dict(lib.log)["acquired"]
    assert held.start >= acquired and held.end - held.start < 0.02
    tr.unpatch()
    assert _Lib.work.__qualname__ == "_Lib.work" and not hasattr(_Lib.work, "__wrapped__")


# -- per-layer medians -------------------------------------------------------


def test_per_layer_counts_jobs_by_innermost_span_prefix(monkeypatch):
    monkeypatch.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import run

    tr = Tracer(spans=_spans())
    attribute(tr, 0, [Job(1, "a", 0.5), Job(2, "b", 2.2), Job(3, "c", 4.2),
                      Job(4, "d", 6.0)])
    ops = [run.OpRec("run", 10.0, 1.0, True, 100, files_added=3),
           run.OpRec("run", 9.0, 1.0, False, 100)]
    m = run.per_layer(tr, ops)
    assert m["spark.jobs"] == 4
    assert m["database.jobs"] == 2
    assert m["database.load_jobs"] == 1
    assert m["runner.jobs"] == 1
    assert m["runner.run.self_s"] == pytest.approx(4.0)
    assert m["database.load_s"] == pytest.approx(1.0 + 4.0)
    assert m["database.files_added"] == 3
    assert m["trace.overhead_s"] == pytest.approx(1.0)


def test_host_sizing_leaves_a_core_spare(monkeypatch):
    from perfbench import run

    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: set(range(4)))
    assert run.host_sizing()["cpus"] == 3
    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: {0, 1})
    assert run.host_sizing()["cpus"] == 2
    h = run.host_sizing()
    assert run.HEAP_MIN_MB <= h["heap_mb"] <= run.HEAP_MAX_MB
