"""run() lifecycle invariants — mirror reference tests/test_all.py:170-315.

2 runs x 4 psets -> 8 rows, 2 distinct _run_id, 8 distinct _pset_id,
4 distinct _pset_hash; skip_dups re-run adds 0 rows; simulate appends
null-result rows to a shadow DB; schema evolution rehashes history.
"""

import datetime
import os
import re
import uuid

import pytest
from conftest import jobs_of
from pyspark.sql import functions as F
from pyspark.sql import types as T

from psweep_spark import (
    RESERVED_COLS,
    Database,
    df_extract_params,
    failed_psets,
    latest_per_pset,
    pgrid,
    plist,
    prepare_params_df,
    pset_hash,
    run,
    uuid5_expr,
)


def func_a(pset):
    return {"result_": pset["a"] * 10.0}


@pytest.fixture()
def calc_dir(tmp_path):
    return str(tmp_path / "calc")


def test_run_basic_invariants(spark, calc_dir):
    params = pgrid([plist("a", [1, 2, 3, 4])])
    df = run(spark, func_a, params, calc_dir=calc_dir)
    assert df.count() == 4
    df2 = run(spark, func_a, params, calc_dir=calc_dir)
    rows = df2.collect()
    assert len(rows) == 8
    assert df2.select("_run_id").distinct().count() == 2
    assert df2.select("_pset_id").distinct().count() == 8
    assert df2.select("_pset_hash").distinct().count() == 4
    # reserved column set parity (reference tests/test_all.py:200-214)
    for c in RESERVED_COLS:
        assert c in df2.columns, c
    # _pset_seq == 0..7 contiguous (reference: seq == df.index)
    seqs = sorted(r["_pset_seq"] for r in rows)
    assert seqs == list(range(8))
    # run seqs 0 then 1
    assert {r["_run_seq"] for r in rows} == {0, 1}
    # results
    for r in rows:
        assert r["result_"] == r["a"] * 10.0
        assert r["_pset_runtime"] >= 0
        assert r["_time_utc"] is not None
        assert r["_exec_host"]
    # stored hash equals recomputed python hash over pset cols
    for r in rows:
        assert r["_pset_hash"] == pset_hash({"a": r["a"]})


def test_skip_dups(spark, calc_dir):
    params = pgrid([plist("a", [1, 2, 3, 4])])
    run(spark, func_a, params, calc_dir=calc_dir)
    df = run(spark, func_a, params, calc_dir=calc_dir, skip_dups=True)
    assert df.count() == 4  # no new rows
    params2 = pgrid([plist("a", [3, 4, 5])])
    df = run(spark, func_a, params2, calc_dir=calc_dir, skip_dups=True)
    assert df.count() == 5  # only a=5 added
    assert df.filter(F.col("a") == 5).count() == 1
    assert df.select("_pset_hash").distinct().count() == 5


def _run_files(calc_dir, run_id):
    d = os.path.join(calc_dir, "database", "data", f"_run_id={run_id}")
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_eager_skip_dups_runs_few_jobs(spark, calc_dir):
    """An eager skip-dups run hashes its grid and probes the DB's hashes
    on the driver, its Database calls read the manifest, not the table,
    and its one file is written on the driver: a second
    run(skip_dups=True, safe=True) runs no Spark job, where the
    take/agg/take/write sequence with schema-merge loads took 20."""
    run(spark, func_a, pgrid([plist("a", list(range(40)))]),
        calc_dir=calc_dir, skip_dups=True, safe=True)
    jobs, df = jobs_of(spark, lambda: run(
        spark, func_a, pgrid([plist("a", list(range(20, 60)))]),
        calc_dir=calc_dir, skip_dups=True, safe=True))
    assert jobs == []
    assert df.count() == 60


def test_eager_runs_without_skip_dups_run_no_job(spark, calc_dir):
    """A first eager run and a later one without skip-dups read only the
    manifest, run func on the driver and write their file there: no
    Spark job."""
    grid = pgrid([plist("a", list(range(20)))])
    for _ in range(2):
        jobs, df = jobs_of(spark, lambda: run(spark, func_a, grid,
                                              calc_dir=calc_dir, safe=True))
        assert jobs == []
    assert df.count() == 40


def test_eager_skip_dups_seq_contiguous_in_submission_order(spark, calc_dir):
    """Repeats interleaved among new psets are dropped and the new rows
    get _pset_seq = base+1 … base+n in the order they were submitted."""
    run(spark, func_a, [{"a": 2}, {"a": 4}], calc_dir=calc_dir)
    grid = [{"a": v} for v in (9, 2, 7, 4, 1, 8)]
    df = run(spark, func_a, grid, calc_dir=calc_dir, skip_dups=True)
    new = df.filter(F.col("_run_seq") == 1).orderBy("_pset_seq").collect()
    assert [r["a"] for r in new] == [9, 7, 1, 8]
    assert [r["_pset_seq"] for r in new] == [2, 3, 4, 5]
    assert all(r["result_"] == r["a"] * 10.0 for r in new)


def test_eager_skip_dups_keeps_repeats_inside_grid(spark, calc_dir):
    """skip-dups drops psets the DB already holds, not repeats within
    one grid: a new pset given twice runs twice, and the kept rows get
    contiguous _pset_seq in submission order."""
    run(spark, func_a, [{"a": 2}, {"a": 4}], calc_dir=calc_dir)
    grid = [{"a": v} for v in (5, 2, 5, 4, 6)]
    df = run(spark, func_a, grid, calc_dir=calc_dir, skip_dups=True)
    new = df.filter(F.col("_run_seq") == 1).orderBy("_pset_seq").collect()
    assert [r["a"] for r in new] == [5, 5, 6]
    assert [r["_pset_seq"] for r in new] == [2, 3, 4]
    assert new[0]["_pset_hash"] == new[1]["_pset_hash"] == pset_hash({"a": 5})


def _subtree(plan: str, marker: str) -> list[str]:
    """Lines of the plan tree below the first line holding ``marker``."""
    lines = plan.splitlines()
    start = next(i for i, line in enumerate(lines) if marker in line)
    depth = lines[start].find(marker)
    out = []
    for line in lines[start + 1:]:
        body = line.lstrip(" :|+-*")
        if len(line) - len(body) <= depth:
            break
        out.append(line)
    return out


def test_eager_skip_dups_probe_plan(spark, calc_dir, monkeypatch):
    """Past its size cap, the eager skip-dups probe runs in Spark: it
    streams the DB and broadcasts the grid's hashes, so its executed
    plan has no shuffle, no aggregate, and the DB's FileScan is not
    under the BroadcastExchange."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from psweep_spark import database
    from psweep_spark.plans import _drop_initial_plan_sections

    run(spark, func_a, pgrid([plist("a", list(range(30)))]), calc_dir=calc_dir)
    monkeypatch.setattr(database, "PROBE_MAX_BYTES", 0)
    collect, seen = ClassicDataFrame.collect, []

    def recording_collect(self):
        out = collect(self)
        seen.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(ClassicDataFrame, "collect", recording_collect)
    df = run(spark, func_a, pgrid([plist("a", list(range(20, 40)))]),
             calc_dir=calc_dir, skip_dups=True)
    monkeypatch.undo()
    assert df.count() == 40
    (plan,) = [
        _drop_initial_plan_sections(p) for p in seen if "LeftSemi" in p
    ]
    assert "BroadcastHashJoin" in plan, plan
    # a shuffle prints as "Exchange" (ShuffleExchangeExec) in the tree
    assert not re.search(r"(?<!Broadcast)Exchange\b|ShuffleQueryStage", plan), plan
    assert "HashAggregate" not in plan, plan
    assert "FileScan" in plan, plan
    assert not any("FileScan" in line for line in _subtree(plan, "BroadcastExchange")), plan


def test_eager_runs_past_32_runs_list_the_table_once(spark, calc_dir):
    """Past 32 ``_run_id`` partitions listing the table is one Spark job.
    An eager run lists it once, for the DataFrame it returns: the
    skip-dups probe reads the files with pyarrow, and append takes the
    widening check's pset columns from the manifest."""
    for a in range(40):
        run(spark, func_a, [{"a": a}], calc_dir=calc_dir)
    jobs, df = jobs_of(spark, lambda: run(
        spark, func_a, [{"a": 0}, {"a": 100}], calc_dir=calc_dir,
        skip_dups=True))
    assert len(jobs) == 1, jobs
    assert df.count() == 41
    jobs, df = jobs_of(spark, lambda: run(spark, func_a, [{"a": 200}],
                                          calc_dir=calc_dir))
    assert len(jobs) == 1, jobs
    assert df.count() == 42


def _widened_db(spark, calc_dir):
    run(spark, func_a, pgrid([plist("a", [1, 2, 3])]), calc_dir=calc_dir)
    run(spark, func_a, pgrid([plist("a", [1, 4]), plist("b", [5, 6])]),
        calc_dir=calc_dir)
    db = Database(os.path.join(calc_dir, "database"))
    assert db.read_meta()["data_dir"].startswith("data."), db.read_meta()
    return [{"a": a, "b": b} for a in (1, 2, 4, 7) for b in (None, 5, 6)]


def _multi_file_db(spark, calc_dir):
    df = run(spark, func_a, pgrid([plist("a", list(range(12)))]),
             calc_dir=calc_dir, poolsize=2)
    assert len(_run_files(calc_dir, df.first()["_run_id"])) == 2
    return [{"a": a} for a in range(6, 18)]


def _repeats_grid(spark, calc_dir):
    run(spark, func_a, [{"a": 2}, {"a": 4}], calc_dir=calc_dir)
    return [{"a": v} for v in (5, 2, 5, 4, 6, 6, 2)]


@pytest.mark.parametrize("make", [_widened_db, _multi_file_db, _repeats_grid],
                         ids=["widened", "multi_file", "grid_repeats"])
def test_eager_driver_probe_matches_spark_probe(spark, calc_dir, monkeypatch,
                                                make):
    """The pyarrow probe on the driver and the Spark probe it falls back
    to past its size cap keep the same rows of an eager grid, in the
    same order: on a table rewritten by a widening append (live
    directory ``data.<uuid>``), on runs of several files, and for a grid
    that repeats psets inside itself."""
    from psweep_spark import database
    from psweep_spark.runner import _eager_hashes, _typed_rows

    grid = make(spark, calc_dir)
    db = Database(os.path.join(calc_dir, "database"))
    schema, rows = _typed_rows(grid)
    cols = [c for c in schema.names if not c.startswith("_")]
    jobs, driver = jobs_of(spark, lambda: _eager_hashes(
        spark, db, schema, rows, cols, skip_dups=True))
    assert jobs == []
    monkeypatch.setattr(database, "PROBE_MAX_BYTES", 0)
    jobs, fallback = jobs_of(spark, lambda: _eager_hashes(
        spark, db, schema, rows, cols, skip_dups=True))
    assert jobs
    assert driver == fallback
    stored = {r[0] for r in db.load(spark).select("_pset_hash").collect()}
    kept = set(driver[1])
    assert kept and not kept & stored and len(driver[0]) < len(rows)


@pytest.mark.parametrize("local_relation", [True, False],
                         ids=["local_relation", "arrow_rdd"])
def test_eager_grid_matches_row_list_off_utc(spark, calc_dir, local_relation):
    """An eager grid of every value kind stores the same rows, schema
    (field metadata included) and _pset_hash as a DataFrame made from
    the same typed rows as a row list, with the driver's local time
    zone off UTC: a naive datetime means driver-local time, at top
    level and nested.  The first run stores part of the grid, the
    skip-dups run the rest, so both eager inputs are covered.  Run
    again with Spark's local-relation threshold at 0, where an Arrow
    table becomes an RDD of batches instead."""
    import time

    from psweep_spark.hashing import df_hash_expr, filter_cols
    from psweep_spark.runner import _typed_rows

    east = datetime.timezone(datetime.timedelta(hours=2))
    params = [
        {"t_naive": datetime.datetime(2024, 1, 2, 3, 4, 5, 6),
         "t_aware": datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=east),
         "t_list": [datetime.datetime(2020, 6, 1, 12), None],
         "d": datetime.date(2024, 1, 2), "c": 1 + 2j, "ints": [1, 2],
         "none_list": [], "none_str": None, "o": max, "raw": b"\x00\x01",
         "flag": True, "x": 0.5},
        {"t_naive": datetime.datetime(1999, 12, 31, 23, 59, 59),
         "t_aware": datetime.datetime(2024, 7, 1, tzinfo=datetime.timezone.utc),
         "t_list": [datetime.datetime(2024, 3, 10, 2, 30,
                                      tzinfo=datetime.timezone.utc)],
         "d": datetime.date(1970, 1, 1), "c": 0j, "ints": [],
         "none_list": [None], "none_str": None, "o": "str", "raw": None,
         "flag": False, "x": float("nan")},
        {"t_naive": None, "t_aware": None, "t_list": None, "d": None,
         "c": None, "ints": None, "none_list": None, "none_str": None,
         "o": None, "raw": b"", "flag": None, "x": None},
    ]
    key = "spark.sql.execution.arrow.localRelationThreshold"
    old_conf, old_tz = spark.conf.get(key, None), os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        if not local_relation:
            spark.conf.set(key, "0")
        leaf = prepare_params_df(spark, params, pickle_objects=True)
        leaf = leaf._jdf.queryExecution().executedPlan().toString()
        assert ("LocalTableScan" if local_relation else "ExistingRDD") in leaf
        schema, rows = _typed_rows(params, pickle_objects=True)
        want = spark.createDataFrame(rows, schema)
        want = want.withColumn(
            "_pset_hash", df_hash_expr(want.schema, filter_cols(want.columns))
        )
        run(spark, None, params[:1], calc_dir=calc_dir,
            result_schema=T.StructType([]), pickle_objects=True)
        got = run(spark, None, params, calc_dir=calc_dir, skip_dups=True,
                  result_schema=T.StructType([]), pickle_objects=True)
        cols = want.columns

        def fields(s):
            return [(f.name, f.dataType, f.metadata) for f in s.fields
                    if f.name in cols]

        def column(df, c):
            # a NaN pset cell is stored as NULL, as its hash reads it
            vals = df.orderBy("_pset_hash").select(c).collect()
            return [None if v != v else v for (v,) in vals]

        assert fields(got.schema) == fields(want.schema)
        assert got.schema["o"].metadata == {"psweep_pickled": True}
        assert got.count() == 3
        for c in cols:
            assert column(got, c) == column(want, c), c
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        if old_conf is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old_conf)


def test_eager_probe_rows_match_take(spark):
    """The eager schema probe reads its rows from the driver-side typed
    rows; they must equal what a take() of the same grid returns."""
    import datetime as dt

    from psweep_spark.runner import _spark_rows, _typed_rows

    params = [
        {"c": 1 + 2j, "t": dt.datetime(2024, 1, 2, 3, 4, 5), "d": dt.date(2024, 1, 2),
         "v": [1.0, 2.0], "s": "x", "n": None, "o": max},
        {"c": 0j, "t": dt.datetime(2020, 6, 1), "d": dt.date(1999, 12, 31),
         "v": [], "s": None, "n": 3, "o": "str"},
    ]
    schema, rows = _typed_rows(params, pickle_objects=True)
    cols = ["c", "d", "n", "o", "s", "t", "v"]
    taken = prepare_params_df(spark, params, pickle_objects=True).select(*cols).take(2)
    assert [r.asDict(recursive=True) for r in _spark_rows(schema, cols, rows)] == [
        r.asDict(recursive=True) for r in taken
    ]


def test_eager_run_writes_one_file(spark, calc_dir):
    """By default an eager run lands as ONE parquet file in its
    _run_id= partition, with and without skip-dups (the grid holds more
    rows than the session has default partitions)."""
    run(spark, func_a, pgrid([plist("a", list(range(50)))]), calc_dir=calc_dir)
    df = run(spark, func_a, pgrid([plist("a", list(range(25, 75)))]),
             calc_dir=calc_dir, skip_dups=True)
    run_ids = [r["_run_id"] for r in df.select("_run_id").distinct().collect()]
    assert len(run_ids) == 2
    for rid in run_ids:
        assert len(_run_files(calc_dir, rid)) == 1, rid


def task_id_func(pset):
    from pyspark import TaskContext

    tc = TaskContext.get()  # None in the driver-side schema probe
    return {"task_": tc.partitionId() if tc else -1}


def test_poolsize_runs_k_tasks(spark, calc_dir):
    df = run(spark, task_id_func, pgrid([plist("a", list(range(30)))]),
             calc_dir=calc_dir, poolsize=3)
    assert df.select("task_").distinct().count() == 3
    rid = df.first()["_run_id"]
    assert len(_run_files(calc_dir, rid)) == 3


def test_run_without_poolsize_calls_func_on_driver(spark, calc_dir):
    """An eager run without poolsize calls func in the driver process,
    outside any Spark task."""
    df = run(spark, task_id_func, pgrid([plist("a", list(range(30)))]),
             calc_dir=calc_dir)
    assert [r["task_"] for r in df.select("task_").collect()] == [-1] * 30


def kinds_func(pset):
    return {"y_": pset["i"] * 2.5, "t_": datetime.datetime(2024, 5, 6, 7, 8, 9),
            "tc_": pset["t_naive"], "s_": f"{pset['s']}!"}


def test_serial_run_matches_poolsize_run(spark, calc_dir):
    """The driver run (no poolsize) and the executor run (poolsize=1)
    of one grid store the same rows and the same parquet schema, with
    the driver's local time zone off UTC.  The driver path sends cells
    through ``toInternal``, which reads a naive datetime as driver-local
    time, while mapInPandas reads it in the session time zone: naive
    params, a naive datetime result, a result copied from a naive param
    and the naive-UTC ``_time_utc`` must all land as the same instant."""
    import time

    utc, east = datetime.timezone.utc, datetime.timezone(datetime.timedelta(hours=2))
    params = [
        {"i": 1, "x": 0.5, "s": "a", "flag": True, "ints": [1, 2], "c": 1 + 2j,
         "o": max, "t_naive": datetime.datetime(2024, 1, 2, 3, 4, 5, 6),
         "t_aware": datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=east),
         "t_list": [datetime.datetime(2020, 6, 1, 12), None]},
        {"i": 2, "x": -1.25, "s": "b", "flag": False, "ints": [], "c": 0j,
         "o": "str", "t_naive": datetime.datetime(1999, 12, 31, 23, 59, 59),
         "t_aware": datetime.datetime(2024, 7, 1, tzinfo=utc),
         "t_list": [datetime.datetime(2024, 3, 10, 2, 30, tzinfo=utc)]},
    ]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        t0 = int(time.time())
        dfs = {
            name: run(spark, kinds_func, params, calc_dir=calc_dir,
                      database_dir=os.path.join(calc_dir, name),
                      poolsize=poolsize, pickle_objects=True)
            for name, poolsize in (("driver", None), ("pool", 1))
        }
        t1 = time.time()
        varying = {"_run_id", "_pset_id", "_time_utc", "_pset_runtime"}
        cols = [c for c in dfs["driver"].columns if c not in varying]

        def stored(df):
            return [tuple(r) for r in df.orderBy("_pset_seq").select(*cols).collect()]

        def file_schema(name, df):
            (rid,) = {r["_run_id"] for r in df.select("_run_id").collect()}
            part = os.path.join(calc_dir, name, "data", f"_run_id={rid}")
            return spark.read.parquet(part).schema

        assert dfs["driver"].schema == dfs["pool"].schema
        assert file_schema("driver", dfs["driver"]) == file_schema("pool", dfs["pool"])
        assert stored(dfs["driver"]) == stored(dfs["pool"])
        want_tc = [datetime.datetime(2024, 1, 2, 3, 4, 5, 6),
                   datetime.datetime(1999, 12, 31, 23, 59, 59)]
        for df in dfs.values():
            rows = df.orderBy("_pset_seq").select(
                "_run_id", "_pset_seq", "_pset_id", "tc_",
                F.col("t_").cast("long").alias("t_s"),
                F.col("_time_utc").cast("long").alias("time_s"),
            ).collect()
            assert [r["tc_"] for r in rows] == want_tc
            want_t = datetime.datetime(2024, 5, 6, 7, 8, 9, tzinfo=utc).timestamp()
            assert all(r["t_s"] == want_t for r in rows)
            assert all(t0 <= r["time_s"] <= t1 for r in rows), (t0, rows, t1)
            assert all(r["_pset_id"] == str(uuid.uuid5(uuid.UUID(r["_run_id"]),
                                                       str(r["_pset_seq"])))
                       for r in rows)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def time_func(pset):
    return {"naive_": pset["_time_utc"].tzinfo is None}


def test_time_utc_is_the_instant_under_a_session_time_zone(spark, calc_dir):
    """``func`` sees ``_time_utc`` as naive UTC; the stored value is the
    instant, on the driver and on executors, whatever the session time
    zone."""
    import time

    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        t0 = int(time.time())
        dfs = [run(spark, time_func, pgrid([plist("a", [1, 2, 3])]),
                   calc_dir=calc_dir, database_dir=os.path.join(calc_dir, name),
                   poolsize=poolsize)
               for name, poolsize in (("driver", None), ("pool", 1))]
        t1 = time.time()
        for df in dfs:
            rows = df.select("naive_", F.unix_timestamp("_time_utc")).collect()
            assert len(rows) == 3
            assert all(r[0] and t0 <= r[1] <= t1 for r in rows), (t0, rows, t1)
    finally:
        spark.conf.set(key, old)


#: stored columns of a safe=True run with pset cols a, b and result_;
#: _run_id is the partition directory, so a load lists it last
STORED_COLUMNS = [
    ("a", "bigint"),
    ("b", "string"),
    ("_pset_hash", "string"),
    ("_run_seq", "bigint"),
    ("_pset_seq", "bigint"),
    ("_pset_id", "string"),
    ("_calc_dir", "string"),
    ("result_", "double"),
    ("_time_utc", "timestamp"),
    ("_pset_runtime", "double"),
    ("_exec_host", "string"),
    ("_failed", "boolean"),
    ("_exc_txt", "string"),
]


def test_eager_stored_columns_pinned(spark, calc_dir):
    """Column names, order and types of every run's file — a first run
    and a skip-dups run alike — and of the loaded table."""
    run(spark, func_a, pgrid([plist("a", [1, 2, 3]), plist("b", ["x", "y"])]),
        calc_dir=calc_dir, safe=True)
    df = run(spark, func_a, pgrid([plist("a", [3, 4]), plist("b", ["x", "y"])]),
             calc_dir=calc_dir, safe=True, skip_dups=True)

    def cols(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    assert cols(df.schema) == STORED_COLUMNS + [("_run_id", "string")]
    run_ids = [r["_run_id"] for r in df.select("_run_id").distinct().collect()]
    assert len(run_ids) == 2
    for rid in run_ids:
        part = os.path.join(calc_dir, "database", "data", f"_run_id={rid}")
        assert cols(spark.read.parquet(part).schema) == STORED_COLUMNS, rid


def test_concurrent_runs_unique_ids_and_seqs(spark, calc_dir):
    """Two run() calls racing into one DB (the lost-update scenario:
    both would read max_seqs before either appends) must never collide
    on _run_seq/_pset_seq/_pset_id — closed by lockfile seq
    reservation + stage-then-commit append.  Mirrors the uniqueness
    invariants of reference tests/test_all.py:179-199, which the
    single-process reference satisfies by construction."""
    import threading

    errs = []

    def worker(vals):
        try:
            run(spark, func_a, pgrid([plist("a", vals)]), calc_dir=calc_dir)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=([1, 2, 3],)),
        threading.Thread(target=worker, args=([10, 20, 30],)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    db = Database(os.path.join(calc_dir, "database")).load(spark)
    assert db.count() == 6
    assert db.select("_run_id").distinct().count() == 2
    assert db.select("_pset_id").distinct().count() == 6
    assert db.select("_pset_seq").distinct().count() == 6
    assert db.select("_run_seq").distinct().count() == 2
    per = db.groupBy("_run_seq").count().collect()
    assert sorted(r["count"] for r in per) == [3, 3]


def test_concurrent_runs_on_simulated_object_store(spark, calc_dir, monkeypatch):
    """The same race as above, but with ALL commit metadata (seq
    watermarks, writer lock) going through a simulated object store
    that provides ONLY conditional put — no atomic rename, no O_EXCL
    lockfiles, no mtimes (VERDICT r3 item 4).  The versioned-manifest
    CAS must keep every uniqueness invariant on that API surface."""
    import threading

    from psweep_spark.database import Database as DB
    from psweep_spark.metastore import InMemoryConditionalStore

    db_path = os.path.join(calc_dir, "database")
    InMemoryConditionalStore.reset_namespace(db_path)
    monkeypatch.setattr(
        DB, "default_store_factory",
        staticmethod(InMemoryConditionalStore.for_namespace),
    )

    errs = []

    def worker(vals):
        try:
            run(spark, func_a, pgrid([plist("a", vals)]), calc_dir=calc_dir)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=([1, 2, 3],)),
        threading.Thread(target=worker, args=([10, 20, 30],)),
        threading.Thread(target=worker, args=([100, 200, 300],)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    db = Database(db_path).load(spark)
    assert db.count() == 9
    assert db.select("_run_id").distinct().count() == 3
    assert db.select("_pset_id").distinct().count() == 9
    assert db.select("_pset_seq").distinct().count() == 9
    assert db.select("_run_seq").distinct().count() == 3
    # the shim really was the commit path: manifests were committed
    # through conditional put, not through any POSIX file
    store = InMemoryConditionalStore.for_namespace(db_path)
    assert store.list_keys("_psweep_meta.v"), "no CAS manifests committed"
    InMemoryConditionalStore.reset_namespace(db_path)


def test_reserve_seqs_watermark_survives_crashed_run(spark, calc_dir, monkeypatch):
    """A reservation that never lands (crashed run) must leave a GAP,
    never a collision: the manifest watermark alone hands out the next
    seq range, without scanning the table."""
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)

    def no_scan(self, spark):
        raise AssertionError("max_seqs scanned the table")

    monkeypatch.setattr(Database, "max_seqs", no_scan)
    db = Database(os.path.join(calc_dir, "database"))
    rs, pb = db.reserve_seqs(spark, 5)  # reserved, then "crash"
    assert (rs, pb) == (1, 1)
    df = run(spark, func_a, pgrid([plist("a", [7])]), calc_dir=calc_dir)
    row = df.where(F.col("a") == 7).first()
    assert row["_run_seq"] == 2
    assert row["_pset_seq"] == 7  # skips the 5 orphaned slots


def test_vacuum_removes_stale_staging_only(spark, calc_dir):
    """vacuum() clears crashed-append staging debris past the age
    threshold and never touches the live table or fresh staging."""
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    db = Database(os.path.join(calc_dir, "database"))
    stale = db.data_path + ".staging-deadbeef"
    fresh = db.data_path + ".staging-00c0ffee"
    os.makedirs(stale)
    os.makedirs(fresh)
    os.utime(stale, (1, 1))  # ancient mtime
    removed = db.vacuum(max_age_s=3600)
    assert removed == [stale]
    assert not os.path.isdir(stale) and os.path.isdir(fresh)
    assert db.load(spark).count() == 2


def test_uuid5_expr_matches_python(spark):
    run_id = str(uuid.uuid4())
    df = spark.range(5).select(
        F.col("id"),
        uuid5_expr(F.lit(run_id), F.col("id").cast("string")).alias("u"),
    )
    for r in df.collect():
        assert r["u"] == str(uuid.uuid5(uuid.UUID(run_id), str(r["id"])))


def test_simulate(spark, calc_dir):
    params = pgrid([plist("a", [1, 2])])
    real = run(spark, func_a, params, calc_dir=calc_dir)
    assert real.count() == 2
    sim = run(spark, func_a, pgrid([plist("a", [3, 4])]), calc_dir=calc_dir, simulate=True)
    # shadow DB holds old rows + new null-result rows
    assert sim.count() == 4
    assert sim.filter(F.col("result_").isNull()).count() == 2
    # real DB untouched
    db = Database(os.path.join(calc_dir, "database"))
    assert db.load(spark).count() == 2
    assert os.path.isdir(calc_dir + ".simulate")


def test_schema_evolution_rehash(spark, calc_dir):
    # reference tests/test_all.py:1440-1524: run 1 has (a), run 2 adds (b);
    # old rows get b=NULL and are REHASHED over (a, b)
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    df = run(
        spark,
        lambda p: {"result_": p["a"] * 10.0 + p["b"]},
        pgrid([plist("a", [1]), plist("b", [5, 6])]),
        calc_dir=calc_dir,
    )
    assert df.count() == 4
    rows = {(r["a"], r["b"]): r for r in df.collect()}
    assert rows[(1, None)]["_pset_hash"] == pset_hash({"a": 1, "b": None})
    assert rows[(1, 5)]["_pset_hash"] == pset_hash({"a": 1, "b": 5})
    # widened old rows must NOT collide with new psets
    assert df.select("_pset_hash").distinct().count() == 4


def test_save_false(spark, calc_dir):
    df = run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir, save=False)
    assert df.count() == 2
    assert not Database(os.path.join(calc_dir, "database")).exists()


def test_session_tz_region_and_offset(spark):
    """The driver path reads naive timestamps in the session time zone,
    which Spark accepts as a region id or as a fixed offset."""
    from psweep_spark.runner import _session_tz

    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/New_York")
        assert str(_session_tz(spark)) == "America/New_York"
        spark.conf.set(key, "+02:00")
        assert _session_tz(spark).utcoffset(None) == datetime.timedelta(hours=2)
    finally:
        spark.conf.set(key, old)


def test_save_false_runs_func_once(spark, calc_dir, tmp_path):
    """The rows of an eager save=False run are computed once: actions on
    the returned DataFrame neither call func again nor restamp them."""
    calls = tmp_path / "calls"

    def counted(pset):
        with open(calls, "a") as fh:
            fh.write(f"{pset['a']}\n")
        return {"result_": pset["a"] * 10.0}

    df = run(spark, counted, plist("a", [1, 2, 3]), calc_dir=calc_dir, save=False)
    assert df.count() == 3
    stamps = ["a", "_time_utc", "_pset_runtime", "_pset_id"]
    first = sorted(df.select(*stamps).collect())
    assert sorted(df.select(*stamps).collect()) == first
    assert len(calls.read_text().splitlines()) == 3


def test_safe_mode_and_failed_psets(spark, calc_dir):
    def flaky(pset):
        if pset["a"] % 2 == 0:
            raise RuntimeError(f"boom {pset['a']}")
        return {"result_": float(pset["a"])}

    df = run(spark, flaky, pgrid([plist("a", [1, 2, 3, 4])]), calc_dir=calc_dir, safe=True)
    assert df.filter(F.col("_failed")).count() == 2
    failed = failed_psets(df)
    assert {r["a"] for r in failed.collect()} == {2, 4}
    assert all("boom" in r["_exc_txt"] for r in failed.collect())
    # repeat-failed pattern: re-run only failed psets
    redo = [{"a": r["a"]} for r in failed.select("a").collect()]
    df2 = run(spark, lambda p: {"result_": float(p["a"])}, redo, calc_dir=calc_dir, safe=True)
    latest = latest_per_pset(df2)
    assert latest.filter(F.col("_failed")).count() == 0


def test_unsafe_mode_raises(spark, calc_dir):
    def bad(pset):
        raise RuntimeError("boom")

    with pytest.raises(Exception):
        run(spark, bad, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)


def test_capture_logs_db_and_file(spark, calc_dir):
    def noisy(pset):
        print(f"hello from {pset['a']}")
        return {"result_": 1.0}

    df = run(
        spark, noisy, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir,
        capture_logs="db+file",
    )
    rows = df.collect()
    for r in rows:
        assert f"hello from {r['a']}" in r["_logs"]
        logfile = os.path.join(calc_dir, r["_pset_id"], "logs.txt")
        assert os.path.isfile(logfile)
        assert f"hello from {r['a']}" in open(logfile).read()


def test_capture_logs_concurrent_driver_runs(spark, tmp_path):
    """Two run(capture_logs="db") calls in concurrent driver threads:
    each row's _logs holds only its own pset's text.  The first func
    waits while capturing, so without one capture at a time the second
    would print into the first's buffer or take over sys.stdout."""
    import sys
    import threading

    started, printed = threading.Event(), threading.Event()

    def first(pset):
        print("first starts")
        started.set()
        printed.wait(3)
        print("first ends")
        return {"n_": 1}

    def second(pset):
        started.wait(10)
        print("second starts")
        printed.set()
        print("second ends")
        return {"n_": 2}

    stdout, out, errs = sys.stdout, {}, []

    def worker(name, func):
        try:
            out[name] = run(spark, func, [{"a": 1}], capture_logs="db",
                            calc_dir=str(tmp_path / name)).first()["_logs"]
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(n, f))
               for n, f in (("first", first), ("second", second))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads)
    assert not errs, errs
    assert out == {"first": "first starts\nfirst ends\n",
                   "second": "second starts\nsecond ends\n"}
    assert sys.stdout is stdout


def test_tmpsave(spark, calc_dir):
    df = run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir, tmpsave=True)
    run_id = df.first()["_run_id"]
    d = os.path.join(calc_dir, "tmpsave", run_id)
    assert len(os.listdir(d)) == 2


def test_backup(spark, calc_dir):
    run(spark, func_a, pgrid([plist("a", [1])]), calc_dir=calc_dir)
    run(spark, func_a, pgrid([plist("a", [2])]), calc_dir=calc_dir, backup=True)
    baks = [d for d in os.listdir(calc_dir) if d.startswith("database.bak_")]
    assert len(baks) == 1
    bak = Database(os.path.join(calc_dir, baks[0]))
    assert bak.load(spark).count() == 1  # pre-append snapshot


def test_params_roundtrip_study_chaining(spark, calc_dir):
    # df_extract_params reproduces original params; hashes round-trip
    # (reference tests/test_all.py:679-704)
    params = pgrid([plist("a", [1, 2]), plist("b", ["x", "y"])])
    df = run(spark, func_a, params, calc_dir=calc_dir)
    back = df_extract_params(df)
    assert sorted(back, key=lambda p: (p["a"], p["b"])) == sorted(
        params, key=lambda p: (p["a"], p["b"])
    )
    for p in back:
        assert pset_hash(p) in {r["_pset_hash"] for r in df.collect()}


def test_lazy_df_params(spark, calc_dir):
    # the 100 TB path: params as a lazy DataFrame grid
    from psweep_spark import pgrid_df, plist_df

    grid = pgrid_df(
        plist_df(spark, "a", [1, 2, 3]), plist_df(spark, "b", [10, 20])
    )
    df = run(spark, lambda p: {"result_": p["a"] * p["b"] * 1.0}, grid, calc_dir=calc_dir)
    assert df.count() == 6
    assert df.select("_pset_id").distinct().count() == 6
    rows = df.collect()
    for r in rows:
        assert r["result_"] == r["a"] * r["b"]


def test_git_hooks(spark, tmp_path):
    """Operator #26 (git integration): dirty-repo gate + auto-commit
    carrying the run_id (reference psweep.py:406-446,1394,1490)."""
    import subprocess

    repo = str(tmp_path / "repo")
    os.makedirs(repo)

    def git(*args):
        return subprocess.run(
            ["git", "-c", "user.email=t@t", "-c", "user.name=t", *args],
            cwd=repo, check=True, capture_output=True, text=True,
        ).stdout

    git("init", "-q")
    # identity local to this throwaway repo (container has no global one;
    # git_exit commits with whatever identity the study repo resolves)
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    (tmp_path / "repo" / "study.py").write_text("# study\n")
    git("add", "-A")
    git("commit", "-qm", "initial")

    # dirty repo → the gate refuses to run
    (tmp_path / "repo" / "junk.txt").write_text("dirty")
    with pytest.raises(RuntimeError, match="dirty git repo"):
        run(spark, func_a, plist("a", [1]),
            calc_dir=str(tmp_path / "calc"), git=True, git_dir=repo)
    os.remove(tmp_path / "repo" / "junk.txt")

    # clean repo → run, calc results land outside, notebook-file change
    # inside the repo is auto-committed with the run_id in the message
    (tmp_path / "repo" / "study.py").write_text("# study v2\n")
    # a dirty tree at exit is what git_exit commits; git_enter must see
    # clean — so write the change after the gate via the user func
    os.remove(tmp_path / "repo" / "study.py")
    git("add", "-A")
    git("commit", "-qm", "pre-run state")

    def func_writes(pset):
        with open(os.path.join(repo, "result.txt"), "w") as fh:
            fh.write(str(pset["a"]))
        return {"result_": float(pset["a"])}

    df = run(spark, func_writes, plist("a", [7]),
             calc_dir=str(tmp_path / "calc"), git=True, git_dir=repo)
    run_id = df.select("_run_id").first()[0]
    log = git("log", "--oneline", "-1")
    assert f"run_id={run_id}" in log


def test_rehash_from_reference_migration(spark, calc_dir):
    """A reference-layout database.pk (pickled pandas frame, joblib-sha1
    _pset_hash) imports into a Spark DB with every hash recomputed
    canonically, and a subsequent run(skip_dups=True) recognizes ALL
    imported psets — the migration closes VERDICT r3 item 5.  The
    fixture's stored hashes come from the compat implementation, whose
    byte stream is pinned opcode-by-opcode in test_hashing (joblib
    itself is not installed in this environment)."""
    import pandas as pd

    from psweep_spark.hashing import pset_hash as ph

    fixture = os.path.join(calc_dir, "database.pk")
    rows = []
    for i, a in enumerate([1, 2, 3]):
        pset = {"a": a}
        rows.append({
            "a": a,
            "y_": a * 10.0,
            "_pset_hash": ph(pset, method="joblib-sha1"),
            "_run_id": "11111111-2222-3333-4444-555555555555",
            "_pset_id": f"00000000-0000-0000-0000-00000000000{i}",
            "_run_seq": 0,
            "_pset_seq": i,
            "_calc_dir": calc_dir,
        })
    os.makedirs(calc_dir, exist_ok=True)
    # dtype=object wash, exactly how the reference stores it
    pd.DataFrame(rows).astype(object).to_pickle(fixture)

    db = Database(os.path.join(calc_dir, "database"))
    imported = db.rehash_from_reference(spark, fixture)
    assert imported.count() == 3
    stored = db.load(spark)
    got = {r["a"]: r["_pset_hash"] for r in stored.collect()}
    assert got == {a: ph({"a": a}) for a in [1, 2, 3]}  # canonical now

    # skip_dups must see all 3 imported psets as already-done
    df = run(spark, func_a, pgrid([plist("a", [1, 2, 3, 4, 5])]),
             calc_dir=calc_dir, skip_dups=True)
    assert df.count() == 5
    new = df.filter(F.col("_run_seq") > 0)
    assert sorted(r["a"] for r in new.select("a").collect()) == [4, 5]

    # tampered pset values are caught by the joblib cross-check
    bad = pd.DataFrame(rows).astype(object)
    bad.loc[0, "a"] = 999  # hash no longer matches
    bad_path = os.path.join(calc_dir, "tampered.pk")
    bad.to_pickle(bad_path)
    with pytest.raises(ValueError, match="joblib-sha1"):
        Database(os.path.join(calc_dir, "db2")).rehash_from_reference(
            spark, bad_path
        )


def test_rehash_import_moves_seq_watermarks(spark, calc_dir, monkeypatch):
    """Imported reference rows reserve no seqs; their commit moves the
    manifest watermarks past them, so the next run() stamps seqs above
    every imported row without scanning the table."""
    import pandas as pd

    from psweep_spark.hashing import pset_hash as ph

    rows = [
        {"a": a, "y_": 1.0, "_pset_hash": ph({"a": a}, method="joblib-sha1"),
         "_run_id": f"11111111-2222-3333-4444-00000000000{rs}",
         "_pset_id": f"00000000-0000-0000-0000-0000000000{ps:02d}",
         "_run_seq": rs, "_pset_seq": ps, "_calc_dir": calc_dir}
        for a, rs, ps in [(1, 3, 7), (2, 3, 8), (3, 5, 12)]
    ]
    os.makedirs(calc_dir, exist_ok=True)
    fixture = os.path.join(calc_dir, "database.pk")
    pd.DataFrame(rows).astype(object).to_pickle(fixture)
    Database(os.path.join(calc_dir, "database")).rehash_from_reference(
        spark, fixture
    )

    def no_scan(self, spark):
        raise AssertionError("max_seqs scanned the table")

    monkeypatch.setattr(Database, "max_seqs", no_scan)
    df = run(spark, func_a, pgrid([plist("a", [4, 5])]), calc_dir=calc_dir)
    new = df.where(F.col("a") >= 4).collect()
    assert {r["_run_seq"] for r in new} == {6}
    assert sorted(r["_pset_seq"] for r in new) == [13, 14]


def test_metastore_atomic_publish_and_delete_if_match(tmp_path):
    """ADVICE r4: (a) put_if_absent must publish atomically — the key
    either holds the full payload or does not exist, never torn/empty;
    (b) lock steal/release must be conditional on the observed payload
    (delete_if_match), so a stealer can never remove a fresh lock."""
    from psweep_spark.metastore import (
        InMemoryConditionalStore,
        LocalFSMetaStore,
    )

    for store in (LocalFSMetaStore(str(tmp_path / "ms")),
                  InMemoryConditionalStore()):
        assert store.put_if_absent("k", b'{"v": 1}')
        assert not store.put_if_absent("k", b'{"v": 2}')
        assert store.get("k") == b'{"v": 1}'
        # delete_if_match: wrong payload is a no-op, right payload wins
        assert not store.delete_if_match("k", b'{"v": 2}')
        assert store.get("k") == b'{"v": 1}'
        assert store.delete_if_match("k", b'{"v": 1}')
        assert store.get("k") is None
        # deleting an absent key never succeeds
        assert not store.delete_if_match("k", b'{"v": 1}')
        # the lock-steal scenario: stealer observed OLD, holder wrote NEW
        assert store.put_if_absent("lock", b"old 1.0 aa")
        store.delete("lock")
        assert store.put_if_absent("lock", b"new 9.9 bb")
        assert not store.delete_if_match("lock", b"old 1.0 aa")
        assert store.get("lock") == b"new 9.9 bb"

    # local-FS specifics: no tmp residue, tmp names never listed
    fs = LocalFSMetaStore(str(tmp_path / "ms2"))
    fs.put_if_absent("a", b"x")
    fs.put_if_absent("b", b"y")
    assert fs.list_keys() == ["a", "b"]
    assert not any(n.startswith(".tmp.") for n in os.listdir(fs.root))


def test_metastore_concurrent_delete_if_match_single_winner(tmp_path):
    """Of N racing stealers that all observed the same stale payload,
    exactly one delete_if_match succeeds (flock + inode identity on
    local FS)."""
    import threading

    from psweep_spark.metastore import LocalFSMetaStore

    store = LocalFSMetaStore(str(tmp_path / "ms"))
    stale = b"stale 0.0 cc"
    results = []
    mu = threading.Lock()

    for _round in range(20):
        assert store.put_if_absent("lock", stale)
        wins = []
        barrier = threading.Barrier(8)

        def stealer():
            barrier.wait()
            ok = store.delete_if_match("lock", stale)
            with mu:
                wins.append(ok)

        ts = [threading.Thread(target=stealer) for _ in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        results.append(sum(wins))
    assert results == [1] * 20


def test_skip_dups_anti_join_broadcasts(spark, calc_dir):
    """Plan contract for run()'s skip-dups stage (VERDICT r6 item 1):
    against a broadcastable DB hash history, the LEFT ANTI join must
    execute as a BroadcastHashJoin with the GRID side streaming — the
    grid may be a lazy 10^9-row cross product and must not be shuffled
    wholesale just to dedup.  Verified on the RUNTIME (AQE-final) plan:
    no exchange keyed on the grid's rows, build side = the hash set."""
    from psweep_spark.hashing import df_hash_expr, filter_cols
    from psweep_spark.runner import skip_dups_anti_join

    # seed a DB through the real operator
    params = pgrid([plist("a", list(range(64)))])
    run(spark, func_a, params, calc_dir=calc_dir)
    db = Database(os.path.join(calc_dir, "database"))

    # a lazy grid (the scale path: DataFrame params, never a driver list)
    grid = (
        spark.range(10_000)
        .select(F.col("id").cast("long").alias("a"))
        .repartition(8)
    )
    grid = grid.withColumn(
        "_pset_hash", df_hash_expr(grid.schema, filter_cols(grid.columns))
    )
    out = skip_dups_anti_join(grid, db.distinct_hashes(spark))
    n = out.count()
    assert n == 10_000 - 64  # the 64 already-run psets anti-joined away

    from psweep_spark import plans

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]
    # the ONLY exchanges are on the build (DB hash) side: the distinct's
    # hash aggregate + its broadcast; the streamed grid side never
    # hash-exchanges (its repartition(8) above is upstream of the hash
    # stamp and visible as a RoundRobin, not a hashpartitioning)
    assert plans.count_exchanges(out) <= 2, plan[:1500]
    assert "hashpartitioning(a#" not in plan, plan[:1500]


def test_run_vectorized_matches_per_row(spark, calc_dir):
    """func_pandas (VERDICT r7 item 1): the vectorized batch contract
    produces the SAME values as the per-pset dict loop — pset cols,
    result cols, hashes, seqs — with the documented batch-level stamp
    semantics (_time_utc = batch start shared across the batch,
    _pset_runtime = amortized batch wall / rows); tmpsave keeps the
    per-pset pickle layout and capture_logs records per-BATCH text
    (VERDICT r9 item 7 — documented granularity contract)."""
    import pandas as pd

    from psweep_spark.runner import run

    params = pgrid([plist("a", list(range(16))), plist("b", [0, 1, 2])])

    def f(p):
        return {"y_": float(p["a"] * 10 + p["b"]), "lbl_": f"r{p['a']}"}

    def fp(pdf: pd.DataFrame) -> pd.DataFrame:
        # sees the stamped batch: meta columns present, raw values
        assert {"_run_id", "_pset_id", "_pset_seq", "_pset_hash"} <= set(
            pdf.columns
        )
        return pd.DataFrame(
            {
                "y_": (pdf.a * 10 + pdf.b).astype(float),
                "lbl_": "r" + pdf.a.astype(str),
            }
        )

    d_row = run(spark, f, params, calc_dir=os.path.join(calc_dir, "r"))
    d_vec = run(
        spark, None, params, calc_dir=os.path.join(calc_dir, "v"),
        func_pandas=fp,
    )
    cols = ["a", "b", "y_", "lbl_", "_pset_hash", "_pset_seq"]
    want = sorted(tuple(r[c] for c in cols) for r in d_row.collect())
    got_rows = d_vec.collect()
    got = sorted(tuple(r[c] for c in cols) for r in got_rows)
    assert got == want
    # batch stamp semantics: stamps present; one shared _time_utc per
    # executor batch (48 rows through local[*] → few distinct values,
    # each an exact second); amortized runtime equal within a batch
    assert all(r["_time_utc"] is not None for r in got_rows)
    assert all(r["_exec_host"] for r in got_rows)
    assert all(r["_pset_runtime"] >= 0.0 for r in got_rows)
    # rows sharing a batch share (host, time, runtime); with 48 rows
    # over ≤32 partitions at least one batch holds ≥2 rows, so the
    # number of distinct batch stamps must be STRICTLY below the row
    # count — this actually fails if runtimes were stamped per-row
    batch_stamps = {
        (r["_exec_host"], r["_time_utc"], r["_pset_runtime"])
        for r in got_rows
    }
    assert len(batch_stamps) < len(got_rows), (
        f"{len(batch_stamps)} distinct (host,time,runtime) stamps for "
        f"{len(got_rows)} rows — runtimes look per-row, not amortized"
    )

    # both funcs: per-row func probes the schema, func_pandas executes
    d_both = run(
        spark, f, params, calc_dir=os.path.join(calc_dir, "w"),
        func_pandas=fp,
    )
    assert sorted(
        tuple(r[c] for c in ("a", "b", "y_")) for r in d_both.collect()
    ) == sorted(tuple(r[c] for c in ("a", "b", "y_")) for r in d_row.collect())

    # misaligned result frames fail loudly, not silently misassign
    def bad(pdf):
        return pd.DataFrame({"y_": [1.0]})

    with pytest.raises(Exception, match="align|rows"):
        run(
            spark, None, params, calc_dir=os.path.join(calc_dir, "x"),
            func_pandas=bad,
            result_schema=d_row.select("y_").schema,
        ).collect()

    # result columns must not shadow pset/meta columns (ADVICE r8):
    # a result named 'a' or '_pset_hash' would silently overwrite the
    # stamped value — the mapper raises instead
    def shadow(pdf):
        return pd.DataFrame({"a": pdf.a * 2, "y_": pdf.b.astype(float)})

    with pytest.raises(Exception, match="collide"):
        run(
            spark, None, params, calc_dir=os.path.join(calc_dir, "x2"),
            func_pandas=shadow,
            result_schema=d_row.select("y_").schema,
        ).collect()

    # vectorized capture_logs (per-batch text) + tmpsave (per-pset
    # pickle layout, same as the per-row contract)
    import glob
    import pickle as _pk

    def fp_noisy(pdf: pd.DataFrame) -> pd.DataFrame:
        print(f"vbatch[{len(pdf)}]")
        return pd.DataFrame({"y_": (pdf.a * 10 + pdf.b).astype(float)})

    cap_dir = os.path.join(calc_dir, "y")
    d_cap = run(
        spark, None, params, calc_dir=cap_dir,
        func_pandas=fp_noisy, capture_logs="db+file", tmpsave=True,
    )
    cap_rows = d_cap.collect()
    assert len(cap_rows) == 48
    # every row's _logs is its invocation's text and names that
    # invocation's batch size (per-batch granularity, by contract)
    assert all(r["_logs"].startswith("vbatch[") for r in cap_rows)
    # file mode keeps the reference layout: calc_dir/<pset_id>/logs.txt
    log_files = glob.glob(os.path.join(cap_dir, "*", "logs.txt"))
    assert len(log_files) == 48
    with open(log_files[0]) as fh:
        assert fh.read().startswith("vbatch[")
    # tmpsave: one completed-pset pickle per pset
    pk_files = glob.glob(os.path.join(cap_dir, "tmpsave", "*", "*.pk"))
    assert len(pk_files) == 48
    rec = _pk.load(open(pk_files[0], "rb"))
    assert "y_" in rec and "_pset_id" in rec and "a" in rec


def test_run_vectorized_safe_bisect(spark, calc_dir):
    """Vectorized safe mode (VERDICT r8 item 5) mirrors the per-row
    safe contract: failing psets get _failed=true/_exc_txt with null
    result columns, passing psets in the SAME batch get real results;
    the repeat-failed pattern works; collisions stay loud (never
    converted to _failed); a batch where EVERY pset fails still emits
    per-row rows."""
    import pandas as pd

    from psweep_spark.query import failed_psets, latest_per_pset
    from psweep_spark.runner import run

    params = pgrid([plist("a", [1, 2, 3, 4, 5, 6, 7])])

    def flaky(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf.a % 2 == 0).any():
            raise RuntimeError(f"boom {sorted(pdf.a.tolist())}")
        return pd.DataFrame({"result_": pdf.a.astype(float)})

    df = run(spark, None, params, calc_dir=calc_dir, safe=True,
             func_pandas=flaky)
    rows = {r["a"]: r for r in df.collect()}
    assert {a for a, r in rows.items() if r["_failed"]} == {2, 4, 6}
    assert all("boom" in rows[a]["_exc_txt"] for a in (2, 4, 6))
    assert all(rows[a]["_exc_txt"] is None for a in (1, 3, 5, 7))
    # passing rows in the same batch keep REAL results, failed get null
    assert all(rows[a]["result_"] == float(a) for a in (1, 3, 5, 7))
    assert all(rows[a]["result_"] is None for a in (2, 4, 6))

    # repeat-failed pattern (reference examples/repeat_failed.py)
    redo = [{"a": r["a"]} for r in failed_psets(df).select("a").collect()]

    def fixed(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"result_": pdf.a.astype(float)})

    df2 = run(spark, None, redo, calc_dir=calc_dir, safe=True,
              func_pandas=fixed)
    assert latest_per_pset(df2).filter(F.col("_failed")).count() == 0

    # all-fail batch: every row rowed out as failed (and the schema
    # probe falls through 8 rows -> explicit result_schema required)
    def always(pdf: pd.DataFrame) -> pd.DataFrame:
        raise RuntimeError("nope")

    with pytest.raises(ValueError, match="result_schema"):
        run(spark, None, pgrid([plist("a", list(range(10)))]),
            calc_dir=os.path.join(calc_dir, "af"), safe=True,
            func_pandas=always)
    df3 = run(
        spark, None, pgrid([plist("a", list(range(10)))]),
        calc_dir=os.path.join(calc_dir, "af2"), safe=True,
        func_pandas=always,
        result_schema=df.select("result_").schema,
    )
    assert df3.filter(F.col("_failed")).count() == 10

    # collision is corruption, not failure: loud even under safe=True
    def shadow(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"a": pdf.a * 2})

    with pytest.raises(Exception, match="collide"):
        run(spark, None, params, calc_dir=os.path.join(calc_dir, "cl"),
            safe=True, func_pandas=shadow,
            result_schema=df.select("result_").schema).collect()


def test_rehash_projection_only_no_exchange(spark, calc_dir):
    """VERDICT r7 item 2 plan contract: the schema-widening rehash —
    NULL-extend history, recompute every _pset_hash over the widened
    pset column set — is a PROJECTION, never a shuffle.  Both the
    public helper (util.df_update_pset_cols) and the exact plan shape
    Database.append builds for the rewrite (widen → unionByName →
    hash withColumn) must contain zero exchanges; at 100 TB the
    rewrite is scan → project → write."""
    from psweep_spark import plans
    from psweep_spark.hashing import df_hash_expr
    from psweep_spark.util import df_update_pset_cols, df_update_pset_hash

    params = pgrid([plist("a", list(range(32))), plist("b", [0, 1])])
    db_df = run(spark, func_a, params, calc_dir=calc_dir)

    # public helper: widen + rehash
    widened = df_update_pset_cols(db_df, ["a", "b", "c"])
    assert plans.count_exchanges(widened) == 0, plans.formatted_plan(widened)
    # bare rehash
    rehashed = df_update_pset_hash(db_df)
    assert plans.count_exchanges(rehashed) == 0

    # the append-path rewrite shape: widened history ∪ staged new rows,
    # hash recomputed over the union schema
    staged = run(
        spark, func_a,
        pgrid([plist("a", [100]), plist("b", [0]), plist("c", [1, 2])]),
        calc_dir=os.path.join(calc_dir, "w2"), save=False,
    )
    hist = db_df.withColumn("c", F.lit(None).cast("long"))
    all_df = hist.unionByName(staged, allowMissingColumns=True)
    all_df = all_df.withColumn("_pset_hash", df_hash_expr(all_df.schema))
    assert plans.count_exchanges(all_df) == 0, plans.formatted_plan(all_df)
    # and the values are right: spot-check one widened-history hash
    from psweep_spark.hashing import pset_hash

    row = all_df.filter((F.col("a") == 3) & (F.col("b") == 1)).first()
    assert row["_pset_hash"] == pset_hash({"a": 3, "b": 1, "c": None})


def test_atomic_artifact_write(tmp_path, monkeypatch):
    """ADVICE r10 #5: per-pset artifact files (logs.txt, tmpsave .pk)
    are committed via unique-temp + os.replace so a retried or
    speculative task can never expose a truncated file."""
    from psweep_spark.runner import _atomic_write

    p = str(tmp_path / "logs.txt")
    _atomic_write(p, b"attempt one")
    _atomic_write(p, b"attempt two (retry)")
    with open(p, "rb") as fh:
        assert fh.read() == b"attempt two (retry)"
    # no temp residue left behind
    assert [f for f in os.listdir(tmp_path) if ".tmp-" in f] == []
    # the public wrappers write their artifact files through it too
    import psweep_spark.runner as runner
    from psweep_spark import capture_logs_wrapper, func_wrapper

    written = []

    def recording_write(path, payload):
        written.append(os.path.relpath(path, tmp_path))
        return _atomic_write(path, payload)

    monkeypatch.setattr(runner, "_atomic_write", recording_write)
    pset = {"_calc_dir": str(tmp_path), "_run_id": "r", "_pset_id": "p", "x": 2}
    func_wrapper(dict(pset), lambda q: {"y_": 1}, tmpsave=True)
    capture_logs_wrapper(dict(pset), lambda q: print("hi"), "file")
    assert written == [os.path.join("tmpsave", "r", "p.pk"), os.path.join("p", "logs.txt")]
    with open(tmp_path / "p" / "logs.txt") as fh:
        assert fh.read() == "hi\n"


def test_row_func_reads_pset_hash(spark, calc_dir):
    """The schema probe passes func the record an executor passes, so a
    row func may read _pset_hash without safe=True."""
    df = run(spark, lambda p: {"h_": p["_pset_hash"]}, plist("a", [1, 2]),
             calc_dir=calc_dir)
    rows = df.collect()
    assert len(rows) == 2
    assert all(r["h_"] == r["_pset_hash"] == pset_hash({"a": r["a"]}) for r in rows)


def always_fails(pset):
    raise RuntimeError("nope")


def test_row_probe_all_failed_needs_result_schema(spark, calc_dir):
    """Row path under safe=True: when the first 8 psets all fail, the
    schema probe refuses to guess an empty result schema; with fewer
    than 8 psets, all failing, the run stores failed rows."""
    with pytest.raises(ValueError, match="result_schema"):
        run(spark, always_fails, pgrid([plist("a", list(range(10)))]),
            calc_dir=calc_dir, safe=True)
    df = run(spark, always_fails, pgrid([plist("a", list(range(10)))]),
             calc_dir=calc_dir, safe=True,
             result_schema=T.StructType([T.StructField("result_", T.DoubleType())]))
    assert df.filter(F.col("_failed")).count() == 10
    assert df.filter(F.col("result_").isNotNull()).count() == 0
    df = run(spark, always_fails, plist("a", [20, 21]), calc_dir=calc_dir, safe=True)
    assert df.filter(F.col("_failed")).count() == 12


def test_func_wrapper_time_utc_like_run(spark, calc_dir):
    """func_wrapper stamps _time_utc as run() stores it: a naive UTC
    datetime at second resolution."""
    from psweep_spark import func_wrapper

    stored = run(spark, func_a, [{"a": 1}], calc_dir=calc_dir).first()["_time_utc"]
    got = func_wrapper({"a": 1}, func_a)["_time_utc"]
    assert type(got) is type(stored)
    assert got.tzinfo is None and got.microsecond == 0
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    assert abs((now - got).total_seconds()) < 5


def test_lazy_skip_dups_keeps_column_order(spark, calc_dir):
    """A lazy skip-dups run stores its columns in the order of the
    lazy first run (the USING anti-join used to move _pset_hash to the
    front)."""
    from psweep_spark import pgrid_df, plist_df

    def grid(a):
        return pgrid_df(plist_df(spark, "a", a), plist_df(spark, "b", ["x", "y"]))

    run(spark, func_a, grid([1, 2, 3]), calc_dir=calc_dir, safe=True)
    df = run(spark, func_a, grid([3, 4]), calc_dir=calc_dir, safe=True, skip_dups=True)
    first, second = (
        r["_run_id"]
        for r in df.select("_run_id", "_run_seq").distinct().orderBy("_run_seq").collect()
    )
    assert df.filter(F.col("_run_id") == second).count() == 2

    def names(rid):
        part = os.path.join(calc_dir, "database", "data", f"_run_id={rid}")
        return spark.read.parquet(part).columns

    assert names(first)[:3] == ["a", "b", "_pset_hash"]
    assert names(second) == names(first)
