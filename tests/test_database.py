"""The manifest pins the table schema: ``Database.load`` reads with it
and must return what a ``mergeSchema`` read of the same files returns —
names, types and field metadata — with ``_run_id`` last, and reading
the table's metadata runs no Spark job."""

import glob
import os
import threading
import time
import uuid

import numpy as np
import pytest

from psweep_spark import Database, pgrid, plist, run
from psweep_spark.database import DATA_DIR_KEY, SCHEMA_PREFIX
from psweep_spark.metastore import InMemoryConditionalStore
from psweep_spark.objects import pickled_cols


def func_a(pset):
    return {"result_": pset["a"] * 10.0}


def func_x(pset):
    return {"result_": 1.0, "x_": pset["a"] * 2.0}


def func_y(pset):
    return {"result_": 1.0, "y_": "y"}


def func_z_int(pset):
    return {"z_": pset["a"]}


def func_z_str(pset):
    return {"z_": str(pset["a"])}


@pytest.fixture()
def calc_dir(tmp_path):
    return str(tmp_path / "calc")


def _db(calc_dir):
    return Database(os.path.join(calc_dir, "database"))


def _fields(schema):
    return {f.name: (f.dataType, f.metadata) for f in schema.fields}


def assert_equivalent(spark, db):
    """load() == a mergeSchema read of the same files, _run_id last."""
    pinned = db.load(spark).schema
    merged = spark.read.option("mergeSchema", "true").parquet(db.data_path).schema
    assert _fields(pinned) == _fields(merged)
    assert pinned.names[-1] == "_run_id"
    return pinned


def _jobs_of(spark, thunk):
    """Spark job ids started while ``thunk`` runs, and its result."""
    sc = spark.sparkContext
    group = f"db-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "database metadata")
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags
    return sc.statusTracker().getJobIdsForGroup(group), out


def _race(spark, calc_dir, *jobs):
    """Start one run() per ``(func, a-values)`` job at once; the errors
    they raised."""
    errs = []

    def worker(func, vals):
        try:
            run(spark, func, pgrid([plist("a", vals)]), calc_dir=calc_dir)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=job) for job in jobs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    return errs


def test_result_column_added_in_later_run(spark, calc_dir):
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    run(spark, func_x, pgrid([plist("a", [3])]), calc_dir=calc_dir)
    names = assert_equivalent(spark, _db(calc_dir)).names
    # first-commit order; the new column at the end, before _run_id
    assert names[-2:] == ["x_", "_run_id"]
    assert names.index("result_") < names.index("_time_utc")


def test_pset_widening_rewrite(spark, calc_dir):
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    run(spark, func_a, pgrid([plist("a", [3]), plist("b", [5])]),
        calc_dir=calc_dir)
    db = _db(calc_dir)
    names = assert_equivalent(spark, db).names
    assert names[-2:] == ["b", "_run_id"]
    assert db.load(spark).where("b IS NULL").count() == 2


def test_compact(spark, calc_dir):
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    run(spark, func_x, pgrid([plist("a", [3])]), calc_dir=calc_dir)
    db = _db(calc_dir)
    before = db.load(spark).schema
    db.compact(spark)
    assert assert_equivalent(spark, db) == before
    assert db.load(spark).count() == 3


def test_pickled_column(spark, calc_dir):
    """The pickled-object flag lives in field metadata; it survives the
    pin, also for a pickled pset column added by a widening rewrite."""
    run(spark, lambda p: {}, plist("x", [1.0]), calc_dir=calc_dir,
        pickle_objects=True)
    run(spark, lambda p: {}, [{"x": 2.0, "fn": np.sin}], calc_dir=calc_dir,
        pickle_objects=True)
    pinned = assert_equivalent(spark, _db(calc_dir))
    assert pickled_cols(pinned) == {"fn"}


@pytest.mark.parametrize("store", ["local", "object_store"])
def test_racing_appends_new_result_columns(spark, calc_dir, monkeypatch, store):
    """Two runs racing into one DB, each adding its own result column:
    both columns are pinned and visible."""
    db_path = os.path.join(calc_dir, "database")
    if store == "object_store":
        InMemoryConditionalStore.reset_namespace(db_path)
        monkeypatch.setattr(
            Database, "default_store_factory",
            staticmethod(InMemoryConditionalStore.for_namespace),
        )
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    errs = _race(spark, calc_dir, (func_x, [10, 11]), (func_y, [20, 21]))
    assert not errs, errs
    db = Database(db_path)
    assert {"x_", "y_"} <= set(assert_equivalent(spark, db).names)
    df = db.load(spark)
    assert df.where("x_ IS NOT NULL").count() == 2
    assert df.where("y_ IS NOT NULL").count() == 2
    assert df.count() == 6
    InMemoryConditionalStore.reset_namespace(db_path)


def test_racing_appends_conflicting_types(spark, calc_dir):
    """Two racing runs store one column with different types: one
    raises TypeError and none of its rows land."""
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    errs = _race(spark, calc_dir, (func_z_int, [10, 11]), (func_z_str, [20, 21]))
    assert len(errs) == 1 and isinstance(errs[0], TypeError), errs
    db = _db(calc_dir)
    df = db.load(spark)
    assert df.count() == 4
    landed = {r["a"] for r in df.where("z_ IS NOT NULL").collect()}
    assert landed in ({10, 11}, {20, 21})
    assert_equivalent(spark, db)


def test_metadata_reads_run_no_job(spark, calc_dir):
    """On a non-empty DB, existence, load, schema, the skip-dups hash
    relation and a seq reservation are manifest reads: 0 Spark jobs."""
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    run(spark, func_x, pgrid([plist("a", [3])]), calc_dir=calc_dir)
    db = _db(calc_dir)

    def reads():
        assert db.exists()
        schema = db.load(spark).schema
        db.distinct_hashes(spark)
        return schema, db.reserve_seqs(spark, 4)

    jobs, (schema, seqs) = _jobs_of(spark, reads)
    assert list(jobs) == [], jobs
    assert "x_" in schema.names
    assert seqs == (2, 2)


def test_legacy_manifest_falls_back_and_is_repinned(spark, calc_dir):
    """A manifest without a schema (an older DB) still loads, through
    mergeSchema; the next run() pins the schema again and continues the
    seqs from the stored rows."""
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    run(spark, func_x, pgrid([plist("a", [3])]), calc_dir=calc_dir)
    db = _db(calc_dir)
    pinned = db.load(spark).schema

    # an older engine's manifest: watermarks that trail the data
    db.update_meta(lambda m: {"engine": m["engine"]})
    assert db.pinned_schema() is None
    jobs, df = _jobs_of(spark, lambda: db.load(spark))
    assert len(jobs) >= 1  # the mergeSchema footer job
    assert _fields(df.schema) == _fields(pinned)
    assert df.count() == 3

    out = run(spark, func_a, pgrid([plist("a", [4])]), calc_dir=calc_dir)
    new = out.where("a = 4").first()
    assert (new["_run_seq"], new["_pset_seq"]) == (2, 3)
    assert db.pinned_schema() is not None
    assert_equivalent(spark, db)
    assert db.reserve_seqs(spark, 1, peek=True) == (3, 3)
    # each distinct schema is stored once, by content: a run that adds
    # no column commits no schema and no manifest version
    keys = db.meta_store.list_keys(SCHEMA_PREFIX)
    version = db._meta_version()
    run(spark, func_a, pgrid([plist("a", [5])]), calc_dir=calc_dir)
    assert db.meta_store.list_keys(SCHEMA_PREFIX) == keys
    assert db._meta_version() == version + 1  # the seq reservation only


def test_update_meta_reapplies_mutate_after_lost_race(tmp_path):
    """A commit that loses the conditional put to a rival re-reads the
    winner's manifest and re-applies its mutate on top of it."""
    db = Database(str(tmp_path / "db"))
    rival = Database(db.path)
    seen = []

    def mutate(meta):
        seen.append(dict(meta))
        if len(seen) == 1:  # a rival commits between our read and put
            rival.update_meta(lambda m: {**m, "rival": 1})
        return {**meta, "mine": 1}

    assert db.update_meta(mutate) == {"rival": 1, "mine": 1}
    assert seen == [{}, {"rival": 1}]
    assert db.read_meta() == {"rival": 1, "mine": 1}
    assert db._meta_version() == 1


def _widen(spark, calc_dir):
    """Two plain rows, then a run that adds pset column ``b``: a
    rewrite.  The database handle."""
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    run(spark, func_a, pgrid([plist("a", [3]), plist("b", [5])]),
        calc_dir=calc_dir)
    return _db(calc_dir)


def test_never_rewritten_db_keeps_data_layout(spark, calc_dir):
    """Plain appends keep ``data/_run_id=*/part-*.parquet`` (the layout
    a DuckDB ``data/*/*.parquet`` glob reads) and name no directory."""
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    run(spark, func_a, pgrid([plist("a", [3])]), calc_dir=calc_dir)
    db = _db(calc_dir)
    data = os.path.join(db.path, "data")
    assert db.data_path == data
    assert DATA_DIR_KEY not in db.read_meta()
    assert all(n.startswith("_run_id=") for n in os.listdir(data))
    parts = glob.glob(os.path.join(data, "_run_id=*", "part-*.parquet"))
    assert sorted(parts) == sorted(glob.glob(os.path.join(data, "*", "*.parquet")))
    assert len({os.path.dirname(p) for p in parts}) == 2


def test_rewrite_publishes_directory_and_schema_in_one_version(spark, calc_dir):
    db = _widen(spark, calc_dir)
    v = db._meta_version()
    before, after = db._read_version(v - 1), db._read_version(v)
    assert DATA_DIR_KEY not in before
    assert "b" not in db.pinned_schema(before).names
    assert after[DATA_DIR_KEY].startswith("data.")
    assert "b" in db.pinned_schema(after).names
    assert db.data_path == os.path.join(db.path, after[DATA_DIR_KEY])
    assert db.load(spark).count() == 3


def test_load_during_rewrites_sees_whole_table(spark, calc_dir):
    """A reader looping load().count() while a widening append and
    then compact() replace the table never gets None, an error, or
    fewer rows than were committed before its read started."""
    run(spark, func_a, pgrid([plist("a", [1, 2, 3, 4])]), calc_dir=calc_dir)
    db = _db(calc_dir)
    committed = [4]
    counts, bad = [], []
    done = threading.Event()

    def reader():
        while not done.is_set():
            floor = committed[0]
            try:
                df = db.load(spark)
                n = None if df is None else df.count()
            except Exception as e:  # noqa: BLE001
                bad.append(repr(e))
                continue
            counts.append(n)
            if n is None or n < floor:
                bad.append((floor, n))

    t = threading.Thread(target=reader)
    t.start()
    try:
        run(spark, func_a, pgrid([plist("a", [5]), plist("b", [1])]),
            calc_dir=calc_dir)
        committed[0] = 5
        db.compact(spark)
        time.sleep(0.5)  # a few reads of the compacted table
    finally:
        done.set()
        t.join(timeout=300)
    assert not t.is_alive()
    assert not bad, bad
    assert len(counts) >= 3 and counts[-1] == 5, counts
    assert db.data_path != os.path.join(db.path, "data")


def test_vacuum_removes_retired_directory_once_aged(spark, calc_dir):
    db = _widen(spark, calc_dir)
    live, retired = db.data_path, os.path.join(db.path, "data")
    assert live != retired and os.path.isdir(retired)
    assert db.vacuum(max_age_s=3600) == []
    aged = time.time() - 7200
    for d in (live, retired):
        os.utime(d, (aged, aged))
    assert db.vacuum(max_age_s=3600) == [retired]
    assert not os.path.exists(retired) and os.path.isdir(live)
    assert db.load(spark).count() == 3


@pytest.mark.parametrize("store", ["local", "object_store"])
def test_backup_and_clone_of_rewritten_db(spark, calc_dir, tmp_path,
                                          monkeypatch, store):
    """Copies of a rewritten DB load the same rows: the live-directory
    key is relative to the DB root, and a store that does not live in
    the DB directory gets the current manifest."""
    db_path = os.path.join(calc_dir, "database")
    copy_paths = [db_path + ".bak_t", str(tmp_path / "clone")]
    if store == "object_store":
        for p in [db_path] + copy_paths:
            InMemoryConditionalStore.reset_namespace(p)
        monkeypatch.setattr(
            Database, "default_store_factory",
            staticmethod(InMemoryConditionalStore.for_namespace),
        )
    db = _widen(spark, calc_dir)

    def rows(d):
        return sorted(
            tuple(r) for r in d.load(spark).select("a", "b", "_pset_hash").collect()
        )

    want = rows(db)
    copies = [Database(db.backup("t")), db.clone_to(copy_paths[1])]
    assert [c.path for c in copies] == copy_paths
    for copy in copies:
        assert copy.read_meta()[DATA_DIR_KEY] == db.read_meta()[DATA_DIR_KEY]
        assert copy.data_path.startswith(copy.path + os.sep)
        assert rows(copy) == want
    for p in [db_path] + copy_paths:
        InMemoryConditionalStore.reset_namespace(p)


def test_backup_and_clone_copy_only_live_directory(spark, calc_dir, tmp_path):
    """After compact() the DB directory also holds the retired ``data``
    directory and, from a crashed append, staging debris; a backup and
    a clone copy only the live directory and the current manifest, and
    load the same rows."""
    run(spark, func_a, pgrid([plist("a", [1, 2])]), calc_dir=calc_dir)
    run(spark, func_a, pgrid([plist("a", [3])]), calc_dir=calc_dir)
    db = _db(calc_dir)
    db.compact(spark)
    os.makedirs(os.path.join(db.path, "data.staging-dead", "_run_id=x"))
    live = os.path.basename(db.data_path)
    assert {"data", "data.staging-dead", live} <= set(os.listdir(db.path))
    want = sorted(tuple(r) for r in db.load(spark).collect())
    for copy in (Database(db.backup("t")), db.clone_to(str(tmp_path / "clone"))):
        assert copy.data_path == os.path.join(copy.path, live)
        names = os.listdir(copy.path)
        assert [n for n in names if n.startswith("data")] == [live], names
        assert not [n for n in names if n.startswith(".writer_lock")], names
        assert len(copy.meta_store.list_keys("_psweep_meta.v")) == 1
        assert sorted(tuple(r) for r in copy.load(spark).collect()) == want
