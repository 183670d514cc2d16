"""Arbitrary-Python-object params — the cloudpickle BinaryType escape
hatch (SURVEY §1.4).

Mirrors reference tests/test_all.py:1360-1437: psets holding callables,
classes, instances, and mixed-type columns flow through run(), persist
to the parquet DB, extract back as live objects, and
``pset_hash(extracted) == stored _pset_hash`` for every row.  Also the
skip-dups invariant: re-running identical object params appends 0 rows
(hash stability through the Arrow-batched Python hash twin).
"""

import numpy as np
import pytest

from psweep_spark import (
    Database,
    df_extract_params,
    df_extract_pset,
    pgrid,
    plist,
    prepare_params_df,
    pset_hash,
    run,
)
from psweep_spark.objects import MAGIC, maybe_unpickle, obj_to_bytes


class DummyClass:
    """Module-level → pickled by reference (deterministic bytes)."""

    def __eq__(self, other):
        return type(other) is DummyClass

    def __hash__(self):
        return 0


def dummy_func(x):
    return x + 1


def _f(pset):
    # the object param must arrive as a LIVE callable on the executor
    fn = pset["fn"]
    return {"y_": float(fn(pset["x"])) if callable(fn) else -1.0}


def test_object_params_roundtrip(spark, tmp_path):
    calc = str(tmp_path / "calc")
    params = pgrid(
        plist("fn", [np.sin, dummy_func]),
        plist("x", [0.0, 1.0]),
    )
    df = run(spark, _f, params, calc_dir=calc, pickle_objects=True)
    rows = df.orderBy("_pset_seq").collect()
    assert len(rows) == 4
    # executors called the real objects
    got = {(r["x"], round(r["y_"], 6)) for r in rows}
    assert (0.0, round(float(np.sin(0.0)), 6)) in got
    assert (1.0, 2.0) in got  # dummy_func(1.0)

    # extraction returns live objects and hashes round-trip
    extracted = df_extract_params(df)
    assert len(extracted) == 4
    for pset, row in zip(extracted, rows):
        assert callable(pset["fn"])
        assert pset_hash(pset) == row["_pset_hash"]
        assert pset_hash(df_extract_pset(df, row["_pset_id"])) == row["_pset_hash"]


def test_object_params_skip_dups(spark, tmp_path):
    calc = str(tmp_path / "calc")
    params = pgrid(plist("fn", [np.sin, np.cos]), plist("x", [1.0]))
    df = run(spark, _f, params, calc_dir=calc, pickle_objects=True)
    assert df.count() == 2
    # identical object params re-pickle to identical bytes → same hash →
    # anti-join drops everything (reference skip_dups contract)
    df2 = run(
        spark, _f, params, calc_dir=calc, pickle_objects=True, skip_dups=True
    )
    assert df2.count() == 2

    # superset: only the new object row lands
    params3 = pgrid(plist("fn", [np.sin, np.cos, np.tan]), plist("x", [1.0]))
    df3 = run(
        spark, _f, params3, calc_dir=calc, pickle_objects=True, skip_dups=True
    )
    assert df3.count() == 3


def test_object_params_eager_skip_dups_hash(spark, tmp_path):
    """Eager skip-dups over a pickled column: the survivors' _pset_hash
    comes back from the anti-join's collect (the Arrow-batched Python
    hash twin) and is stored as collected, so it must equal pset_hash
    of the unpickled pset; a repeat run appends 0 rows."""
    calc = str(tmp_path / "calc")
    run(spark, _f, pgrid(plist("fn", [np.sin, dummy_func]), plist("x", [1.0])),
        calc_dir=calc, pickle_objects=True)
    params = pgrid(
        plist("fn", [np.cos, np.sin, DummyClass(), dummy_func]),
        plist("x", [1.0]),
    )
    df = run(spark, _f, params, calc_dir=calc, pickle_objects=True,
             skip_dups=True)
    ordered = df.orderBy("_pset_seq")
    rows = ordered.collect()
    assert len(rows) == 4
    assert rows[2]["_run_seq"] == rows[3]["_run_seq"] == 1
    for pset, row in zip(df_extract_params(ordered), rows):
        assert pset_hash(pset) == row["_pset_hash"]
    assert [type(p["fn"]) for p in df_extract_params(ordered)][2:] == [
        type(np.cos), DummyClass,
    ]

    df2 = run(spark, _f, params, calc_dir=calc, pickle_objects=True,
              skip_dups=True)
    assert df2.count() == 4
    assert df2.select("_run_id").distinct().count() == 2


def test_mixed_type_column_pickles_value_wise(spark, tmp_path):
    """A column mixing str/float/callable/instance becomes one pickled
    binary column, but each value hashes by its OWN canonical form —
    so an extracted float re-hashes identically whether it lived in a
    typed or a pickled column (reference value-identity semantics)."""
    calc = str(tmp_path / "calc")
    params = [
        {"a": 1, "b": "xx"},
        {"a": 2, "b": 1.2},
        {"a": 3, "b": np.sin},
        {"a": 4, "b": DummyClass()},
        {"a": 5, "b": None},
    ]
    df = run(spark, lambda p: {}, params, calc_dir=calc, pickle_objects=True)
    rows = {r["a"]: r for r in df.collect()}
    assert maybe_unpickle(bytes(rows[1]["b"])) == "xx"
    assert maybe_unpickle(bytes(rows[2]["b"])) == 1.2
    assert maybe_unpickle(bytes(rows[3]["b"])) is np.sin
    assert maybe_unpickle(bytes(rows[4]["b"])) == DummyClass()
    assert rows[5]["b"] is None
    for a, pset in ((1, {"a": 1, "b": "xx"}), (2, {"a": 2, "b": 1.2})):
        # value-wise: pset_hash on the ORIGINAL dict — where "xx" is a
        # plain string, not bytes — matches the stored hash, because
        # framed cells unpickle before canon ("s:"/"d:" forms, not "p:")
        assert rows[a]["_pset_hash"] == pset_hash(pset)


def test_object_db_reload_second_session(spark, tmp_path):
    """Objects survive the parquet round trip: a fresh load() hands back
    framed cells that unpickle to callables."""
    calc = str(tmp_path / "calc")
    params = pgrid(plist("fn", [np.sin]), plist("x", [2.0]))
    run(spark, _f, params, calc_dir=calc, pickle_objects=True)
    db = Database(str(tmp_path / "calc" / "database")).load(spark)
    assert db is not None
    [row] = db.collect()
    fn = maybe_unpickle(bytes(row["fn"]))
    assert fn is np.sin
    assert pset_hash({"fn": fn, "x": 2.0}) == row["_pset_hash"]


def test_schema_widening_rehashes_pickled_history(spark, tmp_path):
    """Adding a NEW pset column forces the history rewrite + rehash; with
    a pickled column present the rehash takes the Arrow pandas-UDF twin
    and must still equal the Python pset_hash of the widened psets."""
    calc = str(tmp_path / "calc")
    run(
        spark,
        lambda p: {},
        plist("fn", [np.sin]),
        calc_dir=calc,
        pickle_objects=True,
    )
    df = run(
        spark,
        lambda p: {},
        [{"fn": np.cos, "c": 7}],
        calc_dir=calc,
        pickle_objects=True,
    )
    rows = sorted(df.collect(), key=lambda r: r["_pset_seq"])
    assert len(rows) == 2
    # history row widened with c=None and rehashed over {fn, c}
    assert rows[0]["c"] is None
    assert rows[0]["_pset_hash"] == pset_hash({"fn": np.sin, "c": None})
    assert rows[1]["_pset_hash"] == pset_hash({"fn": np.cos, "c": 7})


def test_without_optin_still_raises(spark):
    with pytest.raises(TypeError, match="cannot infer"):
        prepare_params_df(spark, [{"fn": np.sin}])


def test_hash_parity_matrix_typed_and_pickled(spark):
    """One DataFrame covering the whole type matrix — typed columns
    (JVM hash_expr leg) and object/mixed columns (pandas-UDF twin leg)
    — must hash row-for-row equal to pset_hash on the original dicts."""
    import datetime as dt

    from psweep_spark.hashing import df_hash_expr, filter_cols
    from psweep_spark.runner import prepare_params_df

    psets = [
        {"i": 1, "f": 2.5, "s": "abc", "bl": True, "by": b"\x00\xff",
         "ab": [b"\x00", b"\xff"], "obj": np.sin},
        {"i": -7, "f": 0.0, "s": "", "bl": False, "by": b"", "ab": [],
         "obj": "mixed"},
        {"i": None, "f": float("nan"), "s": "héllo", "bl": None, "by": None,
         "ab": None, "obj": 3.25},
        # 2**60 + 1 is NOT float64-representable: catches Arrow's
        # nullable-int64 -> float64 washing corrupting large ints
        {"i": 2**60 + 1, "f": -1e-12, "s": "a'b", "bl": True,
         "by": b"xyz", "ab": [b"xy"], "obj": DummyClass()},
        {"i": 5, "f": 123.456, "s": "zz", "bl": False, "by": b"\x01",
         "ab": [b"", b"\x7f"], "obj": dummy_func},
    ]
    df = prepare_params_df(spark, psets, pickle_objects=True)
    hashed = df.withColumn(
        "_h", df_hash_expr(df.schema, filter_cols(df.columns))
    )
    got = [r["_h"] for r in hashed.collect()]
    want = [pset_hash(p) for p in psets]
    assert got == want

    # typed frame with NO top-level binary — including array<binary>,
    # which must stay on the JVM expression ("x:" hex canon), not be
    # routed to the raw Python leg where bytes(list) would TypeError
    typed = [
        {"i": 1, "f": 2.5, "s": "abc", "bl": True,
         "t": dt.datetime(2024, 1, 2, 3, 4, 5), "d": dt.date(2024, 1, 2),
         "arr": [1, 2, 3], "ab": [b"\x00\xff", b"z"]},
        {"i": 9, "f": -0.0, "s": "q", "bl": False,
         "t": dt.datetime(2020, 6, 1), "d": dt.date(1999, 12, 31),
         "arr": [], "ab": []},
    ]
    df2 = prepare_params_df(spark, typed)
    h2 = df2.withColumn("_h", df_hash_expr(df2.schema, filter_cols(df2.columns)))
    assert [r["_h"] for r in h2.collect()] == [pset_hash(p) for p in typed]


def test_framing_helpers():
    b = obj_to_bytes([1, "x"])
    assert b.startswith(MAGIC)
    assert maybe_unpickle(b) == [1, "x"]
    assert maybe_unpickle(b"plain") == b"plain"
    assert maybe_unpickle(3) == 3
