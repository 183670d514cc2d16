"""Canonical hash invariants — mirrors reference tests/test_all.py:619-704.

The keystone contract: Python pset_hash == Spark hash_expr == DuckDB
hash_sql, key-order invariant, type-sensitive, kind-filtering.
"""

import datetime as dt

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from psweep_spark.hashing import (
    canon_value,
    col_kind,
    filter_cols,
    hash_expr,
    hash_sql,
    pset_hash,
)


def test_key_order_invariance():
    # reference tests/test_all.py:619-626
    assert pset_hash({"a": 1, "b": 2}) == pset_hash({"b": 2, "a": 1})


def test_type_sensitivity():
    assert pset_hash({"a": 1}) != pset_hash({"a": 1.0})
    assert pset_hash({"a": 1}) != pset_hash({"a": "1"})
    assert pset_hash({"a": True}) != pset_hash({"a": 1})


def test_prefix_postfix_skipped():
    # reference tests/test_all.py:658-676
    base = pset_hash({"a": 1})
    assert pset_hash({"a": 1, "_run_id": "x", "result_": 99}) == base
    # all-special edge case == empty pset hash (tests/test_all.py:1527-1535)
    assert pset_hash({"_x": 1, "y_": 2}) == pset_hash({})


def test_numpy_type_mapping():
    # typed core: np.int64 == python int (documented deviation from joblib)
    assert pset_hash({"a": np.int64(7)}) == pset_hash({"a": 7})
    assert pset_hash({"a": np.float64(7.5)}) == pset_hash({"a": 7.5})
    assert pset_hash({"a": np.array([1.0, 2.0])}) == pset_hash({"a": [1.0, 2.0]})


def test_none_and_nan():
    assert canon_value(None) == "n"
    assert canon_value(float("nan")) == "n"
    assert pset_hash({"a": None}) != pset_hash({})  # null col still keyed


def test_canon_value_formats():
    assert canon_value(5) == "i:5"
    assert canon_value(True) == "b:true"
    assert canon_value("héllo") == f"s{len('héllo'.encode())}:héllo"
    assert canon_value(1.5) == "d:1.500000000000000000"
    assert canon_value(0.1) == "d:0.100000000000000000"
    assert canon_value(-0.0) == "d:0.000000000000000000"
    assert canon_value(1e17) == "d:100000000000000000.000000000000000000"
    assert canon_value([1, None, 2]) == "[i:1,n,i:2]"
    assert canon_value({"b": 1, "a": 2}) == "{a=i:2,b=i:1}"
    with pytest.raises(ValueError):
        canon_value(1e19)


ZOO_PSETS = [
    {"a": 1, "b": "x", "c": 1.5, "d": True, "e": None},
    {"a": -7, "b": "", "c": 0.1, "d": False, "e": "z"},
    {"a": 0, "b": "héllo wörld", "c": -2.25, "d": True, "e": None},
    {"a": 2**40, "b": "s;=,k1:", "c": 1.23456789e-10, "d": False, "e": "q"},
    {"a": 5, "b": "x", "c": float(np.float32(0.1)), "d": True, "e": None},
]


def test_python_vs_spark_hash_parity(spark):
    """The same psets must hash identically via the Python mirror and the
    Catalyst expression — the engine's core determinism contract."""
    from psweep_spark.runner import prepare_params_df

    df = prepare_params_df(spark, ZOO_PSETS)
    got = (
        df.withColumn("h", hash_expr(df.schema))
        .select("a", "h")
        .orderBy("a")
        .collect()
    )
    expected = {p["a"]: pset_hash(p) for p in ZOO_PSETS}
    for r in got:
        assert r["h"] == expected[r["a"]], f"mismatch for a={r['a']}"


def test_python_vs_duckdb_hash_parity():
    """hash_sql (the oracle emitter) agrees with pset_hash for scalar
    int/string/bool psets."""
    psets = [
        {"a": 1, "b": "x", "d": True},
        {"a": -5, "b": "héllo", "d": False},
        {"a": None, "b": None, "d": None},
    ]
    expr = hash_sql({"a": "bigint", "b": "varchar", "d": "boolean"})
    con = duckdb.connect()
    for p in psets:
        a = "NULL" if p["a"] is None else str(p["a"])
        b = "NULL" if p["b"] is None else f"'{p['b']}'"
        d = "NULL" if p["d"] is None else str(p["d"]).lower()
        got = con.sql(
            f"SELECT {expr} AS h FROM (SELECT {a}::BIGINT AS a, {b}::VARCHAR AS b, {d}::BOOLEAN AS d)"
        ).fetchone()[0]
        assert got == pset_hash(p), f"duckdb mismatch for {p}"


def test_spark_hash_array_struct(spark):
    psets = [{"a": [1, 2, 3], "b": "q"}, {"a": [], "b": None}]
    from psweep_spark.runner import prepare_params_df

    df = prepare_params_df(spark, psets)
    got = df.withColumn("h", hash_expr(df.schema)).select("b", "h").collect()
    exp = {p["b"]: pset_hash(p) for p in psets}
    for r in got:
        assert r["h"] == exp[r["b"]]


def test_timestamp_hash_parity(spark):
    ts = dt.datetime(2024, 5, 1, 12, 30, 15, 123456)
    psets = [{"a": 1, "t": ts}]
    from psweep_spark.runner import prepare_params_df

    df = prepare_params_df(spark, psets)
    got = df.withColumn("h", hash_expr(df.schema)).first()["h"]
    assert got == pset_hash(psets[0])


def test_col_kind():
    assert col_kind("_run_id") == "prefix"
    assert col_kind("result_") == "postfix"
    assert col_kind("a") == "pset"
    assert filter_cols(["a", "_x", "y_", "b"]) == ["a", "b"]
    assert filter_cols(["a", "_x", "y_"], "prefix") == ["_x"]
    assert filter_cols(["a", "_x", "y_"], "postfix") == ["y_"]


# -- property-based invariants (SURVEY M1: the keystone contract) ------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**62), max_value=2**62),
    # canonical-hash contract: |float| < 1e18 (hashing.py raises above)
    st.floats(
        allow_nan=False, allow_infinity=False, width=64,
        min_value=-9.99e17, max_value=9.99e17,
    ),
    st.text(max_size=12),
)
_pset = st.dictionaries(
    st.sampled_from(["a", "b", "c", "x1", "y2"]), _scalar, min_size=1, max_size=5
)


@given(_pset)
@settings(max_examples=200, deadline=None)
def test_prop_key_order_invariance(p):
    shuffled = dict(reversed(list(p.items())))
    assert pset_hash(p) == pset_hash(shuffled)


@given(_pset)
@settings(max_examples=200, deadline=None)
def test_prop_hash_is_stable_and_injective_on_repr(p):
    # same dict twice → same hash; canon round-trip is deterministic
    assert pset_hash(p) == pset_hash(dict(p))
    assert len(pset_hash(p)) == 64  # sha256 hex


@given(st.dictionaries(
    st.sampled_from(["a", "b", "c"]),
    st.one_of(
        st.integers(min_value=-(2**31), max_value=2**31),
        st.text(alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="'\\\x00"), max_size=8),
        st.booleans(),
    ),
    min_size=1,
    max_size=3,
))
@settings(max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_prop_python_vs_duckdb_parity(p):
    """Generated scalar psets hash identically through pset_hash and the
    SQL emitted by hash_sql — the oracle emitter cannot drift."""
    duck_t = {int: "BIGINT", str: "VARCHAR", bool: "BOOLEAN"}
    cols = {k: duck_t[type(v)].lower() for k, v in p.items()}
    expr = hash_sql(cols)
    sels = []
    for k, v in p.items():
        if isinstance(v, bool):
            sels.append(f"{str(v).lower()}::BOOLEAN AS {k}")
        elif isinstance(v, int):
            sels.append(f"{v}::BIGINT AS {k}")
        else:
            esc = v.replace("'", "''")
            sels.append(f"'{esc}'::VARCHAR AS {k}")
    got = duckdb.sql(
        f"SELECT {expr} AS h FROM (SELECT {', '.join(sels)})"
    ).fetchone()[0]
    assert got == pset_hash(p), p


# -- the driver twin of the JVM hash (hashing.row_hashes) -------------------

_BIG = 2.0**53
# doubles across pset_hash's range (|v| < 1e18): -0.0, NaN, tiny negatives
# that round to 0, and integer-valued doubles above 2**53 (Java 17 prints
# those exactly, or with one digit rounded off from 2**58)
_double = st.one_of(
    st.floats(min_value=-1e18, max_value=1e18, exclude_min=True,
              exclude_max=True, allow_nan=False),
    st.integers(min_value=-(10**18), max_value=10**18).map(float)
    .filter(lambda v: abs(v) < 1e18),
    st.integers(min_value=int(_BIG), max_value=2**60).map(float)
    .filter(lambda v: v < 1e18),
    st.sampled_from([-0.0, 0.0, float("nan"), float("inf"), float("-inf"),
                     -1e-19, -5e-19, 4.9e-19, _BIG, _BIG + 2, 2.0**58,
                     -(2.0**59) - 128, 0.1, 1e-5]),
)
# and on to the JVM's DECIMAL(38,18) limit (1e20), which row_hashes keeps:
# two digits rounded off from 2**61, the shortest repr from 2**63
_wide_double = st.one_of(
    _double,
    st.integers(min_value=-(10**20), max_value=10**20).map(float)
    .filter(lambda v: abs(v) < 1e20),
    st.sampled_from([1e18, -1e18, 2.0**61 + 512, 2.0**62 - 1024, 2.0**63,
                     -9.5e18, 1.2345678901234567e19, 9.99e19]),
)
_text = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=8)
_when = st.datetimes(
    min_value=dt.datetime(1000, 1, 1), max_value=dt.datetime(2500, 12, 31)
)
_aware = st.datetimes(
    min_value=dt.datetime(1000, 1, 2), max_value=dt.datetime(2500, 12, 30),
    timezones=st.sampled_from([
        dt.timezone.utc,
        dt.timezone(dt.timedelta(hours=-3, minutes=-30)),
        dt.timezone(dt.timedelta(hours=9)),
    ]),
)
#: one value strategy per pset column, so each column keeps one type
_EAGER_COLUMNS = {
    "i": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "x": _wide_double,
    "s": _text,
    "f": st.booleans(),
    "d": st.one_of(st.dates(), st.sampled_from([
        dt.date(1582, 10, 4), dt.date(1582, 10, 15), dt.date(1500, 3, 1),
        dt.date(1, 1, 1)])),
    "t": st.one_of(_when, _aware),
    "tl": st.lists(st.one_of(st.none(), _when, _aware), max_size=3),
    "c": st.complex_numbers(max_magnitude=1e17, allow_infinity=False),
    "xx": st.lists(st.lists(_wide_double, max_size=3), max_size=3),
    # array<null>; two nulls in one list trip pyspark's Arrow
    # createDataFrame, which _local_df goes through
    "e": st.sampled_from([[], [None]]),
    "rb": st.lists(st.binary(max_size=6), max_size=2),
}
#: top-level binary columns, which df_hash_expr hashes in a pandas UDF:
#: raw bytes, and a column of mixed objects that pickle_objects frames
_BINARY_COLUMNS = {
    "r": st.binary(max_size=8),
    "o": st.sampled_from([max, "str", 3, 2.5, (1, "a"), b"\x00"]),
}


@st.composite
def _eager_grid(draw):
    cols = dict(_EAGER_COLUMNS)
    if draw(st.booleans()):
        cols.update(_BINARY_COLUMNS)
    n = draw(st.integers(min_value=1, max_value=4))
    return [
        {k: draw(st.one_of(st.none(), v)) for k, v in cols.items()}
        for _ in range(n)
    ]


def _jvm_hashes(spark, schema, rows):
    """df_hash_expr over _local_df of the typed rows, in row order."""
    from pyspark.sql import types as T

    from psweep_spark.hashing import df_hash_expr
    from psweep_spark.runner import _local_df

    with_order = T.StructType(schema.fields + [T.StructField("_i", T.LongType())])
    df = _local_df(spark, with_order, [r + (i,) for i, r in enumerate(rows)])
    got = df.select("_i", df_hash_expr(df.schema, filter_cols(schema.names))).collect()
    return [h for _, h in sorted(got)]


def test_row_hashes_match_df_hash_expr_off_utc(spark):
    """The driver twin (row_hashes) equals df_hash_expr over a DataFrame
    of the same typed rows, for every type an eager grid infers, with
    the driver's TZ and the session time zone both off UTC (and off
    each other): a naive timestamp is driver-local time, formatted in
    the session zone."""
    import os
    import time

    from psweep_spark.hashing import row_hashes
    from psweep_spark.runner import _session_tz, _typed_rows

    key = "spark.sql.session.timeZone"
    old_zone, old_tz = spark.conf.get(key), os.environ.get("TZ")

    @given(_eager_grid())
    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
    def check(psets):
        schema, rows = _typed_rows(psets, pickle_objects=True)
        want = _jvm_hashes(spark, schema, rows)
        tz = _session_tz(spark)
        assert row_hashes(schema, rows, filter_cols(schema.names), tz) == want

    os.environ["TZ"] = "America/New_York"
    time.tzset()
    spark.conf.set(key, "Asia/Kolkata")
    try:
        check()
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set(key, old_zone)


_scalar_column = st.sampled_from([
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    _double.filter(lambda v: abs(v) != float("inf")),
    _text,
    st.booleans(),
])


@given(st.lists(_scalar_column, min_size=1, max_size=4).flatmap(
    lambda kinds: st.lists(
        st.fixed_dictionaries({
            f"p{j}": st.one_of(st.none(), kind) for j, kind in enumerate(kinds)
        }),
        min_size=1, max_size=4,
    )
))
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_prop_pset_hash_matches_hash_expr(spark, psets):
    """pset_hash of a scalar pset equals the JVM hash_expr of its row."""
    from psweep_spark.runner import _typed_rows

    schema, rows = _typed_rows(psets)
    assert _jvm_hashes(spark, schema, rows) == [pset_hash(p) for p in psets]


# ---------------------------------------------------------------------------
# joblib-compat migration hash (compat_hash.py; reference psweep.py:33,208-270)
# ---------------------------------------------------------------------------


def test_joblib_compat_known_answer_streams():
    """The compat hasher's pickle streams are pinned OPCODE BY OPCODE
    against hand-derived protocol-3 sequences from the pickle spec
    (PROTO, EMPTY_DICT, BINPUT, BINUNICODE, BININT1/G, SETITEM(S),
    STOP) — an independent construction, since joblib itself is not
    installed here.  These are exactly the streams joblib's Hasher
    emits (pure-python pickler, protocol 3, strings unmemoized, dict
    items sorted), so the digests are the reference's hashes."""
    import hashlib

    from psweep_spark.compat_hash import Hasher, joblib_hash

    cases = {
        # {'a': 1}: PROTO3 EMPTY_DICT BINPUT0 BINUNICODE('a') BININT1(1)
        # SETITEM STOP
        b"\x80\x03}q\x00X\x01\x00\x00\x00aK\x01s.": {"a": 1},
        # two items -> MARK ... SETITEMS
        b"\x80\x03}q\x00(X\x01\x00\x00\x00aK\x01X\x01\x00\x00\x00bK\x02u.":
            {"a": 1, "b": 2},
        # float -> BINFLOAT big-endian IEEE754
        b"\x80\x03}q\x00X\x01\x00\x00\x00kG?\xb9\x99\x99\x99\x99\x99\x9as.":
            {"k": 0.1},
    }
    for stream, obj in cases.items():
        h = Hasher("sha1")
        h.dump(obj)
        assert h.stream.getvalue() == stream, obj
        assert joblib_hash(obj, "sha1") == hashlib.sha1(stream).hexdigest()


def test_joblib_compat_semantics():
    """joblib hashing semantics: key-order invariant, type-sensitive
    (the int-vs-np.int64 trap the reference documents in
    examples/repeat_failed.py:58-61), string-identity-insensitive,
    set-order-invariant, ndarray-buffer-aware."""
    from psweep_spark.compat_hash import joblib_hash

    assert joblib_hash({"a": 1, "b": 2}) == joblib_hash({"b": 2, "a": 1})
    assert joblib_hash({"a": 1}) != joblib_hash({"a": 1.0})
    assert joblib_hash({"a": 1}) != joblib_hash({"a": np.int64(1)})
    s2 = "aaZ"[:2]
    assert joblib_hash(["aa", "aa"]) == joblib_hash(["aa", s2])
    assert joblib_hash({1, 2, 3}) == joblib_hash({3, 1, 2})
    a = np.arange(4, dtype=np.int64)
    assert joblib_hash(a) == joblib_hash(a.copy())
    assert joblib_hash(a) != joblib_hash(a.astype(np.int32))


def test_pset_hash_joblib_method_filters_special_cols():
    from psweep_spark.compat_hash import joblib_hash

    h = pset_hash({"a": 1, "_run_id": "x", "y_": 9}, method="joblib-sha1")
    assert h == joblib_hash({"a": 1}, "sha1")
    assert h != pset_hash({"a": 1})  # different algorithm families
    with pytest.raises(ValueError):
        pset_hash({"a": 1}, method="bogus")


def test_compat_hash_mixed_type_keys():
    """Unorderable (mixed-type) dict keys take joblib's substituted
    (hash(k), v) path (joblib hashing.py _batch_setitems; restored per
    ADVICE r5): the emitted stream must equal the stream of the same
    dict re-keyed by hash(k).  Keys here are ints / int-tuples so
    hash() is deterministic across processes — with string keys even
    real joblib's digest is PYTHONHASHSEED-dependent, which is why
    string-keyed psets (the actual migration surface) sort in the
    orderable branch and never reach this code."""
    from psweep_spark.compat_hash import Hasher, joblib_hash

    mixed = {1: "a", (2, 3): "b"}
    subst = {hash(k): v for k, v in mixed.items()}
    h1 = Hasher("sha1")
    h1.dump(mixed)
    h2 = Hasher("sha1")
    h2.dump(subst)
    assert h1.stream.getvalue() == h2.stream.getvalue()
    assert joblib_hash(mixed) == joblib_hash(subst)
    # insertion-order invariant under the hash-substituted sort
    assert joblib_hash({(2, 3): "b", 1: "a"}) == joblib_hash(mixed)
