"""Canonical pset hash — the keystone operator (SURVEY §2 #19, M1).

Reference semantics (``/root/reference/src/psweep/psweep.py:208-270``):
a reproducible content hash of a pset dict that is

* **key-order invariant**  (``tests/test_all.py:619-626``)
* **type-sensitive**       (int vs float hash differently)
* **kind-filtering**: only bare-named pset columns enter the hash;
  ``_prefix`` bookkeeping and ``postfix_`` result columns are skipped
  (``tests/test_all.py:658-676``; all-skipped edge case at :1527-1535)

The reference uses ``joblib.hash`` (SHA1 over pickled canonical dict);
bit-compat with pickle internals is impossible by construction, so this
engine defines its own canonical encoding as the correctness oracle
(SURVEY §4).  Design constraints, in priority order:

1. Computable **JVM-side** as a Catalyst expression built from the
   DataFrame schema (``hash_expr``) — no Python UDF in the hot path, so
   hashing 10^9 psets stays in whole-stage codegen.
2. Computable in **pure Python**: on plain dicts (``pset_hash``, the
   driver-side API mirror) and on typed rows (``row_hashes``, the
   schema-driven twin of ``hash_expr``).  Both must agree with the JVM
   bit-for-bit, and this is on the hot path: an eager ``run()`` hashes
   its grid with ``row_hashes`` and probes skip-dups with those hashes
   against hashes the JVM stored.
3. Expressible in **ANSI/DuckDB SQL** (``hash_sql``) so the hash itself
   is oracle-checkable.

Canonical encoding (sha256 over the UTF-8 concatenation):

    pset  := ( "k" <byte-len-of-name> ":" <name> <value> )*   name-sorted
    value := "n"                         null / None / NaN-as-missing
           | "b:" ("true"|"false")
           | "i:" <decimal int>
           | "d:" <decimal(38,18) string>   (|v| < 1e18; nan/inf literal)
           | "s" <utf8-byte-len> ":" <raw string>
           | "t:" <UTC "yyyy-MM-dd HH:mm:ss.ffffff">
           | "D:" <ISO date>
           | "x:" <lowercase hex of bytes>
           | "p:" <lowercase hex of cloudpickle bytes>   arbitrary object
           | "[" value ("," value)* "]"          array
           | "{" name "=" value ("," ...)* "}"   struct, name-sorted

A double's decimal is Spark's ``CAST(double AS DECIMAL(38,18))``,
which parses Java's ``Double.toString``, rounded half-up to 18
places; a zero, ``-0.0`` and a tiny negative included, is unsigned.
Java 17 prints an integer-valued double below 2**63 exactly, minus
``insignificantDigitsForPow2(binExp - 54)`` low digits rounded off
half-up (one digit from 2**58, two from 2**61), and any other double
as its shortest round-trip repr, which Python's ``repr`` also is.
:func:`_canon_double` mirrors that rule.

Arbitrary objects (the reference's dtype=object params) are value-wise:
``canon_value`` pickles them, and stored ``MAGIC+pickle`` binary cells
canon over the payload — see ``objects.py``.  DataFrames whose pset
columns may hold such cells hash via :func:`hash_expr_py` (Arrow-batched
pandas UDF twin); everything else stays on the JVM :func:`hash_expr`.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal, localcontext

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


class PsweepHashError(TypeError):
    """A value/type with no canonical hash encoding (reference
    psweep.py:188-191).  Subclasses TypeError, so existing handlers
    keep working."""

# ---------------------------------------------------------------------------
# Column-kind convention (reference _get_col_filter, psweep.py:192-205)
# ---------------------------------------------------------------------------

#: Reserved bookkeeping columns stamped by run() — the exact set asserted by
#: the reference at tests/test_all.py:200-214, plus opt-ins.
RESERVED_COLS = (
    "_run_id",
    "_pset_id",
    "_run_seq",
    "_pset_seq",
    "_pset_hash",
    "_time_utc",
    "_pset_runtime",
    "_exec_host",
    "_calc_dir",
)
OPTIONAL_RESERVED_COLS = ("_logs", "_failed", "_exc_txt", "_vary")


def col_kind(name: str) -> str:
    """'prefix' (bookkeeping), 'postfix' (results), or 'pset' (params)."""
    if name.startswith("_"):
        return "prefix"
    if name.endswith("_"):
        return "postfix"
    return "pset"


def filter_cols(cols, kind: str = "pset") -> list[str]:
    """Project column *names* by kind (reference psweep.py:877-898)."""
    if kind not in ("pset", "prefix", "postfix"):
        raise ValueError(f"kind must be pset|prefix|postfix, got {kind!r}")
    return [c for c in cols if col_kind(c) == kind]


# ---------------------------------------------------------------------------
# Python-side canonical encoding
# ---------------------------------------------------------------------------

_Q18 = Decimal(1).scaleb(-18)
#: binary exponent → the low digits Java 17's Double.toString rounds off
#: an integer-valued double (insignificantDigitsForPow2(binExp - 54));
#: none below 2**58, and past 2**63 it prints the shortest repr instead
_JAVA_DROPPED_DIGITS = {58: 1, 59: 1, 60: 1, 61: 2, 62: 2}


def _canon_double(v: float, limit: float = 1e18) -> str:
    """``d:`` + ``v`` as Spark's ``CAST(v AS DECIMAL(38,18))`` prints
    it, for ``|v| < limit``.  :func:`pset_hash` keeps ``|v| < 1e18``;
    :func:`row_hashes` goes to 1e20, where the JVM cast overflows."""
    if math.isnan(v):
        return "d:nan"
    if math.isinf(v):
        return "d:inf" if v > 0 else "d:-inf"
    if abs(v) >= limit:
        raise ValueError(
            f"pset float {v!r} out of canonical-hash range (|v| < {limit:g}); "
            "store it as a string or rescale"
        )
    # the digits of Java 17's Double.toString (module docstring), not
    # the exact binary expansion
    if v == int(v) and abs(v) < 2.0**63:
        n = int(v)
        k = _JAVA_DROPPED_DIGITS.get(abs(n).bit_length() - 1, 0)
        if k:
            q, r = divmod(abs(n), 10**k)
            n = (q + (2 * r >= 10**k)) * 10**k * (1 if n > 0 else -1)
        return f"d:{n}.{'0' * 18}"  # -0.0 canons as 0
    with localcontext() as ctx:
        ctx.prec = 60
        d = Decimal(repr(v)).quantize(_Q18, rounding=ROUND_HALF_UP)
    if d == 0:
        d = abs(d)  # a tiny negative rounds to 0, unsigned on the JVM
    return f"d:{d:.18f}"


def canon_value(v) -> str:
    """Canonical string for one value (Python mirror of the Spark expr).

    Value-wise object semantics (reference dtype=object parity): a
    ``MAGIC+cloudpickle`` framed cell unpickles first, so a string that
    happened to be stored in a pickled column canons as ``s:`` exactly
    like a string column — ``pset_hash(extracted) == stored`` holds for
    every value.  Only genuinely un-typable objects canon as ``p:`` +
    hex of the pickle payload (the ORIGINAL stored payload when framed —
    no re-dump, so byte-instability of re-pickling can't shift the
    hash)."""
    from .objects import MAGIC, obj_from_bytes

    if isinstance(v, (bytes, bytearray)) and bytes(v[: len(MAGIC)]) == MAGIC:
        payload_hex = bytes(v)[len(MAGIC):].hex()
        try:
            obj = obj_from_bytes(v)
        except Exception:  # deps missing at hash site: payload still hashes
            return "p:" + payload_hex
        try:
            return _canon_native(obj)
        except TypeError:
            return "p:" + payload_hex
    try:
        return _canon_native(v)
    except TypeError:
        from pyspark import cloudpickle

        return "p:" + cloudpickle.dumps(v).hex()


def _canon_ts(wall: _dt.datetime) -> str:
    """``t:`` + the wall time as ``date_format(.., "yyyy-MM-dd
    HH:mm:ss.SSSSSS")`` prints it (the year zero-padded, which
    ``strftime("%Y")`` is not)."""
    return (
        f"t:{wall.year:04d}-{wall.month:02d}-{wall.day:02d} "
        f"{wall.hour:02d}:{wall.minute:02d}:{wall.second:02d}.{wall.microsecond:06d}"
    )


def _canon_native(v) -> str:
    """Canonical string for a natively-typed value; TypeError otherwise."""
    import numpy as np

    if v is None:
        return "n"
    # pandas NA / NaT without importing pandas eagerly
    tv = type(v).__name__
    if tv in ("NAType", "NaTType"):
        return "n"
    if isinstance(v, (bool, np.bool_)):
        return "b:true" if v else "b:false"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "n"  # scalar NaN in a pset == missing (pandas fill parity)
        return _canon_double(f)
    if isinstance(v, Decimal):
        # mirror of the JVM leg's CAST(x AS DECIMAL(38,18)) canon
        if v.is_nan():
            return "n"
        with localcontext() as ctx:
            ctx.prec = 60
            d = v.quantize(_Q18, rounding=ROUND_HALF_UP)
        if d == 0:
            d = abs(d)  # normalize -0
        return f"d:{d:.18f}"
    if isinstance(v, str):
        b = v.encode("utf-8")
        return f"s{len(b)}:{v}"
    if isinstance(v, (bytes, bytearray)):
        # framed pickled cells never reach here (canon_value handles them)
        return "x:" + bytes(v).hex()
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc)
        return _canon_ts(v)
    if isinstance(v, _dt.date):
        return "D:" + v.isoformat()
    if isinstance(v, np.ndarray):
        return canon_value(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, set):
        # sets are unordered → canonical order = sorted canonical strings
        return "[" + ",".join(sorted(canon_value(x) for x in v)) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(f"{k}={canon_value(v[k])}" for k in sorted(v))
            + "}"
        )
    raise PsweepHashError(
        f"type {type(v).__name__} has no native canonical form"
    )


def canon_pset(pset: dict, skip_special_cols: bool = True) -> str:
    keys = sorted(pset)
    if skip_special_cols:
        keys = [k for k in keys if col_kind(k) == "pset"]
    out = []
    for k in keys:
        out.append(f"k{len(k.encode('utf-8'))}:{k}")
        out.append(canon_value(pset[k]))
    return "".join(out)


def pset_hash(
    pset: dict,
    skip_special_cols: bool = True,
    method: str = "canonical-sha256",
) -> str:
    """Hash of a pset.  Key-order invariant and type-sensitive, mirrors
    reference ``pset_hash`` (psweep.py:208-270).

    ``method``:

    * ``"canonical-sha256"`` (default) — sha256 over the canonical
      encoding (:func:`canon_pset`); the engine-native hash with 3-way
      Python/Spark/DuckDB parity, usable as a Catalyst expression.
    * ``"joblib-sha1"`` / ``"joblib-md5"`` — bit-compatible with the
      reference's ``joblib.hash(dct, hash_name=...)`` (its default is
      sha1, psweep.py:33).  DRIVER-SIDE, migration-only: lets
      ``Database.rehash_from_reference`` recognize the hashes in an
      existing reference ``database.pk`` so ``skip_dups`` keeps
      working across the migration instead of recomputing everything.
    """
    if method in ("joblib-sha1", "joblib-md5"):
        from .compat_hash import joblib_hash

        filtered = (
            {k: v for k, v in pset.items() if col_kind(k) == "pset"}
            if skip_special_cols else dict(pset)
        )
        return joblib_hash(filtered, hash_name=method.split("-", 1)[1])
    if method != "canonical-sha256":
        raise ValueError(f"unknown pset_hash method: {method!r}")
    s = canon_pset(pset, skip_special_cols=skip_special_cols)
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# Spark Catalyst expression (schema-driven, no UDF)
# ---------------------------------------------------------------------------

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _canon_col(c: Column, dt: T.DataType) -> Column:
    """Canonical-string Column for one value of Catalyst type ``dt``."""
    if isinstance(dt, _INTEGRAL):
        body = F.concat(F.lit("i:"), c.cast("string"))
    elif isinstance(dt, (T.DoubleType, T.FloatType)):
        d = c.cast("double")
        dec = F.when(d == 0.0, F.lit(0.0)).otherwise(d).cast(T.DecimalType(38, 18))
        body = (
            F.when(F.isnan(d), F.lit("n"))
            .when(d == float("inf"), F.lit("d:inf"))
            .when(d == float("-inf"), F.lit("d:-inf"))
            .otherwise(F.concat(F.lit("d:"), dec.cast("string")))
        )
    elif isinstance(dt, T.BooleanType):
        body = F.when(c, F.lit("b:true")).otherwise(F.lit("b:false"))
    elif isinstance(dt, T.StringType):
        body = F.concat(
            F.lit("s"), F.octet_length(c).cast("string"), F.lit(":"), c
        )
    elif isinstance(dt, T.TimestampType):
        body = F.concat(
            F.lit("t:"), F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        )
    elif isinstance(dt, T.DateType):
        body = F.concat(F.lit("D:"), c.cast("string"))
    elif isinstance(dt, T.BinaryType):
        body = F.concat(F.lit("x:"), F.lower(F.hex(c)))
    elif isinstance(dt, T.ArrayType):
        inner = F.transform(c, lambda x: _canon_col(x, dt.elementType))
        body = F.concat(F.lit("["), F.array_join(inner, ","), F.lit("]"))
    elif isinstance(dt, T.StructType):
        parts: list[Column] = [F.lit("{")]
        for i, f in enumerate(sorted(dt.fields, key=lambda f: f.name)):
            if i:
                parts.append(F.lit(","))
            parts.append(F.lit(f.name + "="))
            parts.append(_canon_col(c.getField(f.name), f.dataType))
        parts.append(F.lit("}"))
        body = F.concat(*parts)
    elif isinstance(dt, T.DecimalType):
        body = F.concat(F.lit("d:"), c.cast(T.DecimalType(38, 18)).cast("string"))
    elif isinstance(dt, T.NullType):
        return F.lit("n")
    else:
        raise PsweepHashError(f"unsupported type for canonical hash: {dt}")
    return F.when(c.isNull(), F.lit("n")).otherwise(body)


def canon_expr(schema: T.StructType, cols: list[str] | None = None) -> Column:
    """Canonical-encoding Column over the pset columns of ``schema``."""
    names = sorted(cols if cols is not None else filter_cols(schema.names))
    by_name = {f.name: f for f in schema.fields}
    parts: list[Column] = []
    for n in names:
        parts.append(F.lit(f"k{len(n.encode('utf-8'))}:{n}"))
        parts.append(_canon_col(F.col(n), by_name[n].dataType))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


def hash_expr(schema: T.StructType, cols: list[str] | None = None) -> Column:
    """``_pset_hash`` Column: sha256 over the canonical pset encoding.

    Pure Catalyst (concat/when/sha2) → whole-stage codegen; scales to any
    row count without leaving the JVM.
    """
    return F.sha2(canon_expr(schema, cols), 256)


_TS = T.TimestampType()
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _canon_cell(v, dt: T.DataType, tz: _dt.tzinfo) -> str:
    """Python twin of :func:`_canon_col` for one typed cell (a cell of
    ``runner._typed_rows``): the same string, with timestamps printed in
    the session time zone ``tz``."""
    if v is None or isinstance(dt, T.NullType):
        return "n"
    if isinstance(dt, _INTEGRAL):
        return f"i:{int(v)}"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "n" if math.isnan(v) else _canon_double(float(v), 1e20)
    if isinstance(dt, T.BooleanType):
        return "b:true" if v else "b:false"
    if isinstance(dt, T.StringType):
        return f"s{len(v.encode('utf-8'))}:{v}"
    if isinstance(dt, T.TimestampType):
        # the instant as toInternal takes it (a naive value is
        # driver-local time, an aware one is read by its offset)
        t = _EPOCH + _dt.timedelta(microseconds=_TS.toInternal(v))
        return _canon_ts(t.astimezone(tz))
    if isinstance(dt, T.DateType):
        return "D:" + v.isoformat()
    if isinstance(dt, T.BinaryType):
        return "x:" + bytes(v).hex()
    if isinstance(dt, T.ArrayType):
        return "[" + ",".join(_canon_cell(x, dt.elementType, tz) for x in v) + "]"
    if isinstance(dt, T.StructType):
        fields = sorted(enumerate(dt.fields), key=lambda f: f[1].name)
        return "{" + ",".join(
            f"{f.name}={_canon_cell(v[i], f.dataType, tz)}" for i, f in fields
        ) + "}"
    raise PsweepHashError(f"unsupported type for canonical hash: {dt}")


def row_hashes(
    schema: T.StructType,
    rows: list[tuple],
    cols: list[str],
    tz: _dt.tzinfo = _dt.timezone.utc,
) -> list[str]:
    """``_pset_hash`` of each typed row over the pset columns ``cols``,
    bit-for-bit what :func:`df_hash_expr` stamps on the same rows in a
    session whose time zone is ``tz``, computed on the driver.  A
    top-level binary cell canons through :func:`canon_value`, as
    :func:`hash_expr_py` does, so a pickled object hashes value-wise."""
    keys = [
        (f"k{len(n.encode('utf-8'))}:{n}", schema.names.index(n), schema[n].dataType)
        for n in sorted(cols)
    ]

    def canon(v, dt: T.DataType) -> str:
        if isinstance(dt, T.BinaryType):  # MAGIC framing is top-level only
            return canon_value(None if v is None else bytes(v))
        return _canon_cell(v, dt, tz)

    return [
        hashlib.sha256(
            "".join(k + canon(r[i], dt) for k, i, dt in keys).encode("utf-8")
        ).hexdigest()
        for r in rows
    ]


def hash_expr_py(schema: T.StructType, cols: list[str] | None = None) -> Column:
    """Arrow-batched Python twin of :func:`hash_expr`.

    Required whenever a pset column is ``BinaryType`` — its cells may be
    ``MAGIC+cloudpickle`` framed objects, whose canonical form the JVM
    expression cannot distinguish from raw bytes.

    Design: every NON-binary column is pre-canonicalized **JVM-side**
    with the same :func:`_canon_col` expression the pure-JVM hash uses —
    the UDF receives ready canonical strings, so Arrow→pandas type
    washing (nullable int64 → float64, which silently corrupts integers
    above 2^53) can never touch a value.  Only binary cells cross the
    boundary raw, and Python ``canon_value`` handles their framing.
    Pickled-object psets are the declared slow path (SURVEY §1.4); this
    stays Arrow-batched, never row-at-a-time Python UDF."""
    names = sorted(cols if cols is not None else filter_cols(schema.names))
    by_name = {f.name: f.dataType for f in schema.fields}
    # MAGIC framing only ever occurs in TOP-LEVEL BinaryType columns (the
    # pickled-object storage form) — nested binary (array<binary>,
    # struct-with-binary) is plain bytes and canonicalizes JVM-side via
    # _canon_col's "x:" hex branch.  Routing nested binary to the raw leg
    # would hand the UDF a list/ndarray whose bytes(v) raises TypeError.
    raw = {n for n in names if isinstance(by_name[n], T.BinaryType)}
    struct_fields = [
        (F.col(n) if n in raw else _canon_col(F.col(n), by_name[n])).alias(n)
        for n in names
    ]

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _h_fn(pdf):
        out = []
        for rec in pdf.to_dict("records"):
            parts = []
            for n in names:
                parts.append(f"k{len(n.encode('utf-8'))}:{n}")
                v = rec[n]
                if n in raw:
                    parts.append(canon_value(None if v is None else bytes(v)))
                else:
                    parts.append(v)  # already the canonical string
            out.append(
                hashlib.sha256("".join(parts).encode("utf-8")).hexdigest()
            )
        return pd.Series(out, dtype="object")

    # `from __future__ import annotations` stringifies hints and pyspark
    # can't resolve "pd.*" from this module's globals — set them directly
    _h_fn.__annotations__ = {"pdf": pd.DataFrame, "return": pd.Series}
    _h = pandas_udf(_h_fn, "string")
    return _h(F.struct(*struct_fields))


def df_hash_expr(schema: T.StructType, cols: list[str] | None = None) -> Column:
    """JVM hash when possible, Python twin when a pset column is
    TOP-LEVEL binary (the pickled-object escape hatch).  Nested binary
    (array<binary> etc.) can never hold MAGIC-framed cells, so it stays
    on the pure-JVM expression."""
    names = cols if cols is not None else filter_cols(schema.names)
    by_name = {f.name: f.dataType for f in schema.fields}
    if any(isinstance(by_name[n], T.BinaryType) for n in names):
        return hash_expr_py(schema, cols)
    return hash_expr(schema, cols)


# ---------------------------------------------------------------------------
# DuckDB/ANSI SQL emitter (oracle parity)
# ---------------------------------------------------------------------------


def _canon_sql(expr: str, duck_type: str) -> str:
    t = duck_type.lower()
    if t in ("tinyint", "smallint", "integer", "int", "bigint", "hugeint"):
        body = f"concat('i:', CAST({expr} AS VARCHAR))"
    elif t in ("double", "float", "real"):
        body = (
            f"concat('d:', CAST(CAST((CASE WHEN {expr} = 0 THEN 0 ELSE {expr} END)"
            f" AS DECIMAL(38,18)) AS VARCHAR))"
        )
    elif t in ("varchar", "string", "text"):
        # strlen = UTF-8 byte count in DuckDB (== Spark octet_length)
        body = f"concat('s', CAST(strlen({expr}) AS VARCHAR), ':', {expr})"
    elif t in ("boolean", "bool"):
        body = f"(CASE WHEN {expr} THEN 'b:true' ELSE 'b:false' END)"
    elif t == "timestamp":
        body = f"concat('t:', strftime({expr}, '%Y-%m-%d %H:%M:%S.%f'))"
    elif t == "date":
        body = f"concat('D:', CAST({expr} AS VARCHAR))"
    else:
        raise PsweepHashError(f"unsupported duckdb type for canonical hash: {duck_type}")
    return f"(CASE WHEN {expr} IS NULL THEN 'n' ELSE {body} END)"


def hash_sql(cols_types: dict[str, str]) -> str:
    """DuckDB SQL expression equal to :func:`hash_expr` for scalar cols.

    ``cols_types`` maps pset column name → DuckDB type name.
    """
    parts = []
    for n in sorted(cols_types):
        parts.append(f"'k{len(n.encode('utf-8'))}:{n}'")
        parts.append(_canon_sql(n, cols_types[n]))
    if not parts:
        return "sha256('')"
    return f"sha256(concat({', '.join(parts)}))"
