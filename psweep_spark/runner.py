"""The ``run`` operator — SURVEY §2.2 #12-26, M3/M5.

Reference lifecycle (``/root/reference/src/psweep/psweep.py:1295-1492``)
re-expressed in Spark:

    grid
      → hash stamp  (canonical sha256: JVM-side hashing.hash_expr for
        a DataFrame grid, its Python twin for a list)
      → skip-dups against DB hashes                (#11/#20)
      → id/seq stamping (_run_id/_pset_id/_run_seq/_pset_seq) (#18)
      → func on every pset: serially on the driver, as the reference
        does without a pool, or in ``poolsize`` executor tasks of one
        mapInPandas stage, which replace mp.Pool AND Dask (#15-17)
      → append to Parquet DB with schema evolution (#21/#28)

A lazy ``DataFrame`` grid (the 10⁹-row scale path) runs this as one
distributed plan, skip-dups as a left-anti join against the DB hash
set (:func:`skip_dups_anti_join`); before the write only a bounded
``take`` (emptiness check + schema probe) and a ``max(__order)`` agg
(seq slot span) execute it.  An eager list-of-dicts grid is already on
the driver and stays there (:func:`_eager_hashes`), as the reference
hashes and filters it: its typed rows are hashed in Python by
:func:`hashing.row_hashes`, the twin of the JVM expression, and under
skip-dups :meth:`Database.stored_hashes` returns the DB hashes among
them, read by pyarrow on the driver (a Spark probe past a size cap).
The kept psets' ids are stamped in Python, ``_pset_seq`` from their
submission order.  Without ``poolsize`` (and without ``func_pandas``)
:func:`_run_on_driver` calls ``func`` on each on the driver and the
results become one Arrow table, which :meth:`Database.append` writes
on the driver as one Parquet file: the run's write is no Spark job,
so the run, skip-dups or not, runs none at all while the table has at
most 32 runs (past that, listing it in the ``Database.load`` of the
returned DataFrame is one).
With ``poolsize`` or ``func_pandas`` the stamped rows become a
``LocalRelation`` that runs in the executor stage like a lazy grid:
``poolsize`` tasks, else one.

Retry idempotence (SURVEY §4b): ``_pset_id`` is **UUIDv5 of
(run_id, pset_seq)**, not a random UUID4 — a re-executed Spark task
mints the same id, so task retries cannot violate the uniqueness
contract of reference tests/test_all.py:179-199.

Per-pset execution (reference func_wrapper / capture_logs_wrapper,
psweep.py:1197-1292) is ONE function, :func:`_exec_pset`, layered as
in the reference:

* it stamps ``_time_utc`` (naive UTC, second resolution: the
  reference's PANDAS_TIME_UNIT="s", psweep.py:32; stored as that UTC
  instant under any session time zone) and ``_exec_host``;
* it calls ``func(pset) -> dict`` on the fully-stamped pset dict
  through :func:`_call_func`, the capture layer: ``capture_logs`` ∈
  {'db','file','db+file'} captures stdout/stderr, and ``safe=True``
  turns an exception into ``_failed``/``_exc_txt`` columns (keeping the
  captured logs) instead of failing the run (the documented safe_func
  pattern, manual.md:891-944);
* it merges the result back, sets ``_pset_runtime`` (wall-clock
  seconds), and under ``tmpsave`` pickles the completed pset.

Its callers: the driver path (:func:`_run_on_driver`, once per pset),
the executor-side row mapper (once per pset), the driver-side schema
probe of the executor path (with artifact writes off, on the same
record an executor passes, placeholder ids included), and the public
``util.func_wrapper`` / ``util.capture_logs_wrapper``, which are thin
calls into it.  Capture redirects the process-global stdout/stderr, so
one capture runs at a time per process (:func:`_captured`).  The
``logs.txt`` and tmpsave files are written by one writer each
(:func:`_write_logs`, :func:`_write_tmpsave`), both through
:func:`_atomic_write`.  ``simulate=True`` clones the DB to
``<calc_dir>.simulate`` and runs the whole pipeline with ``func``
skipped (psweep.py:1279-1292).

Vectorized mode (``func_pandas=``, VERDICT r7 item 1): the per-pset
dict contract above is the faithful reference semantics
(psweep.py:1197-1238) but its ``to_dict("records")`` loop caps the
engine's own func throughput (~170k rows/s measured at 1e6 psets).
``func_pandas(pdf) -> pdf`` receives each stamped Arrow batch as a
pandas DataFrame and returns the RESULT COLUMNS for the whole batch —
the Spark-idiomatic fast path (same execution position, same stamped
columns, no per-row Python).  Semantics differences, by design:

* ``_time_utc`` is the BATCH start (second resolution) — all rows of
  one Arrow batch share it (per-row mode stamps each pset's own call).
* ``_pset_runtime`` is the batch wall-clock divided by the batch row
  count — the amortized per-pset cost (per-row mode times each call).
* pickled-object cells arrive as raw framed ``bytes`` (no per-row
  unpickling — that would reintroduce the loop); result columns must
  be Arrow-typeable (frame objects with ``objects.obj_to_bytes``).
* ``safe=True`` is supported via BATCH BISECTION (VERDICT r8 item 5):
  the whole batch is tried first; on an exception the batch is split
  in half recursively (log₂ isolation) until the failing psets are
  single rows — those get ``_failed=true`` + ``_exc_txt`` (null result
  columns), every other row gets its real result and
  ``_failed=false``.  Worst case (all rows fail) costs ~2N func calls;
  the no-failure fast path stays ONE call per Arrow batch.
  ``_pset_runtime`` amortizes the whole batch wall INCLUDING the
  isolation retries.  A result-column collision
  (:class:`VectorizedContractError`) is never converted to
  ``_failed`` — it is a caller bug that would corrupt stored rows.
* ``tmpsave`` keeps the exact per-pset contract and writer (each
  completed pset dict pickled to ``calc_dir/tmpsave/<run_id>/<pset_id>.pk``
  — the write is inherently per-pset I/O either way).  ``capture_logs`` is
  supported with PER-BATCH granularity (VERDICT r9 item 7): stdout/
  stderr is captured around each ``func_pandas`` INVOCATION and every
  row of that invocation records the same text — one batch call
  interleaves all its rows' output, so the reference's per-pset log
  fidelity genuinely has no vectorized counterpart.  Under safe=True
  the bisection narrows capture with the calls: an isolated failing
  pset's ``_logs`` holds exactly what its own 1-row call printed.
  Per-pset log fidelity needs the per-row ``func`` path.  The file
  mode writes through the same :func:`_write_logs`.
* without a ``func``, the schema probe runs ``func_pandas`` on one-row
  batches, in the same probe loop and on the same records as the
  per-row probe.

Output equality with the per-row path (same values, stamps aside) is
pinned by tests/test_run.py::test_run_vectorized_matches_per_row.
"""

from __future__ import annotations

import datetime as _dt
import io
import itertools
import os
import pickle
import socket
import threading
import time
import traceback
import uuid
from collections.abc import Callable, Sequence
from contextlib import contextmanager, redirect_stderr, redirect_stdout
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .database import Database
from .hashing import df_hash_expr, filter_cols, row_hashes
from .objects import META_KEY, maybe_unpickle, obj_to_bytes, pickled_cols

__all__ = [
    "run",
    "prepare_params_df",
    "uuid5_expr",
    "infer_schema",
    "skip_dups_anti_join",
    "VectorizedContractError",
]


class VectorizedContractError(ValueError):
    """``func_pandas`` violated the batch contract (a result column
    collides with a pset/meta column).  Never converted to
    ``_failed`` rows by safe mode: the overwrite would corrupt stored
    values rather than fail a pset, so it must stay loud."""


# ---------------------------------------------------------------------------
# schema inference for eager (list-of-dicts) params
# ---------------------------------------------------------------------------


def _spark_type_of(v) -> T.DataType:
    if isinstance(v, (bool, np.bool_)):
        return T.BooleanType()
    if isinstance(v, (int, np.integer)):
        return T.LongType()
    if isinstance(v, (float, np.floating)):
        return T.DoubleType()
    if isinstance(v, complex):
        return T.StructType(
            [T.StructField("re", T.DoubleType()), T.StructField("im", T.DoubleType())]
        )
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, (bytes, bytearray)):
        return T.BinaryType()
    if isinstance(v, _dt.datetime):
        return T.TimestampType()
    if isinstance(v, _dt.date):
        return T.DateType()
    if isinstance(v, np.ndarray):
        return _seq_type(v.tolist())
    if isinstance(v, (list, tuple)):
        return _seq_type(list(v))
    if isinstance(v, set):
        return _seq_type(sorted(v, key=repr))
    if isinstance(v, dict):
        raise TypeError(
            "nested dict params: flatten first with flatten_dict() "
            "(reference psweep.py:130-151), or store as a struct column "
            "explicitly"
        )
    raise TypeError(
        f"cannot infer a typed column for {type(v).__name__}; the typed "
        "core replaces the reference's dtype=object escape — pickle to "
        "bytes explicitly for arbitrary objects"
    )


def _seq_type(vals: list) -> T.ArrayType:
    elems = [x for x in vals if x is not None]
    if not elems:
        return T.ArrayType(T.NullType())
    et = _merge_types([_spark_type_of(x) for x in elems])
    return T.ArrayType(et)


def _merge_types(ts: list[T.DataType]) -> T.DataType:
    out = ts[0]
    for t in ts[1:]:
        if t == out:
            continue
        pair = {type(out), type(t)}
        if isinstance(out, T.NullType):
            out = t
        elif isinstance(t, T.NullType):
            pass
        elif pair == {T.LongType, T.DoubleType}:
            out = T.DoubleType()
        elif isinstance(out, T.ArrayType) and isinstance(t, T.ArrayType):
            out = T.ArrayType(_merge_types([out.elementType, t.elementType]))
        else:
            raise TypeError(
                f"mixed types in one column: {out.simpleString()} vs "
                f"{t.simpleString()} — type-stable columns required"
            )
    return out


def infer_schema(
    params: Sequence[dict], pickle_objects: bool = False
) -> T.StructType:
    """Union-of-keys, type-merged schema for a list of psets.

    ``pickle_objects=True`` is the arbitrary-object escape hatch
    (reference dtype=object params, tests/test_all.py:1360-1437): a
    column whose values cannot be typed — or cannot be merged into one
    type — becomes a ``BinaryType`` column of ``MAGIC+cloudpickle``
    cells, marked with field metadata.  The canonical hash stays
    value-wise (see hashing.py), so extracted psets re-hash to the
    stored ``_pset_hash`` exactly as in the reference."""
    cols: dict[str, list] = {}
    for pset in params:
        for k, v in pset.items():
            cols.setdefault(k, [])
            if v is not None and not (isinstance(v, float) and np.isnan(v)):
                cols[k].append(v)
    fields = []
    for name, vals in cols.items():
        meta: dict | None = None
        if not vals:
            dt: T.DataType = T.StringType()
        else:
            try:
                dt = _merge_types([_spark_type_of(v) for v in vals])
            except TypeError:
                if not pickle_objects:
                    raise
                dt = T.BinaryType()
                meta = {META_KEY: True}
        fields.append(T.StructField(name, dt, nullable=True, metadata=meta))
    return T.StructType(fields)


def _to_row_value(v, dt: T.DataType, tz: _dt.tzinfo | None = None):
    """One cell typed for ``dt``.  A naive ``datetime`` in a timestamp
    field is wall time in ``tz`` when given, else driver-local time (as
    ``toInternal`` reads it)."""
    if v is None or (isinstance(v, float) and np.isnan(v) and not isinstance(dt, T.DoubleType)):
        return None
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, T.LongType):
        return int(v)
    if isinstance(dt, T.DoubleType):
        return float(v)
    if isinstance(dt, T.StructType) and isinstance(v, complex):
        return (v.real, v.imag)
    if isinstance(dt, T.ArrayType):
        seq = v.tolist() if isinstance(v, np.ndarray) else (
            sorted(v, key=repr) if isinstance(v, set) else list(v)
        )
        return [_to_row_value(x, dt.elementType, tz) for x in seq]
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    if tz is not None and isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=tz)
    return v


def _typed_rows(
    params: Sequence[dict], pickle_objects: bool = False
) -> tuple[T.StructType, list[tuple]]:
    """List of psets → (inferred schema, one typed tuple per pset)."""
    if len(params) == 0:
        raise ValueError("empty params")
    schema = infer_schema(params, pickle_objects=pickle_objects)
    pkl = pickled_cols(schema)

    def _cell(p: dict, f: T.StructField):
        v = p.get(f.name)
        if f.name in pkl:
            if v is None or (isinstance(v, float) and np.isnan(v)):
                return None
            return obj_to_bytes(v)
        return _to_row_value(v, f.dataType)

    return schema, [tuple(_cell(p, f) for f in schema.fields) for p in params]


def _arrow_table(schema: T.StructType, rows: list[tuple]) -> pa.Table:
    """Typed tuples → one ``pyarrow.Table`` of ``schema``.

    The cells go through ``schema.toInternal`` first, as a list of rows
    does in Spark's own ``createDataFrame``: a naive ``datetime`` is
    read as driver-local time, an aware one by its offset, at any
    nesting depth."""
    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    return pa.Table.from_arrays(
        [
            pa.array([r[i] for r in internal], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )


def _local_df(
    spark: SparkSession, schema: T.StructType, rows: list[tuple]
) -> DataFrame:
    """Typed tuples → DataFrame through one :func:`_arrow_table`.

    Spark keeps a table under ``spark.sql.execution.arrow.
    localRelationThreshold`` as a JVM-side ``LocalRelation`` (no RDD,
    so a projection of it collects with no job) and falls back to an
    RDD of Arrow batches above it.  Field metadata travels with
    ``schema``."""
    return spark.createDataFrame(_arrow_table(schema, rows), schema)


def prepare_params_df(
    spark: SparkSession,
    params: Sequence[dict] | DataFrame,
    pickle_objects: bool = False,
) -> DataFrame:
    """List-of-psets → typed DataFrame (union-of-keys, NULL back-fill)."""
    if isinstance(params, DataFrame):
        return params
    schema, rows = _typed_rows(params, pickle_objects=pickle_objects)
    return _local_df(spark, schema, rows)


# ---------------------------------------------------------------------------
# UUIDv5 as a Catalyst expression (retry-idempotent _pset_id)
# ---------------------------------------------------------------------------


def uuid5_expr(run_id_col: Column, name_col: Column) -> Column:
    """RFC-4122 UUIDv5(namespace=run_id, name) built from sha1 — pure
    Catalyst, bit-identical to Python ``uuid.uuid5``.

    JVM-side so stamping 10^9 psets stays in codegen, and deterministic
    so Spark task retries regenerate identical ids (SURVEY §4b).
    """
    ns_bytes = F.unhex(F.regexp_replace(run_id_col, "-", ""))
    h = F.sha1(F.concat(ns_bytes, name_col.cast("binary")))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(
            F.translate(
                F.substring(h, 17, 1), "0123456789abcdef", "89ab89ab89ab89ab"
            ),
            F.substring(h, 18, 3),
        ),
        F.substring(h, 21, 12),
    )


# ---------------------------------------------------------------------------
# the per-pset executor (reference func_wrapper / capture_logs_wrapper)
# ---------------------------------------------------------------------------

#: what the executor stamps on every pset, never a func result
_STAMPS = ("_time_utc", "_exec_host", "_pset_runtime")


def _utc_seconds(t: float) -> _dt.datetime:
    """``_time_utc`` as ``func`` sees it: naive UTC at second resolution
    (the reference's PANDAS_TIME_UNIT="s", psweep.py:32)."""
    return _dt.datetime.fromtimestamp(int(t), _dt.timezone.utc).replace(tzinfo=None)


def _as_utc(t: _dt.datetime) -> _dt.datetime:
    """``_time_utc`` as it is stored: the naive UTC stamp made aware, so
    that the conversion to a Spark timestamp, which reads a naive
    ``datetime`` as wall time in the session time zone, keeps the
    instant."""
    return t.replace(tzinfo=_dt.timezone.utc) if t.tzinfo is None else t


def _atomic_write(path: str, payload: bytes) -> None:
    """Write ``payload`` to ``path`` atomically (unique temp +
    ``os.replace``).

    Per-pset artifact files (``calc_dir/<pset_id>/logs.txt``,
    ``tmpsave/<run_id>/<pset_id>.pk``) are written from executor
    tasks, which Spark may RETRY or speculatively DUPLICATE — a plain
    ``open('w')`` truncates in place, so a reader racing a retry can
    observe a half-written file (ADVICE r10 #5).  ``os.replace`` is
    atomic on POSIX: readers see the old complete file or the new
    complete one, never a truncation.  The temp name is task-unique so
    two concurrent attempts never clobber each other's in-progress
    temp; last rename wins, and both attempts write identical content
    (the mapper is deterministic per pset)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, path)


def _write_logs(calc_dir: str, pset_id: str, logs: str) -> None:
    """The ``capture_logs`` file: ``<calc_dir>/<pset_id>/logs.txt``."""
    d = os.path.join(str(calc_dir), str(pset_id))
    os.makedirs(d, exist_ok=True)
    _atomic_write(os.path.join(d, "logs.txt"), logs.encode())


def _write_tmpsave(pset: dict) -> None:
    """The ``tmpsave`` file: the completed pset dict, pickled to
    ``<calc_dir>/tmpsave/<run_id>/<pset_id>.pk``."""
    d = os.path.join(str(pset["_calc_dir"]), "tmpsave", str(pset["_run_id"]))
    os.makedirs(d, exist_ok=True)
    _atomic_write(os.path.join(d, f"{pset['_pset_id']}.pk"), pickle.dumps(pset))


#: held while a capture buffer is active: ``sys.stdout``/``sys.stderr``
#: are process-global, so two driver threads capturing at once would
#: swap their output
_CAPTURE_LOCK = threading.RLock()


@contextmanager
def _captured(buf: io.StringIO | None):
    """Redirect stdout and stderr into ``buf``, one buffer at a time per
    process (:data:`_CAPTURE_LOCK`); a no-op for None."""
    if buf is None:
        yield
        return
    with _CAPTURE_LOCK, redirect_stdout(buf), redirect_stderr(buf):
        yield


def _call_func(
    pset: dict,
    func: Callable[[dict], dict],
    capture_logs: str | None = None,
    safe: bool = False,
    db_field: str = "_logs",
) -> dict:
    """``func(pset)``'s result dict: the capture_logs_wrapper layer.

    ``capture_logs`` ('db'|'file'|'db+file') captures stdout/stderr to
    ``result[db_field]`` and/or :func:`_write_logs`.  Under ``safe`` an
    exception becomes ``_failed=True`` + ``_exc_txt`` (the documented
    safe_func pattern, manual.md:891-944) and keeps the captured logs;
    a success gets ``_failed=False``."""
    buf = io.StringIO() if capture_logs else None
    try:
        with _captured(buf):
            result = func(pset) or {}
        if safe:
            result.update(_failed=False, _exc_txt=None)
    except Exception:
        if not safe:
            raise
        result = {"_failed": True, "_exc_txt": traceback.format_exc()}
    if buf is not None:
        logs = buf.getvalue()
        if "db" in capture_logs:
            result[db_field] = logs
        if "file" in capture_logs:
            _write_logs(pset["_calc_dir"], pset["_pset_id"], logs)
    return result


def _exec_pset(
    pset: dict,
    func: Callable[[dict], dict],
    *,
    capture_logs: str | None = None,
    safe: bool = False,
    tmpsave: bool = False,
    simulate: bool = False,
    verbose: bool = False,
) -> dict:
    """The one per-pset executor (reference func_wrapper,
    psweep.py:1197-1238):

    1. stamp ``_time_utc`` (:func:`_utc_seconds`) and ``_exec_host``;
    2. unless ``simulate``, call ``func`` through :func:`_call_func`;
    3. merge its result into ``pset`` and set ``_pset_runtime``;
    4. under ``tmpsave``, :func:`_write_tmpsave`.

    Returns ``pset``, updated in place."""
    t0 = time.time()
    pset.update(_time_utc=_utc_seconds(t0), _exec_host=socket.gethostname())
    if verbose:
        print(pset)
    if not simulate:
        pset.update(_call_func(pset, func, capture_logs, safe))
    pset["_pset_runtime"] = time.time() - t0
    if tmpsave:
        _write_tmpsave(pset)
    return pset


def _pyval(v):
    """Arrow/pandas cell → plain Python value for the user's func."""
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return v.tolist()
    return v


def _live(rec: dict) -> dict:
    """An Arrow record → the pset dict ``func`` sees (plain values,
    framed pickled cells unpickled)."""
    return {k: maybe_unpickle(_pyval(v)) for k, v in rec.items()}


def _make_mapper(
    func: Callable[[dict], dict],
    out_schema: T.StructType,
    *,
    calc_dir: str,
    capture_logs: str | None,
    safe: bool,
    tmpsave: bool,
    simulate: bool,
    func_pandas: "Callable | None" = None,
):
    out_names = out_schema.names
    double_cols = {
        f.name for f in out_schema.fields if isinstance(f.dataType, T.DoubleType)
    }
    int_cols = {
        f.name
        for f in out_schema.fields
        if isinstance(
            f.dataType,
            (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
        )
    }
    pkl_cols = pickled_cols(out_schema)

    if func_pandas is not None and not simulate:
        # vectorized fast path: one func_pandas call per Arrow batch,
        # zero per-row Python (module docstring: "Vectorized mode");
        # safe=True adds the batch-bisection failure isolation
        def vmapper(batches):
            import pandas as pd

            def _call(chunk: "pd.DataFrame") -> "pd.DataFrame":
                # one func_pandas application + contract checks; the
                # collision check raises VectorizedContractError so
                # safe mode can re-raise it (corruption, not failure)
                res = func_pandas(chunk)
                if res is None:
                    return pd.DataFrame(index=pd.RangeIndex(len(chunk)))
                if len(res) != len(chunk):
                    raise ValueError(
                        f"func_pandas returned {len(res)} rows for a "
                        f"{len(chunk)}-row batch; results must align "
                        "positionally with the input batch"
                    )
                res = res.reset_index(drop=True)
                clobber = [
                    c
                    for c in res.columns
                    if c in chunk.columns
                    or c in _STAMPS
                    or c in ("_failed", "_exc_txt", "_logs")
                ]
                if clobber:
                    raise VectorizedContractError(
                        f"func_pandas result columns {clobber} collide "
                        "with pset/meta columns; results must use new "
                        "names (the per-row contract's pset.update() "
                        "overwrite has no vectorized counterpart)"
                    )
                return res

            def _captured_call(chunk: "pd.DataFrame"):
                """(res, logs) — capture_logs wraps each func_pandas
                INVOCATION: a row's logs are whatever the invocation
                that produced its final result printed.  Per-BATCH
                granularity by contract (documented in run()): the
                reference's per-pset capture has no vectorized
                counterpart because one batch call interleaves all its
                rows' output.  On an exception the partial buffer is
                recovered by the caller via exc.__psweep_logs__."""
                buf = io.StringIO() if capture_logs else None
                try:
                    with _captured(buf):
                        res = _call(chunk)
                except Exception as e:
                    if buf is not None:
                        e.__psweep_logs__ = buf.getvalue()  # noqa: SLF001
                    raise
                return res, (None if buf is None else buf.getvalue())

            def _safe_apply(chunk: "pd.DataFrame"):
                # returns (res, failed, exc_txts, logs) aligned with
                # chunk.  Fast path: one call for the whole chunk.  On
                # an exception, bisect — log₂(n) extra calls isolate
                # each failing pset to a single row, mirroring the
                # per-row safe contract (manual.md:891-944 semantics).
                n = len(chunk)
                try:
                    res, logs = _captured_call(chunk)
                except VectorizedContractError:
                    raise
                except Exception as e:  # noqa: BLE001  (user func failure)
                    if n <= 1:
                        exc = traceback.format_exc()
                        logs = getattr(e, "__psweep_logs__", None)
                        return (
                            pd.DataFrame(index=pd.RangeIndex(n)),
                            [True] * n,
                            [exc] * n,
                            [logs] * n,
                        )
                    mid = n // 2
                    r1, f1, e1, l1 = _safe_apply(
                        chunk.iloc[:mid].reset_index(drop=True)
                    )
                    r2, f2, e2, l2 = _safe_apply(
                        chunk.iloc[mid:].reset_index(drop=True)
                    )
                    # failed halves carry no result columns; concat
                    # aligns by name and NaN-fills — NaNs are swapped
                    # for None below so Arrow sees typed nulls
                    return (
                        pd.concat([r1, r2], ignore_index=True),
                        f1 + f2,
                        e1 + e2,
                        l1 + l2,
                    )
                return res, [False] * n, [None] * n, [logs] * n

            host = socket.gethostname()
            for pdf in batches:
                n = len(pdf)
                pdf = pdf.reset_index(drop=True)
                t0 = time.time()
                failed: list = []
                excs: list = []
                logs_col: list | None = None
                if not n:
                    res = None
                elif safe:
                    res, failed, excs, logs = _safe_apply(pdf)
                    logs_col = logs if capture_logs else None
                else:
                    res, logs_txt = _captured_call(pdf)
                    if capture_logs:
                        logs_col = [logs_txt] * n
                dt = time.time() - t0
                out = pdf
                if res is not None:
                    for c in res.columns:
                        out[c] = res[c]
                if safe:
                    out["_failed"] = pd.array(failed, dtype="boolean")
                    out["_exc_txt"] = pd.array(excs, dtype="string")
                if capture_logs and logs_col is not None:
                    if "db" in capture_logs:
                        out["_logs"] = pd.array(logs_col, dtype="string")
                    if "file" in capture_logs:
                        # the per-row layout, so per-pset lookup keeps
                        # working; content is the pset's INVOCATION
                        # logs (per-batch text)
                        for pid, txt in zip(out["_pset_id"], logs_col):
                            _write_logs(calc_dir, pid, txt or "")
                out["_time_utc"] = _as_utc(_utc_seconds(t0))
                out["_exec_host"] = host
                out["_pset_runtime"] = dt / n if n else 0.0
                for c in out_names:
                    if c not in out.columns:
                        out[c] = None
                out = out[list(out_names)]
                for c in double_cols:
                    if out[c].dtype == object:
                        out[c] = pd.to_numeric(out[c], errors="coerce")
                if safe:
                    # bisected batches leave NaN holes in failed rows'
                    # result cells; Arrow needs typed nulls, not float
                    # NaN, in non-double columns
                    for c in out.columns:
                        col = out[c]
                        if c not in double_cols and col.dtype == object:
                            out[c] = col.where(pd.notna(col), None)
                        elif c in int_cols and col.dtype.kind == "f":
                            # concat promoted an int result column to
                            # float64 to hold the holes — back to a
                            # NULLABLE integer so the Arrow cast to the
                            # declared long/int type is lossless
                            out[c] = pd.array(col, dtype="Int64")
                if tmpsave:
                    # the per-row file: each completed pset dict
                    # (unframed values); tmpsave is inherently per-pset
                    # I/O, so the loop costs what the files cost
                    for rec in out.to_dict("records"):
                        _write_tmpsave(_live(rec))
                yield out

        return vmapper

    def _emit(pset: dict, rec: dict, c: str):
        v = pset.get(c)
        if c in pkl_cols and v is not None:
            # input pickled param: pass the ORIGINAL framed bytes through
            # (re-pickling a loaded dynamic object may not be
            # byte-stable, and _pset_hash was computed over these bytes);
            # result pickled cols are framed fresh
            orig = rec.get(c)
            if orig is not None:
                return bytes(orig)
            return obj_to_bytes(v)
        if c == "_time_utc":
            return _as_utc(v)
        return v

    def mapper(batches):
        import pandas as pd

        for pdf in batches:
            out_rows = []
            for rec in pdf.to_dict("records"):
                pset = _exec_pset(
                    _live(rec),
                    func,
                    capture_logs=capture_logs,
                    safe=safe,
                    tmpsave=tmpsave and not simulate,
                    simulate=simulate,
                )
                out_rows.append(tuple(_emit(pset, rec, c) for c in out_names))
            out = pd.DataFrame(out_rows, columns=out_names)
            # object → float for double columns so Arrow doesn't choke on
            # None-mixed python floats
            for c in double_cols:
                if c in out and out[c].dtype == object:
                    out[c] = pd.to_numeric(out[c], errors="coerce")
            yield out

    return mapper


# ---------------------------------------------------------------------------
# git hooks (reference psweep.py:406-446 — driver-side orchestration)
# ---------------------------------------------------------------------------


def _git(cmd: list[str], cwd: str) -> str:
    import subprocess

    return subprocess.run(
        ["git"] + cmd, cwd=cwd, check=True, capture_output=True, text=True
    ).stdout


def git_clean(cwd: str = ".") -> bool:
    return _git(["status", "--porcelain"], cwd).strip() == ""


def git_enter(use_git: bool, cwd: str = ".") -> None:
    if use_git and not git_clean(cwd):
        raise RuntimeError("dirty git repo; commit first (run(..., git=True))")


def git_exit(use_git: bool, run_id: str, cwd: str = ".") -> None:
    if use_git and not git_clean(cwd):
        _git(["add", "-A"], cwd)
        _git(["commit", "-m", f"psweep_spark: run_id={run_id}"], cwd)


def skip_dups_anti_join(params_df: DataFrame, hashes: DataFrame) -> DataFrame:
    """The skip-dups stage of :func:`run` for a lazy ``DataFrame``
    grid: drop every grid row whose ``_pset_hash`` already exists in
    the DB hash relation.  An eager grid, bounded by the driver, is
    filtered on the driver instead (:func:`_eager_hashes`): only past
    :meth:`Database.stored_hashes`'s size cap does Spark probe it, and
    then the other way round, the grid's hashes as the broadcast side.

    Scale shape: a LEFT ANTI join where the GRID side streams (it may
    be a lazy 10⁹-row cross product that must never shuffle wholesale
    just to dedup) and the DB hash set is the build side.  The hash
    relation is bounded by distinct psets ever run — usually far
    smaller than the incoming grid — so AQE converts the join to a
    BroadcastHashJoin at runtime from the anti-join's actual build-side
    size (the plan contract ``test_skip_dups_anti_join_broadcasts``
    pins this); above the broadcast threshold AQE falls back to a
    shuffled join, which is the correct choice for a billion-hash
    history.  No hint is forced either way: a forced broadcast would
    OOM executors on a huge DB, a forced shuffle would shuffle the
    grid for a small one.

    The USING join moves ``_pset_hash`` to the front; the output keeps
    the grid's column order instead, so a skip-dups run stores its
    columns in the same order as a first run.
    """
    return params_df.join(hashes, "_pset_hash", "left_anti").select(
        *params_df.columns
    )


def _eager_hashes(
    spark: SparkSession,
    db: Database,
    schema: T.StructType,
    rows: list[tuple],
    pset_cols: list[str],
    skip_dups: bool,
) -> tuple[list[tuple], list[str]]:
    """Eager grid → (the typed rows to run, their ``_pset_hash``), in
    submission order, all on the driver, as the reference hashes and
    filters (psweep.py:208-270, 1438-1439).

    The rows are hashed by :func:`hashing.row_hashes`, the Python twin of
    the JVM hash expression, in the session time zone.  Under skip-dups
    :meth:`Database.stored_hashes` says which of those hashes the DB
    holds (pyarrow on the driver; Spark past a size cap), and those rows
    are dropped; a repeat inside the grid keeps every copy."""
    hashes = row_hashes(schema, rows, pset_cols, _session_tz(spark))
    if not skip_dups:
        return rows, hashes
    stored = db.stored_hashes(spark, hashes)
    kept = [i for i, h in enumerate(hashes) if h not in stored]
    return [rows[i] for i in kept], [hashes[i] for i in kept]


def _spark_rows(
    schema: T.StructType, cols: list[str], rows: list[tuple]
) -> list[Row]:
    """Typed tuples → the Rows ``select(*cols).take()`` would return for
    them (the same Python conversions, no Spark job)."""
    sub = T.StructType([schema[c] for c in cols])
    idx = [schema.names.index(c) for c in cols]
    return [
        sub.fromInternal(sub.toInternal(tuple(r[i] for i in idx))) for r in rows
    ]


def _probe_results(
    probe_rows: list[Row],
    meta: dict,
    func: Callable[[dict], dict] | None,
    func_pandas: "Callable | None",
    safe: bool,
) -> dict:
    """Driver-side schema probe: the result keys of ``func`` — through
    :func:`_exec_pset`, artifact writes off — or else of ``func_pandas``
    on a one-row batch, for the record an executor passes for each
    probe row (``meta`` holds the run's ids, placeholders where they
    are per-pset).

    Under ``safe`` a failing pset is skipped and the first success
    wins.  If all 8 probe psets fail, more psets may exist that would
    succeed, and inferring an empty result schema would silently drop
    their results, so the probe refuses."""
    if func is not None:

        def call(rec: dict) -> dict:
            return _exec_pset(_live(rec), func)

    else:
        import pandas as pd

        def call(rec: dict) -> dict:
            res = func_pandas(pd.DataFrame([rec]))
            return {} if res is None else {c: _pyval(res[c].iloc[0]) for c in res}

    for row in probe_rows:
        rec = {k: _pyval(v) for k, v in row.asDict(recursive=True).items()}
        rec.update(meta)
        try:
            out = call(rec)
        except Exception:
            if not safe:
                raise
            continue
        return {k: v for k, v in out.items() if k not in rec and k not in _STAMPS}
    if len(probe_rows) == 8:
        raise ValueError(
            "schema probe: the first 8 psets all failed under safe=True; "
            "pass result_schema= explicitly"
        )
    return {}


#: the ids run() stamps on every pset, in stored column order
_META_FIELDS = [
    ("_pset_hash", T.StringType()),
    ("_run_id", T.StringType()),
    ("_run_seq", T.LongType()),
    ("_pset_seq", T.LongType()),
    ("_pset_id", T.StringType()),
    ("_calc_dir", T.StringType()),
]


def _out_schema(
    in_schema: T.StructType,
    res_fields: list[T.StructField],
    stamp_fields: list[tuple[str, T.DataType]],
) -> T.StructType:
    """Stored columns: the input, then the new result columns, then the
    executor's stamps."""
    out = list(in_schema.fields)
    out += [f for f in res_fields if f.name not in in_schema.names]
    have = {f.name for f in out}
    out += [T.StructField(n, dt, True) for n, dt in stamp_fields if n not in have]
    return T.StructType(out)


def _session_tz(spark: SparkSession) -> _dt.tzinfo:
    """The session time zone: where mapInPandas's Arrow conversion puts
    the wall time of a naive ``datetime``."""
    name = spark.conf.get("spark.sql.session.timeZone")
    try:
        return ZoneInfo(name)
    except (KeyError, ValueError):  # a fixed offset such as "+02:00"
        import pandas as pd

        return pd.Timestamp(0, tz=name).tzinfo


def _wall(v, tz: _dt.tzinfo):
    """A naive driver-local ``datetime`` (what ``fromInternal`` returns),
    also inside a list → the naive wall time of the same instant in
    ``tz``."""
    if isinstance(v, _dt.datetime):
        return v.astimezone(tz).replace(tzinfo=None)
    if isinstance(v, list):
        return [_wall(x, tz) for x in v]
    return v


def _run_on_driver(
    spark: SparkSession,
    func: Callable[[dict], dict],
    in_schema: T.StructType,
    rows: list[tuple],
    res_fields: list[T.StructField] | None,
    stamp_fields: list[tuple[str, T.DataType]],
    *,
    capture_logs: str | None,
    safe: bool,
    tmpsave: bool,
    simulate: bool,
    pickle_objects: bool,
) -> tuple[pa.Table, T.StructType]:
    """``func`` on every stamped pset row, serially on the driver, as the
    reference runs ``poolsize=None`` (``list(map(func, params))``,
    psweep.py:1465-1466); the results as one Arrow table and its Spark
    schema, which :meth:`Database.append` writes on the driver.

    Each pset's record is its row as ``take()`` returns it
    (:func:`_spark_rows`), and it goes through :func:`_exec_pset` once.
    The result columns are ``res_fields``, or else the union of the
    result dicts' keys (:func:`infer_schema`, the reference's
    union-of-keys).

    Timestamps follow mapInPandas's Arrow conversion, so this path and
    the executor path store the same rows: ``func`` sees a naive
    ``datetime`` as wall time in the session time zone, and a naive
    ``datetime`` in a stored result is read in that zone.  ``_time_utc``
    is stored as the UTC instant it stamps (:func:`_as_utc`)."""
    tz = _session_tz(spark)
    ts_cols = [f.name for f in in_schema.fields if "timestamp" in f.dataType.simpleString()]
    psets = []
    for row in _spark_rows(in_schema, in_schema.names, rows):
        rec = row.asDict(recursive=True)
        for c in ts_cols:
            rec[c] = _wall(rec[c], tz)
        psets.append(_exec_pset(
            _live(rec), func, capture_logs=capture_logs, safe=safe,
            tmpsave=tmpsave and not simulate, simulate=simulate,
        ))

    if res_fields is None:
        # the executor path's 8-row schema probe refuses the same grids
        if safe and len(psets) >= 8 and all(p["_failed"] for p in psets):
            raise ValueError(
                f"all {len(psets)} psets failed under safe=True, so their "
                "result columns are unknown; pass result_schema= explicitly"
            )
        known = set(in_schema.names) | {n for n, _ in stamp_fields}
        res_fields = infer_schema(
            [{k: v for k, v in p.items() if k not in known} for p in psets],
            pickle_objects=pickle_objects,
        ).fields
    out_schema = _out_schema(in_schema, res_fields, stamp_fields)
    pkl = pickled_cols(out_schema)
    pos = {c: i for i, c in enumerate(in_schema.names)}

    def cell(pset: dict, row: tuple, f: T.StructField):
        v = pset.get(f.name)
        if f.name in pkl and v is not None:
            # a pickled param keeps its original framed bytes, which
            # _pset_hash was computed over; results are framed fresh
            orig = row[pos[f.name]] if f.name in pos else None
            return obj_to_bytes(v) if orig is None else orig
        if f.name == "_time_utc":
            v = _as_utc(v)
        return _to_row_value(v, f.dataType, tz)

    out = [tuple(cell(p, r, f) for f in out_schema.fields) for p, r in zip(psets, rows)]
    return _arrow_table(out_schema, out), out_schema


# ---------------------------------------------------------------------------
# run()
# ---------------------------------------------------------------------------


def run(
    spark: SparkSession,
    func: Callable[[dict], dict] | None,
    params: Sequence[dict] | DataFrame,
    *,
    calc_dir: str = "calc",
    database_dir: str | None = None,
    save: bool = True,
    simulate: bool = False,
    skip_dups: bool = False,
    poolsize: int | None = None,
    capture_logs: str | None = None,
    safe: bool = False,
    result_schema: T.StructType | None = None,
    tmpsave: bool = False,
    backup: bool = False,
    git: bool = False,
    git_dir: str = ".",
    verbose: bool = False,
    pickle_objects: bool = False,
    func_pandas: "Callable | None" = None,
) -> DataFrame:
    """Dispatch ``func`` over every pset; append results to the DB.

    Where ``func`` runs follows the reference's ``poolsize``:

    * an eager (list-of-dicts) grid without ``poolsize`` runs serially
      on the driver, one ``func`` call per pset (the reference's
      ``list(map(func, params))``), and its results are written as one
      Parquet file by pyarrow on the driver, with no Spark job
      (:func:`_run_on_driver`, :meth:`Database.append`);
    * ``poolsize=N`` runs ``func`` in N executor tasks of one
      ``mapInPandas`` stage, one parquet file each;
    * a lazy ``DataFrame`` grid runs in the executor stage too, with
      the grid's own partitioning unless ``poolsize`` is set.

    ``func_pandas`` (mutually compatible with ``func`` — when both are
    given, ``func`` is used only for the schema probe and must agree
    with ``func_pandas``) switches the executor stage to the vectorized
    batch contract documented in the module docstring; an eager grid
    then runs as one executor task unless ``poolsize`` is set.

    Returns the full accumulated database as a DataFrame.  With
    ``save=False`` it is the loaded DB unioned with this run's rows:
    those of a driver run are a ``LocalRelation`` of its Arrow table,
    so ``func`` ran exactly once per pset; those of an executor run stay
    a lazy plan, which runs ``func`` again on every action.
    """
    if capture_logs not in (None, "db", "file", "db+file"):
        raise ValueError(f"capture_logs must be db|file|db+file, got {capture_logs!r}")
    if func is None and func_pandas is None and not simulate and result_schema is None:
        raise ValueError("func or func_pandas required unless simulate=True")

    git_enter(git, git_dir)

    if simulate:
        calc_dir_real = calc_dir + ".simulate"
        src_db = Database(database_dir or os.path.join(calc_dir, "database"))
        db = src_db.clone_to(os.path.join(calc_dir_real, "database"))
        calc_dir = calc_dir_real
    else:
        db = Database(database_dir or os.path.join(calc_dir, "database"))
    os.makedirs(calc_dir, exist_ok=True)
    calc_dir = os.path.abspath(calc_dir)

    eager = not isinstance(params, DataFrame)
    if eager:
        schema, rows = _typed_rows(params, pickle_objects=pickle_objects)
        pset_cols = filter_cols(schema.names)
    else:
        pset_cols = filter_cols(params.columns)
    if not pset_cols:
        raise ValueError("params contain no pset (bare-named) columns")

    # _pset_seq is pset_base + 1 + the pset's position among those that
    # reach the write (__order, for a lazy grid)
    n_probe = 8 if safe else 1
    if eager:
        rows, hashes = _eager_hashes(spark, db, schema, rows, pset_cols, skip_dups)
        n_slots = len(rows)
    else:
        # scale path: a global row_number would single-partition the grid;
        # monotonically_increasing_id keeps seq unique + per-partition
        # monotone without a shuffle (documented deviation: not contiguous)
        params_df = params.withColumn("__order", F.monotonically_increasing_id())
        # JVM expr normally; Arrow-batched Python twin when a pset column
        # is binary (pickled-object cells need value-wise canon — hashing.py)
        params_df = params_df.withColumn(
            "_pset_hash", df_hash_expr(params_df.schema, pset_cols)
        )
        if skip_dups and db.exists():
            params_df = skip_dups_anti_join(params_df, db.distinct_hashes(spark))
        # one take serves the emptiness check and the schema probe
        probe_rows = params_df.select(*pset_cols).take(n_probe)
        # the sparse ids consume up to max(__order)+1 seq slots
        n_slots = (
            params_df.agg(F.max("__order")).first()[0] + 1 if probe_rows else 0
        )

    # skip_dups may have filtered everything → return DB unchanged
    # (reference: re-run of identical params appends 0 rows)
    if not n_slots:
        full = db.load(spark)
        if full is None:
            raise ValueError("empty params and empty database")
        git_exit(git, "no-op", git_dir)
        return full

    run_id = str(uuid.uuid4())
    if backup and db.exists():
        db.backup(f"{time.strftime('%Y-%m-%dT%H-%M-%SZ', time.gmtime())}_run_id_{run_id}")

    # reserve this run's _run_seq and _pset_seq slot range up front
    # (Database.reserve_seqs — lockfile CAS on the meta watermark), so
    # two concurrent run() calls can never stamp colliding seqs even
    # though both compute and append in parallel
    run_seq, pset_base = db.reserve_seqs(spark, n_slots, peek=not save)
    if eager:
        # _pset_id = UUIDv5 of (run_id, _pset_seq), what uuid5_expr computes
        in_schema = T.StructType(
            schema.fields + [T.StructField(n, t) for n, t in _META_FIELDS]
        )
        ns = uuid.UUID(run_id)
        rows = [
            r + (h, run_id, run_seq, seq, str(uuid.uuid5(ns, str(seq))), calc_dir)
            for seq, r, h in zip(itertools.count(pset_base + 1), rows, hashes)
        ]
    else:
        seq_col = (F.lit(pset_base + 1) + F.col("__order")).cast("long")
        params_df = (
            params_df.withColumn("_run_id", F.lit(run_id))
            .withColumn("_run_seq", F.lit(run_seq).cast("long"))
            .withColumn("_pset_seq", seq_col)
            .withColumn(
                "_pset_id",
                uuid5_expr(F.col("_run_id"), F.col("_pset_seq").cast("string")),
            )
            .withColumn("_calc_dir", F.lit(calc_dir))
            .drop("__order")
        )

    # --- result schema ------------------------------------------------------
    stamp_fields = [
        ("_time_utc", T.TimestampType()),
        ("_pset_runtime", T.DoubleType()),
        ("_exec_host", T.StringType()),
    ]
    if safe:
        stamp_fields += [("_failed", T.BooleanType()), ("_exc_txt", T.StringType())]
    if capture_logs and "db" in capture_logs:
        stamp_fields.append(("_logs", T.StringType()))
    res_fields: list[T.StructField] | None = None  # None: inferred
    if simulate:
        res_fields = []
    elif result_schema is not None:
        res_fields = list(result_schema.fields)

    row_func = func if func is not None else (lambda p: {})
    if eager and not poolsize and func_pandas is None:
        table, out_schema = _run_on_driver(
            spark, row_func, in_schema, rows, res_fields, stamp_fields,
            capture_logs=capture_logs, safe=safe, tmpsave=tmpsave,
            simulate=simulate, pickle_objects=pickle_objects,
        )
        result_df = None if save else spark.createDataFrame(table, out_schema)
    else:
        if eager:
            params_df = _local_df(spark, in_schema, rows)
            probe_rows = _spark_rows(in_schema, pset_cols, rows[:n_probe])
        if res_fields is None:
            meta = {
                "_pset_hash": "0" * 64,
                "_run_id": run_id,
                "_run_seq": run_seq,
                "_pset_seq": pset_base + 1,
                "_pset_id": "00000000-0000-5000-8000-000000000000",
                "_calc_dir": calc_dir,
            }
            res = _probe_results(probe_rows, meta, func, func_pandas, safe)
            res_fields = list(infer_schema([res], pickle_objects=pickle_objects).fields)
        out_schema = _out_schema(params_df.schema, res_fields, stamp_fields)

        if poolsize:
            params_df = params_df.repartition(poolsize)
        elif eager:
            # a human-sized grid: one task, so one parquet file per run
            params_df = params_df.coalesce(1)

        mapper = _make_mapper(
            row_func,
            out_schema,
            calc_dir=calc_dir,
            capture_logs=capture_logs,
            safe=safe,
            tmpsave=tmpsave,
            simulate=simulate,
            func_pandas=func_pandas,
        )
        result_df = params_df.mapInPandas(mapper, out_schema)

    if save:
        if result_df is None:
            db.append(table, out_schema, spark)
        else:
            db.append(result_df)
        full = db.load(spark)
        assert full is not None
    else:
        old = db.load(spark)
        full = (
            old.unionByName(result_df, allowMissingColumns=True)
            if old is not None
            else result_df
        )

    git_exit(git, run_id, git_dir)
    if verbose:
        full.orderBy("_pset_seq").show(truncate=False)
    return full
