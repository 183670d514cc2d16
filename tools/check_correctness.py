"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value hash.

Memory is bounded regardless of result size (VERDICT r9 item 5): the
engine result spills to parquet (executor-side write — the driver JVM
never materializes it) and both sides stream Arrow record batches
through an order-insensitive multiset hash, one batch resident at a
time.  A 14.7M-row nested result that previously OOM-killed the driver
under 3-gate host load now costs the harness a ~64k-row window.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers Spark starts import the package too, from PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_cell(v):
    if v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v)):
        return "∅"
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, np.bool_):
        return str(bool(v))
    if isinstance(v, pd.Timestamp):
        # both engines run in UTC (session.py pins
        # spark.sql.session.timeZone); a tz-aware value — e.g. from the
        # chunked Arrow path, where Spark's parquet spill marks
        # timestamps adjusted-to-UTC — normalizes to the same naive-UTC
        # string the in-memory path always produced
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "|".join(_norm_cell(r[c]) for c in cols)
        for r in df.to_dict("records")
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


# --------------------------------------------------------------------------
# chunked comparison (VERDICT r9 item 5): materializing a full result
# via toPandas put the whole frame in the driver JVM + this process at
# once — a 14.7M-row result under 3-gate host load killed the JVM.
# Both sides now stream Arrow record batches through a MULTISET hash
# (sum of per-row sha256 values mod 2^128 — order-insensitive,
# duplicate-sensitive, O(batch) memory), so harness memory is bounded
# regardless of result size.  The engine side spills to parquet first:
# executors write directly, the driver never holds the result.
# --------------------------------------------------------------------------

_BATCH_ROWS = 65536
_HASH_MOD = 1 << 128
# full in-memory reload for first-diff forensics only below this
_DIFF_MAX_ROWS = 500_000


def _batch_norm(pdf: pd.DataFrame) -> pd.DataFrame:
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return pdf


def _types_mapper(t):
    """Arrow→pandas dtype pins for the CHUNKED path.  Converting per
    BATCH makes the default mapping unstable for nullable columns: an
    int64 batch WITH nulls lands as float64 ("5.0"), one without as
    int64 ("5") — and the two engines batch differently, so identical
    results hashed differently (caught by the r10 sf0.01 gate on 3
    null-bearing queries).  Pandas' nullable dtypes keep ints ints and
    bools bools in every batch on both sides."""
    import pyarrow as pa

    return {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
        pa.bool_(): pd.BooleanDtype(),
    }.get(t)


def multiset_stats(batches, schema_names) -> tuple[int, list[str], str]:
    """(row_count, sorted column names, multiset value hash) of a
    stream of Arrow record batches, in O(one batch) memory."""
    cols = sorted(schema_names)
    total = 0
    count = 0
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        # DECIMAL → float64 at the Arrow level: duckdb's legacy .df()
        # (the pre-chunked oracle path every green hash was minted
        # against) converts DECIMAL to float64, but its record-batch
        # reader keeps decimal128, whose Decimal cells stringify with
        # their full scale ("1.000000000000000" vs "1.0")
        if any(pa.types.is_decimal(f.type) for f in b.schema):
            b = pa.RecordBatch.from_arrays(
                [
                    pc.cast(b.column(i), pa.float64())
                    if pa.types.is_decimal(f.type)
                    else b.column(i)
                    for i, f in enumerate(b.schema)
                ],
                names=b.schema.names,
            )
        pdf = _batch_norm(b.to_pandas(types_mapper=_types_mapper))
        for r in pdf.to_dict("records"):
            s = "|".join(_norm_cell(r[c]) for c in cols)
            h = int.from_bytes(
                hashlib.sha256(s.encode()).digest()[:16], "big"
            )
            total = (total + h) % _HASH_MOD
            count += 1
    return count, cols, f"{total:032x}"


def spark_result_stats(sdf, scratch_dir: str):
    """Spill the result to parquet (executor-side write) and stream it
    back; returns (stats, parquet path or None).  Falls back to the
    in-memory path only if the result schema cannot land in parquet
    (e.g. a NullType column) — those results are tiny by construction."""
    import shutil

    import pyarrow.dataset as pads

    path = os.path.join(scratch_dir, "engine_result")
    shutil.rmtree(path, ignore_errors=True)
    try:
        sdf.write.mode("overwrite").parquet(path)
    except Exception:  # noqa: BLE001  (unwritable schema — tiny result)
        pdf = sdf.toPandas()
        import pyarrow as pa

        tbl = pa.Table.from_pandas(
            pdf, preserve_index=False, safe=False
        )
        return multiset_stats(tbl.to_batches(_BATCH_ROWS), pdf.columns), None
    dset = pads.dataset(path)
    return (
        multiset_stats(
            dset.to_batches(batch_size=_BATCH_ROWS), dset.schema.names
        ),
        path,
    )


_ORACLE_MEMO: dict = {}


def duckdb_result_stats(con, sql: str):
    # twin entries share oracle SQL verbatim (dedup_clusters /
    # dedup_clusters_star run the same recursive closure — ~60 min
    # each on the skew corpus); one execution serves both
    key = hashlib.sha256(sql.encode()).hexdigest()
    if key in _ORACLE_MEMO:
        return _ORACLE_MEMO[key]
    cur = con.execute(sql)
    reader = cur.fetch_record_batch(_BATCH_ROWS)

    def batches():
        while True:
            try:
                yield reader.read_next_batch()
            except StopIteration:
                return

    out = multiset_stats(batches(), reader.schema.names)
    _ORACLE_MEMO[key] = out
    return out


def main() -> int:
    import json

    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    excluded: dict[str, str] = {}
    if "--exclude" in args:
        # everything after --exclude is name[=reason] pairs
        i = args.index("--exclude")
        for tok in args[i + 1:]:
            name, _, why = tok.partition("=")
            excluded[name] = why or "excluded by caller"
        args = args[:i]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from psweep_spark.session import get_spark

    spark = get_spark("correctness-check")

    import shutil
    import tempfile

    scratch_dir = tempfile.mkdtemp(prefix="psweep_gate_")

    con = duckdb.connect()
    for t in TABLES:
        # single-file layout (driver testdata) or Spark-written
        # directory-of-parts layout (tools/gen_scale_data.py)
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    def session_alive() -> bool:
        try:
            return spark.range(1).count() == 1
        except Exception:  # noqa: BLE001
            return False

    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name in excluded:
            print(f"skip  {name}: {excluded[name]}")
            continue
        try:
            if name not in oracles:
                # rows-only check: count is executor-side, O(1) driver
                weak_rows = fn(spark, sf_dir).count()
            else:
                (s_rows, s_cols, s_hash), s_path = spark_result_stats(
                    fn(spark, sf_dir), scratch_dir
                )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            results[name] = {"status": "FAIL", "error": str(e)[:200]}
            n_fail += 1
            # a dead driver JVM (e.g. an OOM kill) turns every later
            # query into a phantom 'Connection refused' FAIL — restart
            # the session so one casualty doesn't cascade
            if not session_alive():
                print(f"# session dead after {name}; restarting JVM")
                try:
                    spark.stop()
                except Exception:  # noqa: BLE001
                    pass
                from pyspark.sql import SparkSession

                SparkSession._instantiatedSession = None  # noqa: SLF001
                SparkSession._activeSession = None  # noqa: SLF001
                spark = get_spark("correctness-check-restarted")
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={weak_rows} (no oracle, rows-only)")
            results[name] = {"status": "weak", "rows": weak_rows}
            n_weak += 1
            continue
        try:
            o_rows, o_cols, o_hash = duckdb_result_stats(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            results[name] = {"status": "FAIL", "error": str(e)[:200]}
            n_fail += 1
            continue
        problems = []
        if s_rows != o_rows:
            problems.append(f"rows {s_rows} != {o_rows}")
        if s_cols != o_cols:
            problems.append(f"cols {s_cols} != {o_cols}")
        if not problems and s_hash != o_hash:
            problems.append(f"value-hash {s_hash} != {o_hash}")
            # first-diff forensics: full reload is memory-unbounded,
            # so only below the cap (a hash mismatch on a bigger
            # result still FAILS, just without the row dump)
            if s_rows <= _DIFF_MAX_ROWS and s_path is not None:
                import pyarrow.dataset as pads

                sdf = _batch_norm(
                    pads.dataset(s_path).to_table().to_pandas()
                )
                odf = _batch_norm(con.sql(oracles[name]).df())
                sk = sorted(sdf.columns)
                a = sdf[sk].astype(str).sort_values(sk).reset_index(drop=True)
                b = odf[sk].astype(str).sort_values(sk).reset_index(drop=True)
                neq = (a != b).any(axis=1)
                if neq.any():
                    i = int(neq.idxmax())
                    problems.append(
                        f"first diff row {i}: spark={a.iloc[i].to_dict()} "
                        f"oracle={b.iloc[i].to_dict()}"
                    )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            results[name] = {"status": "FAIL", "problems": problems}
            n_fail += 1
        else:
            print(f"ok    {name}: rows={s_rows}")
            results[name] = {"status": "ok", "rows": s_rows}
            n_pass += 1
    shutil.rmtree(scratch_dir, ignore_errors=True)
    print(f"\n{n_pass} ok, {n_weak} weak (rows-only), {n_fail} FAIL")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_ok": n_pass,
                    "n_weak": n_weak,
                    "n_fail": n_fail,
                    "excluded": excluded,
                    "queries": results,
                },
                fh, indent=2, sort_keys=True,
            )
        print(f"wrote {json_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
