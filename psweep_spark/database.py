"""Append-only experiment database over Parquet — SURVEY §2 #27-28, M0.

Replaces the reference's pickled pandas DataFrame
(``/root/reference/src/psweep/psweep.py:36,1334-1336,1478-1488``) with a
Parquet table:

* **append** = write new part files, partitioned by ``_run_id`` →
  partition pruning for per-run queries, no rewrite of history on the
  hot path.  Spark writes a DataFrame run; a run whose rows are already
  on the driver (an eager ``run()`` without a pool) is one Arrow table,
  which pyarrow writes on the driver as the one file Spark would have
  written (same name, footer keys, timestamp type and per-column
  dictionary choice), so its commit runs no Spark job.
* **the manifest pins the table schema** (reference
  ``df_update_pset_cols``, psweep.py:690-710, merges each run's new
  keys into the schema once, at append time; so does this engine).
  Every commit folds the run's schema into the versioned manifest:
  columns keep their first-commit order, new ones go at the end in
  commit order, ``_run_id`` is last, field metadata (the pickled-column
  flag) is kept.  :meth:`Database.load` reads with that schema, so it
  runs no Spark job (no ``mergeSchema`` footer scan); columns absent
  from older files read as NULL, the reference's ``FILL_VALUE = pd.NA``
  back-fill.  New *pset* columns trigger a one-time rewrite because
  every historical ``_pset_hash`` must be recomputed over the widened
  pset column set (psweep.py:1432-1437; tests/test_all.py:1476-1524) —
  a single distributed read→withColumn→write job, not a driver loop.
* **the manifest names the live table directory** (``data_dir``,
  relative to the DB root; ``data`` when absent).  A rewrite writes a
  fresh ``data.<uuid>`` directory and publishes it in the same manifest
  CAS that folds the schema — one atomic switch, like the reference
  rewriting ``database.pk`` whole.  A DB that is never rewritten keeps
  ``data/_run_id=*/part-*.parquet``.
* type conflicts across appends are an error (typed core replaces the
  reference's dtype=object wash, SURVEY §1.2).

The manifest also holds the ``_run_seq``/``_pset_seq`` watermarks, so
:meth:`Database.reserve_seqs` reads no data either.  A manifest without
a schema (a DB written before the schema was pinned) falls back to a
``mergeSchema`` read and a footer scan; its next append records both.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .hashing import df_hash_expr, filter_cols
from .metastore import LocalFSMetaStore, MetaStore

META_VERSION_PREFIX = "_psweep_meta.v"
SCHEMA_PREFIX = "_psweep_schema."
DATA_DIRNAME = "data"
DATA_DIR_KEY = "data_dir"
LOCK_BASENAME = ".writer_lock"
SEQ_COLS = ("_run_seq", "_pset_seq")
#: the footer keys Spark's Parquet writer sets
SPARK_ROW_META_KEY = "org.apache.spark.sql.parquet.row.metadata"
SPARK_VERSION_KEY = "org.apache.spark.version"
#: the file bytes past which :meth:`Database.stored_hashes` probes with
#: Spark instead of pyarrow on the driver.  The two never cross in time:
#: on a 4-vCPU VM (``local[4]``, pyarrow 16.1), 2000 hashes against runs
#: of 14 benchmark-shaped columns took 0.25 s (pyarrow) / 0.50 s (Spark)
#: at 227 MB, 0.53 / 1.85 s at 1.0 GB and 1.19 / 2.92 s at 2.4 GB.  The
#: cap bounds driver memory instead: pyarrow's peak RSS grew by 0.45 GB
#: at 227 MB, 1.05 GB at 568 MB and 2.2 GB at 2.4 GB.
PROBE_MAX_BYTES = 256 * 1024 * 1024


def _fold_schema(old: T.StructType | None, new: T.StructType) -> T.StructType:
    """``old``'s columns in order, then ``new``'s new columns in their
    order, ``_run_id`` last, every field nullable (as Parquet reads
    them).  A column whose type changes raises ``TypeError``; a
    ``NullType`` side yields to the typed one."""
    fields = {f.name: f for f in (old.fields if old is not None else [])}
    for f in new.fields:
        o = fields.get(f.name)
        if o is None or isinstance(o.dataType, T.NullType):
            fields[f.name] = f  # a replaced key keeps its position
        elif o.dataType != f.dataType and not isinstance(f.dataType, T.NullType):
            raise TypeError(
                f"column {f.name!r} changes type across appends: "
                f"{o.dataType.simpleString()} -> {f.dataType.simpleString()}; "
                "the engine's typed core requires type-stable columns "
                "(cast explicitly, or use a new column name)"
            )
    order = [n for n in fields if n != "_run_id"] + (
        ["_run_id"] if "_run_id" in fields else []
    )
    return T.StructType([
        T.StructField(n, fields[n].dataType, True, fields[n].metadata)
        for n in order
    ])


def _conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """``df`` projected onto ``schema``: missing columns as typed NULLs
    carrying the schema's field metadata."""
    have = set(df.columns)
    return df.select(*[
        F.col(f.name) if f.name in have
        else F.lit(None).cast(f.dataType).alias(f.name, metadata=f.metadata)
        for f in schema.fields
    ])


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable, as Spark
    writes a Parquet schema."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _dictionary_columns(table: pa.Table, int96: bool) -> list[str]:
    """The top-level flat columns that parquet-mr would keep
    dictionary-encoded: those whose dictionary (distinct values) plus
    bit-packed indices is smaller than their plain encoding.  parquet-mr
    makes this check on its first page and falls back to PLAIN
    otherwise, so near-unique columns (hashes, ids, seqs, most results)
    stay PLAIN; pyarrow's default would dictionary-encode them all.
    Booleans and nested columns stay PLAIN."""
    out = []
    for name, col in zip(table.column_names, table.columns):
        t = col.type
        if pa.types.is_boolean(t) or pa.types.is_nested(t):
            continue
        n = len(col) - col.null_count
        if pa.types.is_string(t) or pa.types.is_binary(t):
            uniq = pc.unique(pc.drop_null(col))
            n_uniq = len(uniq)
            plain = (pc.sum(pc.binary_length(col)).as_py() or 0) + 4 * n
            dictionary = (pc.sum(pc.binary_length(uniq)).as_py() or 0) + 4 * n_uniq
        else:
            width = 12 if int96 and pa.types.is_timestamp(t) else t.bit_width // 8
            n_uniq = pc.count_distinct(col).as_py()
            plain, dictionary = n * width, n_uniq * width
        if dictionary + n * max(n_uniq - 1, 0).bit_length() / 8 < plain:
            out.append(name)
    return out


def _write_spark(df: DataFrame, staging: str) -> tuple[int, int]:
    """Spark writes ``df`` under ``staging``, partitioned by ``_run_id``.
    The write observes the rows' max ``_run_seq``/``_pset_seq`` (no
    extra job); returns them, -1 where absent."""
    seq_cols = [c for c in SEQ_COLS if c in df.columns]
    obs = Observation()
    staged = df.observe(obs, *[F.max(c).alias(c) for c in seq_cols]) if seq_cols else df
    (
        staged.write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy("_run_id")
        .parquet(staging)
    )
    got = obs.get if seq_cols else {}
    return tuple(-1 if got.get(c) is None else int(got[c]) for c in SEQ_COLS)


def _write_arrow(
    spark: SparkSession, table: pa.Table, schema: T.StructType, staging: str
) -> tuple[int, int]:
    """pyarrow writes ``table``, one run's rows of Spark ``schema``,
    under ``staging`` on the driver, in the shape of the one file Spark
    writes from one task:
    ``_run_id=<id>/part-00000-<uuid>.c000.snappy.parquet``, every column
    optional, with the footer keys Spark reads (the Spark schema without
    ``_run_id``, field metadata included, and the Spark version, whose
    presence tells Spark the dates and timestamps are proleptic
    Gregorian, as Spark 4 writes them).  Timestamps follow
    ``spark.sql.parquet.outputTimestampType``: INT96 by default, else
    INT64 micros or millis.  pyarrow sets INT96 for every timestamp
    column, and Spark keeps ``TIMESTAMP_NTZ`` as INT64, so a schema
    with an NTZ column writes INT64 micros throughout.  Dictionary
    encoding follows parquet-mr (:func:`_dictionary_columns`).  The
    file also carries pyarrow's ``ARROW:schema`` key: on pyarrow 16 a
    write without it drops every custom key.  Runs no Spark job;
    returns the table's max ``_run_seq``/``_pset_seq``, -1 where
    absent."""
    file_schema = T.StructType(
        [f for f in _nullable(schema).fields if f.name != "_run_id"]
    )
    ts = spark.conf.get("spark.sql.parquet.outputTimestampType")
    ntz = any("timestamp_ntz" in f.dataType.simpleString() for f in schema.fields)
    int96 = ts == "INT96" and not ntz
    unit = None if int96 else ("ms" if ts == "TIMESTAMP_MILLIS" else "us")
    arrow_schema = to_arrow_schema(file_schema).with_metadata({
        SPARK_ROW_META_KEY: json.dumps(file_schema.jsonValue(), separators=(",", ":")),
        SPARK_VERSION_KEY: spark.version,
    })
    (run_id,) = table["_run_id"].unique().to_pylist()
    data = table.select(file_schema.names).cast(arrow_schema)
    d = os.path.join(staging, f"_run_id={run_id}")
    os.makedirs(d)
    pq.write_table(
        data,
        os.path.join(d, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"),
        compression="snappy",
        use_dictionary=_dictionary_columns(data, int96),
        use_deprecated_int96_timestamps=int96,
        coerce_timestamps=unit,
        allow_truncated_timestamps=True,
    )
    maxima = [
        pc.max(table[c]).as_py() if c in table.column_names else None
        for c in SEQ_COLS
    ]
    return tuple(-1 if m is None else int(m) for m in maxima)


class Database:
    """Handle on one experiment database directory.

    All commit metadata — the pinned schema, seq watermarks, the live
    table directory, the advisory writer lock — goes through the
    conditional-put primitive of ``self.meta_store`` (default:
    :class:`LocalFSMetaStore` over the db dir), so an object-store
    implementation makes the metadata commit S3-safe (see
    psweep_spark/metastore.py).  A rewrite is a metadata commit too: it
    publishes a fresh directory by CAS.  A run commit is not: its
    staged ``_run_id=…`` directories still move into the live directory
    by POSIX ``os.rename`` under :meth:`writer_lock`."""

    #: process-wide override for the store backend: a callable of the
    #: db path returning a :class:`MetaStore` (tests inject the
    #: simulated object store here; deployments point it at their real
    #: store implementation once)
    default_store_factory = None

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        factory = type(self).default_store_factory
        self.meta_store: MetaStore = (
            factory(self.path) if factory is not None
            else LocalFSMetaStore(self.path)
        )

    # -- existence / meta --------------------------------------------------

    def _live_dir(self, meta: dict) -> str:
        """The table directory the manifest ``meta`` names."""
        return os.path.join(self.path, meta.get(DATA_DIR_KEY, DATA_DIRNAME))

    @property
    def data_path(self) -> str:
        """The live table directory, as the current manifest names it."""
        return self._live_dir(self.read_meta())

    @staticmethod
    def _has_rows(d: str) -> bool:
        return os.path.isdir(d) and bool(os.listdir(d))

    def exists(self) -> bool:
        return self._has_rows(self.data_path)

    def _meta_version(self) -> int:
        """Highest committed manifest version, or -1 if none."""
        keys = self.meta_store.list_keys(META_VERSION_PREFIX)
        if not keys:
            return -1
        return max(
            int(k[len(META_VERSION_PREFIX):].split(".")[0]) for k in keys
        )

    @staticmethod
    def _meta_key(version: int) -> str:
        return f"{META_VERSION_PREFIX}{version:012d}.json"

    def _read_version(self, version: int) -> dict:
        raw = self.meta_store.get(self._meta_key(version)) if version >= 0 else None
        return json.loads(raw) if raw is not None else {}

    def read_meta(self) -> dict:
        """Current committed metadata: the highest versioned manifest,
        or ``{}`` when none exists."""
        return self._read_version(self._meta_version())

    def update_meta(self, mutate, max_retries: int = 256) -> dict:
        """Commit a metadata update via versioned-manifest CAS.

        ``mutate(meta) -> meta`` is applied to the CURRENT committed
        metadata and the result is conditional-put as version N+1.
        First writer wins; on conflict the loop re-reads and re-applies
        ``mutate`` against the winner's state — so racing writers
        serialize without any lock, on any store with conditional put.
        Returns the committed dict.  ``mutate`` may run several times;
        apart from its return value its only allowed side effect is an
        idempotent put of an immutable content-addressed key (the
        pinned schema).  A ``mutate`` that returns ``None`` has nothing
        to change: no version is put and the current dict is returned.
        An exception raised by ``mutate`` aborts the commit."""
        for _ in range(max_retries):
            v = self._meta_version()
            cur = self._read_version(v)
            meta = mutate(dict(cur))
            if meta is None:
                return cur
            payload = json.dumps(
                meta, indent=2, sort_keys=True, default=str
            ).encode()
            if self.meta_store.put_if_absent(self._meta_key(v + 1), payload):
                return meta
        raise RuntimeError(
            f"metadata CAS for {self.path} lost {max_retries} races; "
            "pathological writer contention"
        )

    # -- pinned schema -------------------------------------------------------

    def _put_schema(self, schema: T.StructType) -> str:
        """Store ``schema`` once under its content-addressed key."""
        payload = json.dumps(
            schema.jsonValue(), sort_keys=True, separators=(",", ":")
        ).encode()
        key = f"{SCHEMA_PREFIX}{hashlib.sha256(payload).hexdigest()[:16]}.json"
        self.meta_store.put_if_absent(key, payload)
        return key

    def pinned_schema(self, meta: dict | None = None) -> T.StructType | None:
        """The table schema the manifest ``meta`` (default: the current
        one) pins, or ``None`` when it pins none."""
        key = (self.read_meta() if meta is None else meta).get("schema")
        raw = self.meta_store.get(key) if key else None
        return T.StructType.fromJson(json.loads(raw)) if raw is not None else None

    def _commit_schema(
        self,
        spark: SparkSession,
        schema: T.StructType,
        seqs: tuple[int, int] = (-1, -1),
        data_dir: str | None = None,
    ) -> str:
        """Fold ``schema`` into the pinned schema and move the
        watermarks past ``seqs`` (the max ``_run_seq``/``_pset_seq`` of
        rows that did not reserve theirs) in one manifest CAS; with
        ``data_dir`` (relative to the DB root) the same CAS makes that
        directory live.  Called before the files that carry ``schema``
        land, so no reader sees a column the pinned schema lacks.  Puts
        nothing when nothing changes.  A manifest without a schema over
        existing data takes the table's merged schema and footer maxima
        first (Spark jobs).  Returns the live directory that the
        committed manifest replaced."""

        @functools.cache
        def table() -> tuple[T.StructType, tuple[int, int]]:
            return self.load(spark).schema, self.max_seqs(spark)

        live: dict[str, str] = {}

        def mutate(meta: dict) -> dict | None:
            live["v"] = self._live_dir(meta)
            pinned = cur = self.pinned_schema(meta)
            r, p = seqs
            if pinned is None and self._has_rows(live["v"]):
                cur, (tr, tp) = table()
                r, p = max(r, tr), max(p, tp)
            folded = _fold_schema(cur, schema)
            old_r = int(meta.get("next_run_seq", 0))
            old_p = int(meta.get("next_pset_seq", 0))
            next_r, next_p = max(old_r, r + 1), max(old_p, p + 1)
            if (folded == pinned and (next_r, next_p) == (old_r, old_p)
                    and data_dir is None):
                return None
            meta["schema"] = self._put_schema(folded)
            meta["next_run_seq"], meta["next_pset_seq"] = next_r, next_p
            if data_dir is not None:
                meta[DATA_DIR_KEY] = data_dir
            meta.setdefault("engine", "psweep_spark")
            meta.setdefault("created_utc", time.time())
            return meta

        self.update_meta(mutate)
        return live["v"]

    # -- concurrency ---------------------------------------------------------

    @contextmanager
    def writer_lock(
        self,
        timeout: float = 120.0,
        poll: float = 0.05,
        stale_after: float = 3600.0,
    ):
        """Advisory exclusive writer lock, taken by conditional put of
        a lock record (``MetaStore.put_if_absent``), so it works on any
        store.

        Guards the commits of :meth:`append` and the rewrites of
        :meth:`append` and :meth:`compact`, NEVER the user-function
        compute: concurrent ``run()`` calls overlap their expensive work
        and serialize only for milliseconds of bookkeeping.  Seq
        uniqueness and schema type checks do not depend on it (both are
        manifest CAS); it keeps a run's directory moves out of a
        directory that a rewrite is replacing.

        A record older than ``stale_after`` seconds (per the timestamp
        in its payload) is presumed abandoned and stolen.  Steal and
        release go through ``MetaStore.delete_if_match``, so a caller
        only removes the exact record it observed or wrote: a stealer
        never deletes a fresh lock, and a holder stolen from never
        releases its successor's."""
        deadline = time.monotonic() + timeout
        while True:
            payload = f"{os.getpid()} {time.time()} {uuid.uuid4().hex}".encode()
            if self.meta_store.put_if_absent(LOCK_BASENAME, payload):
                break
            raw = self.meta_store.get(LOCK_BASENAME)
            if raw is not None:
                try:
                    held_since = float(raw.split()[1])
                except (IndexError, ValueError):
                    held_since = 0.0
                if time.time() - held_since > stale_after:
                    # Conditional on the observed stale payload: if a
                    # rival stole first and a fresh lock now sits at
                    # the key, this is a no-op and we loop to contend.
                    self.meta_store.delete_if_match(LOCK_BASENAME, raw)
                    continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"writer lock on {self.path} held for >{timeout}s; "
                    "remove it manually if the holder crashed"
                )
            time.sleep(poll)
        try:
            yield
        finally:
            # Release only OUR record: if we held past stale_after and
            # were stolen from, the key now holds someone else's lock.
            self.meta_store.delete_if_match(LOCK_BASENAME, payload)

    def reserve_seqs(
        self, spark: SparkSession, n_pset_slots: int, peek: bool = False
    ) -> tuple[int, int]:
        """Atomically claim the next ``_run_seq`` and an exclusive
        ``_pset_seq`` range ``[base+1, base+n_pset_slots]``.

        Returns ``(run_seq, pset_base)``.  The watermarks live in the
        manifest and move by lock-free CAS (:meth:`update_meta`), so a
        reservation is visible to other writers BEFORE the run's data
        lands and two racing ``run()`` calls never stamp the same seqs.
        Watermarks only move forward: a run that reserves and crashes
        leaves a gap, never a collision.  Rows that land without a
        reservation move the watermarks past themselves at commit, so
        the manifest alone answers, with no Spark job; only a manifest
        without a pinned schema also takes :meth:`max_seqs`.

        ``peek=True`` (used by ``save=False`` runs, which never append)
        computes the same values without committing anything."""
        def _compute(meta: dict) -> tuple[int, int]:
            mr, mp = (-1, -1) if "schema" in meta else self.max_seqs(spark)
            run_seq = max(mr + 1, int(meta.get("next_run_seq", 0)))
            pset_base = max(mp, int(meta.get("next_pset_seq", 0)) - 1)
            return run_seq, pset_base

        if peek:
            return _compute(self.read_meta())

        reserved: dict[str, tuple[int, int]] = {}

        def mutate(meta: dict) -> dict:
            run_seq, pset_base = _compute(meta)
            reserved["v"] = (run_seq, pset_base)
            meta["next_run_seq"] = run_seq + 1
            meta["next_pset_seq"] = pset_base + int(n_pset_slots) + 1
            meta.setdefault("engine", "psweep_spark")
            meta.setdefault("created_utc", time.time())
            return meta

        self.update_meta(mutate)
        return reserved["v"]

    # -- read ----------------------------------------------------------------

    def load(self, spark: SparkSession) -> DataFrame | None:
        """Full table, or ``None`` while no run has landed.

        The live directory and the pinned schema come from ONE manifest
        version, so a reader racing a rewrite gets the old table or the
        new one, never a missing or mixed one (a replaced directory
        stays until :meth:`vacuum`).  Columns absent from older files
        read as NULL.  Without a pinned schema it falls back to a
        ``mergeSchema`` read (one footer job).

        Spark lists the directory here; past 32 ``_run_id`` partitions
        (``spark.sql.sources.parallelPartitionDiscovery.threshold``)
        that listing is one job (pyspark 4.1.2: 0 jobs at ≤ 32, 1 past
        that).  An explicit file list goes parallel past the same
        threshold (30 paths: 0 jobs, 33: 1), and one relation over
        several ``_run_id``-partitioned roots is refused ("Conflicting
        directory structures detected", with or without ``basePath``)."""
        meta = self.read_meta()
        live = self._live_dir(meta)
        if not self._has_rows(live):
            return None
        schema = self.pinned_schema(meta)
        if schema is None:
            return spark.read.option("mergeSchema", "true").parquet(live)
        return spark.read.schema(schema).parquet(live)

    def max_seqs(self, spark: SparkSession) -> tuple[int, int]:
        """(max _run_seq, max _pset_seq) over the stored rows, or
        (-1, -1) on an empty DB.

        One aggregate job over the table.  Only the fallback for a
        manifest without a pinned schema uses it; :meth:`reserve_seqs`
        otherwise reads the manifest's watermarks."""
        df = self.load(spark)
        if df is None:
            return (-1, -1)
        row = df.select(
            F.max("_run_seq").alias("r"), F.max("_pset_seq").alias("p")
        ).first()
        return (
            int(row["r"]) if row["r"] is not None else -1,
            int(row["p"]) if row["p"] is not None else -1,
        )

    def stored_hashes(self, spark: SparkSession, hashes: list[str]) -> set[str]:
        """Which of ``hashes`` (``_pset_hash`` values) the table holds:
        the skip-dups probe of an eager ``run()``.

        The live directory comes from one manifest version, as in
        :meth:`load`.  pyarrow reads the ``_pset_hash`` column of its
        ``_run_id=*/part-*.parquet`` files on the driver, keeping the
        values in ``hashes`` (names starting with ``.`` or ``_`` are
        skipped, as Spark skips them): no Spark job.  Past
        :data:`PROBE_MAX_BYTES` of files, Spark probes instead: a
        left-semi join of the table's ``_pset_hash`` column against the
        broadcast ``hashes``, so the table streams, with no shuffle and
        no ``distinct()`` (two jobs: the broadcast, then the scan)."""
        live = glob.escape(self._live_dir(self.read_meta()))
        files = glob.glob(os.path.join(live, "_run_id=*", "part-*.parquet"))
        if not files or not hashes:
            return set()
        if sum(os.path.getsize(f) for f in files) > PROBE_MAX_BYTES:
            grid = spark.createDataFrame(
                pa.table({"_pset_hash": pa.array(hashes, pa.string())})
            )
            return {
                r[0]
                for r in self.load(spark).select("_pset_hash")
                .join(F.broadcast(grid), "_pset_hash", "left_semi")
                .collect()
            }
        found = ds.dataset(files, format="parquet").to_table(
            columns=["_pset_hash"], filter=ds.field("_pset_hash").isin(hashes)
        )
        return set(found["_pset_hash"].to_pylist())

    def distinct_hashes(self, spark: SparkSession) -> DataFrame | None:
        """Distinct ``_pset_hash`` relation for skip-dups anti-joins."""
        df = self.load(spark)
        if df is None:
            return None
        return df.select("_pset_hash").distinct()

    # -- write ---------------------------------------------------------------

    def append(
        self,
        new: DataFrame | pa.Table,
        schema: T.StructType | None = None,
        spark: SparkSession | None = None,
    ) -> None:
        """Append one run's rows; widen + rehash history if pset cols grew.

        ``new`` is a DataFrame, or the Arrow table of a run whose rows
        are already on the driver, given with its Spark ``schema`` and
        the ``spark`` session.

        **Stage-then-commit** (concurrency-safe): the new rows are
        first written to a private staging directory with NO lock held.
        Spark writes a DataFrame (:func:`_write_spark`): the expensive
        part, executing the run's ``mapInPandas`` plan, runs unlocked,
        so concurrent runs overlap their compute, and the write observes
        the rows' max ``_run_seq``/``_pset_seq``.  An Arrow table is
        written on the driver by pyarrow as the one file Spark would
        write (:func:`_write_arrow`): no Spark job, and its seqs are read
        from the table.  Either way rows that reserved no seqs still
        move the watermarks.  Commit then happens under
        :meth:`writer_lock`: the run's schema is checked against and
        folded into the pinned schema (a type change raises
        ``TypeError`` and nothing lands) in one manifest CAS, then each
        staged ``_run_id=…`` directory moves into the live directory by
        rename (run ids are UUIDs and part filenames carry a UUID, so
        nothing collides; no two Spark jobs share a ``_temporary``
        committer directory).  A pset-schema-widening append is a
        :meth:`_rewrite` instead, under the same lock: history and the
        staged rows are rehashed into a fresh directory that one
        manifest CAS makes live."""
        staging = os.path.join(
            self.path, f"{DATA_DIRNAME}.staging-{uuid.uuid4().hex[:12]}"
        )
        try:
            if isinstance(new, DataFrame):
                spark, schema = new.sparkSession, new.schema
                seqs = _write_spark(new, staging)
            else:
                seqs = _write_arrow(spark, new, schema, staging)
            with self.writer_lock():
                # the pinned schema answers the widening check; the table
                # is read only to widen it, or when no schema is pinned
                old = self.pinned_schema()
                new_psets = set(filter_cols(schema.names))
                old_df = None
                if old is None or new_psets - set(old.names):
                    old_df = self.load(spark)
                if old_df is not None and new_psets - set(old_df.columns):
                    # pset schema widened: NULL-extend history and
                    # recompute every _pset_hash over the union pset col
                    # set (reference psweep.py:1432-1437) — one-time
                    # table rewrite.  Re-read the STAGED files (schema
                    # pinned — no partition-value type re-inference)
                    # instead of re-executing the run plan.
                    target = _fold_schema(old_df.schema, schema)
                    staged_df = spark.read.schema(schema).parquet(staging)
                    all_df = _conform(old_df, target).unionByName(
                        _conform(staged_df, target)
                    )
                    all_df = all_df.withColumn(
                        "_pset_hash", df_hash_expr(all_df.schema)
                    )
                    self._rewrite(all_df, seqs)
                else:
                    self._commit_schema(spark, schema, seqs)
                    self._commit_staging(staging)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _commit_staging(self, staging: str) -> None:
        """Move staged partition directories into the live directory
        (renames).  The caller holds :meth:`writer_lock`."""
        live = self.data_path
        os.makedirs(live, exist_ok=True)
        for name in os.listdir(staging):
            if not name.startswith("_run_id="):
                continue  # _SUCCESS marker etc.
            src = os.path.join(staging, name)
            dst = os.path.join(live, name)
            if not os.path.exists(dst):
                os.rename(src, dst)
            else:
                for f in os.listdir(src):
                    os.rename(os.path.join(src, f), os.path.join(dst, f))

    def _rewrite(self, df: DataFrame, seqs: tuple[int, int] = (-1, -1)) -> None:
        """Replace the table with ``df``: write it to a fresh
        ``data.<uuid>`` directory, then make that directory live in the
        manifest CAS that pins its schema (:meth:`_commit_schema`).  The
        replaced directory is retired, not deleted — a reader that
        resolved it just before the CAS may still be listing it — so
        its mtime is touched and :meth:`vacuum` removes it once aged.
        The caller holds :meth:`writer_lock`."""
        name = f"{DATA_DIRNAME}.{uuid.uuid4().hex}"
        (
            df.write.mode("overwrite")
            .option("compression", "snappy")
            .partitionBy("_run_id")
            .parquet(os.path.join(self.path, name))
        )
        os.utime(self._commit_schema(df.sparkSession, df.schema, seqs, name))

    # -- snapshots (reference `backup`, psweep.py:1417-1427) ------------------

    def backup(self, tag: str) -> str:
        """Snapshot the table into the sibling DB ``<path>.bak_<tag>``
        (:meth:`_copy_to`: the live directory and the current manifest,
        so the snapshot holds the table once).

        Local-FS stand-in for table versioning (Delta time travel /
        Iceberg snapshots are the cluster-scale mechanism — no copy).
        """
        dst = f"{self.path}.bak_{tag}"
        self._copy_to(dst)
        return dst

    def clone_to(self, dst_path: str) -> "Database":
        """Copy DB to a new location (reference `simulate` shadow DB)."""
        dst = Database(dst_path)
        if os.path.isdir(dst.path):
            shutil.rmtree(dst.path)
        if os.path.isdir(self.path):
            self._copy_to(dst.path)
        return dst

    def _copy_to(self, dst_path: str) -> None:
        """Make ``dst_path`` a DB holding what the current manifest
        names: the live directory, copied at its path relative to the
        DB root, then that manifest and the schema it pins, committed
        through the copy's own store.  Directories retired by a
        rewrite, ``data.staging-*`` debris, the writer lock and older
        manifest versions (which name directories not copied) stay
        behind."""
        meta, dst = self.read_meta(), Database(dst_path)
        live = self._live_dir(meta)
        os.makedirs(dst.path)
        if os.path.isdir(live):
            shutil.copytree(
                live, os.path.join(dst.path, os.path.relpath(live, self.path))
            )
        if "schema" in meta:
            dst.meta_store.put_if_absent(
                meta["schema"], self.meta_store.get(meta["schema"])
            )
        if meta:
            dst.update_meta(lambda _: meta)

    # -- maintenance ---------------------------------------------------------

    def vacuum(self, max_age_s: float = 24 * 3600.0) -> list[str]:
        """Remove every ``data`` or ``data.*`` directory that the
        current manifest does not name and that is older than
        ``max_age_s``: directories retired by a rewrite (aged from their
        retirement), ``data.staging-*`` left by appends that crashed
        between the staged write and the commit, and rewrites that
        crashed before their CAS.  The live directory is never removed;
        a young one is spared because a writer may still be filling it
        or a reader still listing it.  Returns the removed paths."""
        removed: list[str] = []
        if not os.path.isdir(self.path):
            return removed
        live = self.data_path
        now = time.time()
        for name in os.listdir(self.path):
            p = os.path.join(self.path, name)
            if p == live or not (
                name == DATA_DIRNAME or name.startswith(DATA_DIRNAME + ".")
            ):
                continue
            try:
                if os.path.isdir(p) and now - os.path.getmtime(p) >= max_age_s:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)
            except OSError:
                continue
        return removed

    def rehash_from_reference(
        self,
        spark: SparkSession,
        pk_path: str,
        verify_joblib_hashes: bool = True,
    ) -> DataFrame:
        """One-shot import of a reference psweep ``database.pk``
        (pickled pandas DataFrame, psweep.py:36,1334-1336) into this
        Spark database, recomputing every ``_pset_hash`` canonically.

        The reference stamps joblib-SHA1 hashes; this engine stamps
        canonical sha256 — without rehashing, ``skip_dups`` against a
        migrated DB would recompute the entire history.  Each imported
        row's stored hash is first cross-checked against the
        bit-compatible reimplementation (``pset_hash(...,
        method="joblib-sha1")``), proving the pset columns survived the
        round-trip intact, then replaced with the canonical hash.

        Driver-side by design: a reference DB is a single-node pickle,
        bounded by the reference's own in-memory model — never 100 TB.
        Returns the imported rows as stamped."""
        import math

        import pandas as pd

        from .hashing import col_kind, pset_hash

        pdf = pd.read_pickle(pk_path)
        pset_cols = [c for c in pdf.columns if col_kind(c) == "pset"]

        def _clean(v):
            # the reference's dtype=object wash leaves numpy scalars
            # and pd.NA behind; normalize to plain python for both the
            # compat hash (type-sensitive!) and Spark inference.  The
            # reference's own examples (repeat_failed.py:58-61) insist
            # users store native types, so native is the round-trip.
            if v is None or v is pd.NA:
                return None
            if isinstance(v, float) and math.isnan(v):
                return v
            if hasattr(v, "item") and type(v).__module__ == "numpy":
                return v.item()
            return v

        rows = []
        mismatches = 0
        for rec in pdf.to_dict(orient="records"):
            rec = {k: _clean(v) for k, v in rec.items()}
            pset = {c: rec[c] for c in pset_cols}
            if verify_joblib_hashes and rec.get("_pset_hash") is not None:
                compat = pset_hash(pset, method="joblib-sha1")
                if compat != rec["_pset_hash"]:
                    mismatches += 1
            rec["_pset_hash"] = pset_hash(pset)
            rows.append(rec)
        if mismatches:
            raise ValueError(
                f"{mismatches}/{len(rows)} rows of {pk_path} have a stored "
                "_pset_hash that does not match the joblib-sha1 "
                "recomputation — pset values were altered after hashing "
                "(or hashed with non-native types); re-run with "
                "verify_joblib_hashes=False to import anyway"
            )
        imported = spark.createDataFrame(rows)
        self.append(imported)
        return imported

    def compact(self, spark: SparkSession, target_file_mb: int = 128) -> int:
        """Small-file compaction: rewrite the table so each ``_run_id``
        partition holds ~``target_file_mb``-sized files (every ``run()``
        appends its own small files).  The rows are repartitioned to
        ``ceil(bytes / target)`` files and go through :meth:`_rewrite`
        under :meth:`writer_lock`, so no concurrent append is left
        behind in the replaced directory.  That directory is retired,
        not deleted: the disk space it holds comes back at
        :meth:`vacuum` once it is older than ``max_age_s``, not right
        away.  Returns the file count after compaction."""
        with self.writer_lock():
            df = self.load(spark)
            if df is None:
                return 0
            total_bytes = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(self.data_path)
                for f in files
            )
            n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
            self._rewrite(df.repartition(int(n_files)))
        return sum(
            1
            for root, _, files in os.walk(self.data_path)
            for f in files
            if f.endswith(".parquet")
        )
