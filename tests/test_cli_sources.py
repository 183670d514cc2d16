"""CLI sinks (db2json/db2table/check-calc-dir) and the format-generic
source surface."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from psweep_spark import plist, run
from psweep_spark.sources import (
    file_read,
    file_write,
    json_read,
    json_write,
    pickle_read,
    pickle_write,
    read_table,
    write_table,
)


def _mk_db(spark, tmp_path):
    calc = str(tmp_path / "calc")
    run(spark, lambda p: {"r_": p["a"] * 2.0}, plist("a", [1, 2, 3]), calc_dir=calc)
    return calc


def _cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "psweep_spark.cli", *args],
        capture_output=True,
        text=True,
        timeout=300,
        env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin",
             "HOME": "/root", "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", ""),
             "SPARK_GRAFT_CPUS": "4"},
    )


def test_cli_db2json(spark, tmp_path):
    calc = _mk_db(spark, tmp_path)
    cp = _cli("db2json", f"{calc}/database")
    assert cp.returncode == 0, cp.stderr[-2000:]
    rows = [json.loads(ln) for ln in cp.stdout.splitlines() if ln.startswith("{")]
    assert len(rows) == 3
    assert {r["a"] for r in rows} == {1, 2, 3}
    assert all(r["r_"] == r["a"] * 2.0 for r in rows)


def test_cli_db2json_orients(spark, tmp_path):
    """Reference psweep-db2json -o parity (bin/psweep-db2json:13-16):
    non-records orients emit ONE pandas-layout JSON document."""
    calc = _mk_db(spark, tmp_path)
    cp = _cli("db2json", "-o", "columns", f"{calc}/database")
    assert cp.returncode == 0, cp.stderr[-2000:]
    doc = json.loads(cp.stdout)
    assert set(doc["a"].values()) == {1, 2, 3}
    assert set(doc["r_"].values()) == {2.0, 4.0, 6.0}
    cp2 = _cli("db2json", "-o", "split", f"{calc}/database")
    assert cp2.returncode == 0, cp2.stderr[-2000:]
    doc2 = json.loads(cp2.stdout)
    assert set(doc2) == {"columns", "index", "data"}
    a_idx = doc2["columns"].index("a")
    assert {row[a_idx] for row in doc2["data"]} == {1, 2, 3}


def test_cli_db2table_and_check(spark, tmp_path):
    calc = _mk_db(spark, tmp_path)
    cp = _cli("db2table", f"{calc}/database")
    assert cp.returncode == 0, cp.stderr[-2000:]
    assert "r_" in cp.stdout and "_pset_id" not in cp.stdout
    cp2 = _cli("check-calc-dir", calc)
    assert cp2.returncode == 0, cp2.stderr[-2000:]
    out = json.loads(cp2.stdout)
    # run() didn't create per-pset dirs (no file workloads) → db_not_disk=3
    assert len(out["db_not_disk"]) == 3
    assert out["disk_not_db"] == []


def test_sync_roundtrip(spark, tmp_path):
    """cli sync (SURVEY §2 #39): a study tree copies to a second storage
    location and the database loads from there identically."""
    from psweep_spark.cli import sync_paths
    from psweep_spark.database import Database

    calc = _mk_db(spark, tmp_path)
    dst = str(tmp_path / "mirror")
    n, total = sync_paths(calc, dst, dry_run=True)
    assert n > 0 and total > 0
    n2, total2 = sync_paths(calc, dst)
    assert (n2, total2) == (n, total)
    # idempotent: a re-sync converges (no dst/<basename> nesting)
    n3, total3 = sync_paths(calc, dst)
    assert (n3, total3) == (n, total)
    assert not os.path.isdir(os.path.join(dst, os.path.basename(calc)))
    back = Database(os.path.join(dst, "database")).load(spark)
    assert back is not None
    assert back.count() == 3
    assert {r["a"] for r in back.collect()} == {1, 2, 3}
    # --exclude globs (reference psweep-pull rule files): the meta file
    # and everything under database/ can be filtered out, at any depth
    dst2 = str(tmp_path / "mirror2")
    n4, _ = sync_paths(calc, dst2, exclude=["database/*", "*.json"])
    assert n4 == 0 or not os.path.isdir(os.path.join(dst2, "database"))
    n5, _ = sync_paths(calc, dst2, exclude=["*.parquet", "_SUCCESS"])
    copied = [
        # Hadoop's local FS mirrors each file with a hidden .crc twin
        f for root, _, fs in os.walk(dst2) for f in fs
        if not f.startswith(".")
    ]
    assert n5 == len(copied)
    assert not any(f.endswith(".parquet") or f == "_SUCCESS" for f in copied)


def test_blob_landing_parameterized_dir(spark, tmp_path):
    """VERDICT r01 #8: blob ingestion takes an explicit landing path —
    executor-written blobs round-trip byte-exact through binaryFile."""
    from pyspark.sql import functions as F

    from psweep_spark.operators.multimodal import (
        read_blob_landing,
        write_blob_landing,
    )

    blob_dir = str(tmp_path / "landing")
    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("text"),
    )
    assert write_blob_landing(docs, blob_dir) == 20
    back = read_blob_landing(spark, blob_dir)
    rows = {r["doc_id"]: r for r in back.collect()}
    assert len(rows) == 20
    assert bytes(rows[7]["content"]) == b"payload-7"
    assert rows[7]["n_bytes"] == len(b"payload-7")


def test_read_write_table_roundtrip(spark, tmp_path):
    df = spark.range(10).withColumnRenamed("id", "x")
    for fmt in ("parquet", "json", "csv"):
        p = str(tmp_path / f"t_{fmt}")
        write_table(df, p, fmt)
        back = read_table(spark, p, fmt)
        assert back.count() == 10
        assert {r["x"] for r in back.collect()} == set(range(10))


def test_file_helpers(tmp_path):
    p = tmp_path / "deep" / "nested" / "f.txt"
    file_write(str(p), "hello")
    assert file_read(str(p)) == "hello"
    pickle_write(str(tmp_path / "d" / "o.pk"), {"a": [1, 2]})
    assert pickle_read(str(tmp_path / "d" / "o.pk")) == {"a": [1, 2]}
    json_write(str(tmp_path / "j" / "o.json"), [1, "x"])
    assert json_read(str(tmp_path / "j" / "o.json")) == [1, "x"]


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key must equi-join with ZERO
    shuffle exchanges — co-location replaces the shuffle (the pay-once
    ingest-time shuffle contract for repeated fact joins at scale)."""
    from pyspark.sql import functions as F

    from psweep_spark import plans
    from psweep_spark.sources import read_bucketed, write_bucketed

    left = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("b")
    )
    try:
        write_bucketed(left, "psq_buck_l", "k", num_buckets=8, sort_cols="k")
        write_bucketed(right, "psq_buck_r", "k", num_buckets=8, sort_cols="k")
        # disable broadcast so the join would otherwise shuffle
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = read_bucketed(spark, "psq_buck_l").join(
                read_bucketed(spark, "psq_buck_r"), "k"
            )
            assert j.count() == 500
            assert plans.count_exchanges(j) == 0, plans.formatted_plan(j)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS psq_buck_l")
        spark.sql("DROP TABLE IF EXISTS psq_buck_r")



def test_database_compact_reduces_files(spark, tmp_path):
    """Many tiny appends → compact() → few files, identical data."""
    import glob

    from psweep_spark import plist, run
    from psweep_spark.database import Database

    calc = str(tmp_path / "calc")
    for i in range(5):
        run(
            spark,
            lambda p: {"y_": p["a"] * 2},
            plist("a", [10 * i + j for j in range(4)]),
            calc_dir=calc,
        )
    db = Database(calc + "/database")
    before_rows = db.load(spark).count()
    # fragment the layout: rewrite with excess parallelism → many tiny
    # files per _run_id partition (what thousands of appends produce)
    db._rewrite(db.load(spark).repartition(10))
    before_files = len(glob.glob(db.data_path + "/**/*.parquet",
                                 recursive=True))
    assert before_files > 5
    after_files = db.compact(spark, target_file_mb=128)
    assert db.load(spark).count() == before_rows == 20
    assert after_files < before_files
    # hashes survive the rewrite
    assert db.load(spark).select("_pset_hash").distinct().count() == 20


def test_database_vacuum_debris_only(spark, tmp_path):
    """vacuum() removes aged transaction debris (crashed-append
    staging dirs, interrupted-rewrite .old) and NEVER live data; young
    debris survives the age cutoff."""
    import os
    import time as _time

    from psweep_spark import plist, run
    from psweep_spark.database import Database

    calc = str(tmp_path / "calc")
    run(
        spark,
        lambda p: {"y_": p["a"] * 2},
        plist("a", [1, 2, 3]),
        calc_dir=calc,
    )
    db = Database(calc + "/database")
    data = db.data_path
    # simulate a writer that died between stage and commit, an
    # interrupted rewrite swap, and a FRESH in-flight staging dir
    old_staging = data + ".staging-deadbeef0000"
    old_swap = data + ".old"
    young_staging = data + ".staging-cafecafe1111"
    for p in (old_staging, old_swap, young_staging):
        os.makedirs(p)
    aged = _time.time() - 48 * 3600
    os.utime(old_staging, (aged, aged))
    os.utime(old_swap, (aged, aged))

    removed = db.vacuum(max_age_s=24 * 3600)
    assert sorted(removed) == sorted([old_staging, old_swap])
    assert not os.path.exists(old_staging)
    assert not os.path.exists(old_swap)
    # the young writer's staging dir and the live table are untouched
    assert os.path.isdir(young_staging)
    assert db.load(spark).count() == 3


def test_zorder_value_no_global_sort(spark):
    """VERDICT r01 #7 plan contract: the z-value projection must be
    map-side — no window, no single-partition exchange, no global sort
    in the plan (the old ntile-over-global-Window serialized OPTIMIZE
    onto one task at scale)."""
    from pyspark.sql import functions as F

    from psweep_spark import plans
    from psweep_spark.sources.layout import zorder_value

    df = spark.range(10_000).select(
        F.col("id").alias("a"), (F.col("id") * 7 % 999).alias("b")
    )
    z = zorder_value(df, ["a", "b"])
    s = plans.formatted_plan(z)
    assert "Exchange SinglePartition" not in s, s
    assert "Window" not in s, s
    assert "Sort" not in s, s
    assert plans.count_exchanges(z) == 0, s


def test_zorder_layout_narrows_file_stats(spark, tmp_path):
    """Z-ordered files must be 'narrow' in BOTH clustered dimensions:
    the summed per-file min/max span is a small fraction of the naive
    (insertion-order) layout's span — that fraction IS the scan-pruning
    win at scale."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from psweep_spark.sources.layout import write_zordered

    n = 40_000
    # two independent uniform dims (hash-scrambled so insertion order
    # correlates with neither)
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("user_id"),
        F.pmod(F.xxhash64((F.col("id") + 7).cast("string")), F.lit(10_000))
        .alias("t"),
    )
    naive = str(tmp_path / "naive")
    zord = str(tmp_path / "zord")
    df.repartition(16).write.parquet(naive)
    write_zordered(df, zord, ["user_id", "t"], num_files=16)

    def span_frac(path):
        spans = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.read_metadata(f)
            for col in ("user_id", "t"):
                idx = md.schema.names.index(col)
                lo = min(md.row_group(r).column(idx).statistics.min
                         for r in range(md.num_row_groups))
                hi = max(md.row_group(r).column(idx).statistics.max
                         for r in range(md.num_row_groups))
                spans.append((hi - lo) / 10_000)
        return sum(spans) / len(spans)

    naive_span = span_frac(naive)
    z_span = span_frac(zord)
    # naive files span ~the full domain in both dims; z-ordered files
    # must average well under half the domain per dim
    assert naive_span > 0.9, naive_span
    assert z_span < 0.5 * naive_span, (z_span, naive_span)


def test_blob_ingest_memoized_provisioning(spark, tmp_path, monkeypatch):
    """VERDICT r4 #1: the ingest query's blob provisioning is memoized
    on corpus identity — a second invocation over the same corpus must
    not rewrite any blob (steady-state runs measure serving, not
    landing), and non-blob debris (markers) never reaches the reader."""
    import time

    from psweep_spark.queries_catalog import QUERIES

    multimodal_binaryfile_ingest = QUERIES["multimodal_binaryfile_ingest"]

    sf_dir = "/root/testdata/sf0.001"
    blob_root = str(tmp_path / "blobroot")
    monkeypatch.setenv("SPARK_GRAFT_BLOB_DIR", blob_root)

    n1 = multimodal_binaryfile_ingest(spark, sf_dir).count()
    assert n1 > 0
    sub = next(
        os.path.join(blob_root, d) for d in os.listdir(blob_root)
    )
    bins = sorted(f for f in os.listdir(sub) if f.endswith(".bin"))
    assert len(bins) == n1  # marker not ingested as a blob
    mtimes = {f: os.path.getmtime(os.path.join(sub, f)) for f in bins}

    time.sleep(0.05)
    n2 = multimodal_binaryfile_ingest(spark, sf_dir).count()
    assert n2 == n1
    assert {
        f: os.path.getmtime(os.path.join(sub, f)) for f in bins
    } == mtimes  # nothing rewritten
