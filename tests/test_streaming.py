"""Structured Streaming surface: streaming results must agree with their
batch twins on the same events data (availableNow drains the file source
completely, so no late-data divergence)."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from psweep_spark import streaming as st
from psweep_spark.database import Database

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
EVENTS = os.path.join(SF_DIR, "events.parquet")


@pytest.fixture(scope="module")
def batch_events(spark):
    from psweep_spark.sources import load_events

    return load_events(spark, SF_DIR)


def test_tumbling_matches_batch(spark, batch_events):
    stream = st.events_stream(spark, EVENTS)
    got = st.run_available_now(
        st.tumbling_counts(stream), f"t_{uuid.uuid4().hex[:8]}"
    )
    exp = (
        batch_events.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events",
                "total_value")
    )
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_stream_starts_on_empty_dir(spark, tmp_path):
    """ADVICE r01: a stream over an initially-empty landing dir must
    start (static EVENTS_SCHEMA fallback), drain zero rows, and pick up
    files on a later trigger."""
    import shutil

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    stream = st.events_stream(spark, landing)
    assert stream.isStreaming
    got = st.run_available_now(
        st.tumbling_counts(stream), f"empty_{uuid.uuid4().hex[:8]}"
    )
    assert got.count() == 0
    # drop real data in; a fresh availableNow drain sees it
    if os.path.isdir(EVENTS):
        for f in os.listdir(EVENTS):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(EVENTS, f), landing)
    else:
        shutil.copy(EVENTS, os.path.join(landing, "events.parquet"))
    stream2 = st.events_stream(spark, landing)
    got2 = st.run_available_now(
        st.tumbling_counts(stream2), f"late_{uuid.uuid4().hex[:8]}"
    )
    assert got2.count() > 0


def test_session_counts_match_batch_sessionization(spark, batch_events):
    stream = st.events_stream(spark, EVENTS)
    got = st.run_available_now(
        st.session_counts(stream, gap="10 minutes"),
        f"s_{uuid.uuid4().hex[:8]}",
    )
    # batch twin: gap-based sessions via lag + running sum (catalog query)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 600),
        1,
    ).otherwise(0)
    batch_sessions = (
        batch_events.withColumn("is_new", is_new)
        .withColumn(
            "sid",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n_events"))
    )
    # same number of sessions and same multiset of (user, session size)
    assert got.count() == batch_sessions.count()
    g = got.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_ev")
    )
    b = batch_sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_ev")
    )
    assert g.exceptAll(b).count() == 0


def test_sliding_counts_run(spark):
    stream = st.events_stream(spark, EVENTS)
    got = st.run_available_now(
        st.sliding_counts(stream), f"w_{uuid.uuid4().hex[:8]}"
    )
    # every tumbling event lands in exactly 2 sliding windows (10m/5m)
    total_batch = spark.read.parquet(EVENTS).count()
    assert got.agg(F.sum("n_events")).first()[0] == 2 * total_batch


def test_running_user_stats_stateful(spark, batch_events):
    stream = st.events_stream(spark, EVENTS)
    got = st.run_available_now(
        st.running_user_stats(stream),
        f"u_{uuid.uuid4().hex[:8]}",
        output_mode="update",
    )
    # update mode with availableNow: last row per user is the final state
    final = got.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    exp = batch_events.groupBy("user_id").agg(F.count("*").alias("n_events"))
    assert final.exceptAll(exp).count() == 0


def test_stream_to_database(spark, tmp_path):
    stream = st.events_stream(spark, EVENTS)
    res = st.tumbling_counts(stream)
    q = st.stream_to_database(
        res, str(tmp_path / "db"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    df = Database(str(tmp_path / "db")).load(spark)
    assert df is not None
    assert "_stream_batch_id" in df.columns
    assert df.count() > 0


def test_rocksdb_state_store_matches_default(spark, batch_events):
    """The RocksDB state-store provider (the 100 TB deployment choice:
    state spills off-heap/on-disk instead of living in executor heap)
    drains to the same result as the default provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = st.events_stream(spark, EVENTS)
        got = st.run_available_now(
            st.tumbling_counts(stream), f"rdb_{uuid.uuid4().hex[:8]}"
        )
        exp = (
            batch_events.groupBy(
                F.window("ts", "5 minutes").alias("w"), "event_type"
            )
            .agg(F.count("*").alias("n_events"))
            .select("w.start", "event_type", "n_events")
        )
        assert got.count() == exp.count()
        assert (
            got.groupBy().sum("n_events").first()[0]
            == exp.groupBy().sum("n_events").first()[0]
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_checkpoint_restart_exactly_once(spark, batch_events, tmp_path):
    """Incremental ingestion across RESTARTS: drain 1 processes the
    first file; after a new file lands, drain 2 restarts from the SAME
    checkpoint and must process ONLY the new file — the Database ends
    with exactly one row per event, no replays, no gaps."""
    landing = tmp_path / "landing"
    landing.mkdir()
    half = batch_events.select("event_id", "ts", "user_id", "event_type",
                               "value").withColumn(
        "ts", F.unix_micros("ts") * 1000
    )
    n_total = half.count()
    a = half.filter(F.col("event_id") % 2 == 0)
    b = half.filter(F.col("event_id") % 2 == 1)
    a.toPandas().to_parquet(str(landing / "a.parquet"), index=False)

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(landing))
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
        q = st.stream_to_database(
            stream.select("event_id", "event_type", "user_id"),
            str(tmp_path / "db"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    drain()
    n1 = Database(str(tmp_path / "db")).load(spark).count()
    assert n1 == a.count()

    b.toPandas().to_parquet(str(landing / "b.parquet"), index=False)
    drain()
    db = Database(str(tmp_path / "db")).load(spark)
    assert db.count() == n_total
    assert db.select("event_id").distinct().count() == n_total


def test_plain_streaming_drain_job_budget(spark):
    """Driver-job budget per availableNow drain for the plain streaming
    queries (VERDICT r3: the tumbling drain regressed +51% in the
    driver bench with no code change on its path — this contract pins
    the fixed overhead so a real regression is distinguishable from
    bench noise).  A drain's cost floor is its scheduled driver jobs
    (micro-batch planning + state commit); measured today: tumbling 2,
    sessions 2, stateful 3."""
    from psweep_spark import plans
    from psweep_spark.queries_catalog import QUERIES

    budgets = {
        "stream_tumbling_counts": 2,
        "stream_session_windows": 2,
        "stream_stateful_user_totals": 3,
    }
    for name, budget in budgets.items():
        rows, jobs = plans.jobs_run(
            spark, lambda: QUERIES[name](spark, SF_DIR).collect()
        )
        assert len(rows) > 0, name
        assert jobs <= budget, (name, jobs)


def test_session_window_exact_gap_boundary(spark):
    """Pin Spark's session_window boundary semantics (r5 sf0.1 oracle
    gate): an event at EXACTLY prev_ts + gap extends the session; one
    second past it starts a new one.  The catalog oracle's new-session
    predicate must therefore be `gap > 600`, never `>=`."""
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
         (2, "2024-01-01 00:00:00"), (2, "2024-01-01 00:10:01")],
        "user_id int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = (
        df.groupBy("user_id", F.session_window("ts", "10 minutes"))
        .count()
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    got = {r["user_id"]: r["n_sessions"] for r in out.collect()}
    assert got == {1: 1, 2: 2}


def test_state_partitions_for_volume(tmp_path):
    """The drain state-partition dial derives from input volume
    (VERDICT r11 #8): bounded demo inputs hit the floor (bench shape
    unchanged), large inputs scale the count with the data, and an
    unreadable path falls back to the floor."""
    f = tmp_path / "events.parquet"
    f.write_bytes(b"x" * 1024)
    # 1 KiB input -> floor
    assert st.state_partitions_for_volume(str(f)) == 2
    # synthetic large volume: 10 "bytes" per partition -> ceil(1024/10)
    assert st.state_partitions_for_volume(
        str(f), bytes_per_partition=10
    ) == 103
    # directory input sums recursively
    d = tmp_path / "feed"
    d.mkdir()
    (d / "a").write_bytes(b"x" * 30)
    (d / "b").write_bytes(b"x" * 30)
    assert st.state_partitions_for_volume(
        str(d), bytes_per_partition=10
    ) == 6
    # missing path -> floor (bounded-drain default)
    assert st.state_partitions_for_volume(str(tmp_path / "nope")) == 2
    # the real driver testdata is bounded: the vpjoin drain keeps its
    # measured r11 shape (2 state partitions) at every test SF
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/events.parquet"
        if os.path.exists(p):
            assert st.state_partitions_for_volume(p) == 2


class _StubQuery:
    """A StreamingQuery stand-in whose drain never finishes in time."""

    def __init__(self, finishes: bool):
        self.finishes = finishes
        self.waited = None
        self.stopped = False

    def awaitTermination(self, timeout):  # noqa: N802 - pyspark's name
        self.waited = timeout
        return self.finishes

    def stop(self):
        self.stopped = True


def test_await_drain_stops_and_raises_on_timeout():
    """A drain that outlives its timeout is stopped and fails loudly
    instead of handing back a partial result; one that finishes in
    time is left alone."""
    q = _StubQuery(finishes=False)
    with pytest.raises(TimeoutError, match="near_dedup.*300s"):
        st.await_drain(q, 300, "near_dedup")
    assert q.waited == 300 and q.stopped

    q = _StubQuery(finishes=True)
    st.await_drain(q, 5, "ok")
    assert q.waited == 5 and not q.stopped


def test_near_dedup_drain_timeout_raises(spark, monkeypatch):
    """``stream_near_dedup_docs`` goes through the checked drain: when
    the drain reports a timeout the query raises instead of returning
    the pairs gathered so far."""
    from pyspark.sql.streaming.query import StreamingQuery

    from psweep_spark.queries_pipeline import stream_near_dedup_docs

    real = StreamingQuery.awaitTermination

    def timed_out(self, timeout=None):
        real(self, timeout)  # let the drain finish, then report a timeout
        return False

    monkeypatch.setattr(StreamingQuery, "awaitTermination", timed_out)
    with pytest.raises(TimeoutError, match="stream_near_dedup_docs"):
        stream_near_dedup_docs(spark, SF_DIR)
