"""Physical-plan contracts for the headline queries — the scale posture
as assertions: filters reach the parquet scan, projections prune
columns, small dims broadcast, shuffle counts stay minimal.  A change
that silently regresses any of these fails CI before it costs anything
on a cluster."""

from __future__ import annotations

import os

import pytest

from psweep_spark import plans
from psweep_spark.queries_catalog import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    # cached relations from other test modules would substitute
    # InMemoryTableScan for the parquet scans these tests inspect
    spark.catalog.clearCache()


def test_q1_pushdown_and_pruning(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    pushed = plans.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    (read,) = plans.read_schema_columns(df)
    # 7 of lineitem's 16 columns: group keys + aggregates + filter col
    assert set(read) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    # one exchange: the final group-by (partial agg is map-side)
    assert plans.count_exchanges(df) == 1


def test_q3_broadcasts_dims(spark):
    df = QUERIES["q3_shipping_priority"](spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 2
    # lineitem never shuffles before aggregation
    assert plans.count_exchanges(df) <= 2  # agg + top-k sort


def test_q5_star_join_no_fact_shuffle(spark):
    df = QUERIES["q5_local_supplier_volume"](spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 5
    assert plans.count_exchanges(df) == 1  # only the n_name agg


def test_pgrid_stays_broadcast_nested_loop(spark):
    from psweep_spark.grid import pgrid_df, plist_df

    g = pgrid_df(
        plist_df(spark, "a", list(range(4))),
        plist_df(spark, "b", list(range(3))),
        plist_df(spark, "c", ["x", "y"]),
    )
    assert plans.broadcast_join_count(g) == 2
    assert plans.count_exchanges(g) == 0
    # partition count must not multiply across axes
    assert g.rdd.getNumPartitions() <= 2


def test_exact_dedup_groups_on_hash_not_text(spark):
    df = QUERIES["dedup_exact_docs"](spark, SF_DIR)
    (read,) = plans.read_schema_columns(df)
    assert set(read) == {"doc_id", "text"}
    assert plans.count_exchanges(df) == 1


def test_text_ops_zero_shuffle(spark):
    for name in ("text_quality_scores", "text_fingerprint", "text_language_id"):
        df = QUERIES[name](spark, SF_DIR)
        assert plans.count_exchanges(df) == 0, name


def test_brute_force_topk_broadcasts_queries(spark):
    df = QUERIES["sim_cosine_topk"](spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1
    # single shuffle: the per-query top-k window
    assert plans.count_exchanges(df) == 1


def test_skip_dups_is_join_not_collect(spark, tmp_path):
    """A lazy (DataFrame) grid's skip_dups must plan as an anti-join
    against the DB hash relation — never a driver-side collected
    filter.  An eager run() collects the grid's own hashes and, from a
    left-semi join against them, only the DB hashes the grid holds,
    never the whole DB hash set (tests/test_run.py::
    test_eager_skip_dups_probe_plan)."""
    from psweep_spark import plist, run

    calc = str(tmp_path / "calc")
    run(spark, lambda p: {"r_": p["a"]}, plist("a", [1, 2, 3]), calc_dir=calc)
    # build the incremental params plan and inspect before execution
    from psweep_spark.database import Database
    from psweep_spark.hashing import hash_expr
    from psweep_spark.runner import prepare_params_df

    params_df = prepare_params_df(spark, plist("a", [2, 3, 4, 5]))
    params_df = params_df.withColumn("_pset_hash", hash_expr(params_df.schema))
    hashes = Database(os.path.join(calc, "database")).distinct_hashes(spark)
    plan = params_df.join(hashes, "_pset_hash", "left_anti")
    s = plans.formatted_plan(plan)
    assert "LeftAnti" in s or "left_anti" in s.lower()


def test_filter_conds_reach_scan(spark):
    df = QUERIES["filter_conds_fused"](spark, SF_DIR)
    pushed = " ".join(plans.pushed_filters(df))
    for col in ("l_quantity", "l_discount", "l_returnflag"):
        assert col in pushed, pushed
    (read,) = plans.read_schema_columns(df)
    assert set(read) == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_returnflag",
    }


def test_ivf_broadcasts_centroids_and_queries(spark):
    df = QUERIES["sim_ivf_ann"](spark, SF_DIR)
    # centroid relation broadcast into both cell assignments + the
    # query-cells relation broadcast into the candidate join
    assert plans.broadcast_join_count(df) >= 3


def test_rollup_broadcasts_dims_single_exchange(spark):
    df = QUERIES["q_rollup_region_revenue"](spark, SF_DIR)
    assert plans.broadcast_join_count(df) == 3
    # one shuffle: the grouping-set aggregate (Expand is map-side)
    assert plans.count_exchanges(df) == 1
    s = plans.formatted_plan(df)
    assert "Expand" in s


def test_q14_date_window_pushed_and_part_broadcast(spark):
    df = QUERIES["q14_promo_effect"](spark, SF_DIR)
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed, pushed
    assert plans.broadcast_join_count(df) >= 1
    reads = plans.read_schema_columns(df)
    li_read = next(r for r in reads if "l_partkey" in r)
    assert set(li_read) == {
        "l_partkey", "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_q18_aggregates_before_join(spark):
    """The HAVING aggregate must shrink lineitem *before* the orders
    join — the join input is the aggregate, never the raw fact table."""
    df = QUERIES["q18_large_orders"](spark, SF_DIR)
    s = plans.formatted_plan(df)
    # HashAggregate appears below the join in the plan tree: the
    # aggregate's id is greater (deeper) than the join's id
    import re

    joins = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (?:Broadcast|Sort|Shuffled)?HashJoin", s)
    ]
    aggs = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", s)]
    assert joins and aggs
    assert max(aggs) > min(joins), s


def test_q6_pure_scan_agg(spark):
    """Q6 is the pushdown litmus: all predicates reach the scan, only
    the four referenced columns are read, and the only exchange is the
    single-row final aggregate."""
    df = QUERIES["q6_forecast_revenue"](spark, SF_DIR)
    pushed = " ".join(plans.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    (read,) = plans.read_schema_columns(df)
    assert set(read) == {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice",
    }
    assert plans.count_exchanges(df) <= 1


def test_q7_prefilters_both_facts_via_broadcast(spark):
    """Both fact inputs must shrink through broadcast dim joins BEFORE
    the orderkey shuffle — the only exchanges are the big join's two
    sides plus the final agg."""
    df = QUERIES["q7_volume_shipping"](spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 2
    assert plans.count_exchanges(df) <= 3


def test_q13_aggregates_orders_below_outer_join(spark):
    """The per-customer count happens on orders BEFORE the left join —
    the join moves one row per customer, not one per order."""
    import re

    df = QUERIES["q13_customer_distribution"](spark, SF_DIR)
    s = plans.formatted_plan(df)
    joins = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (?:Broadcast|Sort|Shuffled)?HashJoin", s)
    ]
    aggs = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", s)]
    assert joins and aggs
    assert max(aggs) > min(joins), s


def test_q17_single_fact_scan_is_reused(spark):
    """Decorrelation must not scan lineitem twice at full width: both
    the avg leg and the revenue leg read only the 3 needed columns and
    the Brand part filter broadcasts into each."""
    df = QUERIES["q17_small_qty_revenue"](spark, SF_DIR)
    for read in plans.read_schema_columns(df):
        if "l_partkey" in read:
            assert set(read) <= {"l_partkey", "l_quantity", "l_extendedprice"}
    assert plans.broadcast_join_count(df) >= 2


def test_q19_part_broadcast_no_shuffle(spark):
    df = QUERIES["q19_discounted_revenue"](spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.count_exchanges(df) <= 1  # at most the single-row final agg


def test_q21_semi_anti_never_cartesian(spark):
    df = QUERIES["q21_waiting_supplier"](spark, SF_DIR)
    s = plans.formatted_plan(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "LeftSemi" in s and "LeftAnti" in s


def test_q15_max_is_broadcast_not_recompute(spark):
    """The scalar MAX must come from a single-row broadcast over the
    same suppkey aggregate — never a second scan of lineitem."""
    df = QUERIES["q15_top_supplier"](spark, SF_DIR)
    s = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed, pushed


def test_grouping_sets_expand_single_exchange(spark):
    """GROUPING SETS must plan as map-side Expand + ONE aggregate
    exchange — never one pass per grouping set."""
    df = QUERIES["q_grouping_sets_mix"](spark, SF_DIR)
    s = plans.formatted_plan(df)
    assert "Expand" in s
    assert plans.broadcast_join_count(df) >= 3
    assert plans.count_exchanges(df) == 1


def test_stratified_sample_zero_shuffle_pruned(spark):
    """Hash sampling is a pure map-side filter: zero exchanges, and only
    the projected columns reach the scan."""
    df = QUERIES["docs_stratified_sample"](spark, SF_DIR)
    assert plans.count_exchanges(df) == 0
    (read,) = plans.read_schema_columns(df)
    assert set(read) == {"doc_id", "lang", "source", "n_chars"}


def test_salted_join_no_broadcast_of_probe(spark):
    """The salted join must remain a partitioned join on (key, salt) —
    salting is pointless if the build side broadcasts (that's what the
    operator is the fallback FOR). Pin with broadcast disabled."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["q_salted_skew_join"](spark, SF_DIR)
        s = plans.formatted_plan(df)
        assert "_salt" in s
        assert "BroadcastHashJoin" not in s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_quantize_rides_in_scan(spark):
    df = QUERIES["embed_quantize_int8"](spark, SF_DIR)
    assert plans.count_exchanges(df) == 0


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """AQE runtime filtering: a selective dim filter on the build side
    of a shuffle join injects a bloom-filter semi-filter onto the probe
    side scan, cutting shuffled probe rows before the exchange.  At
    real scale the 10 GB application-side default triggers it
    automatically; the thresholds here only shrink it to test size."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        od = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_token_runs_udtf_no_shuffle(spark):
    """The lateral UDTF expansion is a per-row map: zero exchanges."""
    df = QUERIES["docs_token_runs_udtf"](spark, SF_DIR)
    assert plans.count_exchanges(df) == 0


def test_repetition_stats_shuffles_only_on_doc_keys(spark):
    """Token-mode agg + join back: every exchange is keyed by doc_id
    (+token) — no global token key ever concentrates."""
    df = QUERIES["docs_repetition_stats"](spark, SF_DIR)
    assert plans.count_exchanges(df) <= 3


def test_pq_assignment_rides_in_scan(spark):
    """PQ code assignment is a pure per-batch projection against a
    closure-shipped codebook: zero exchanges, zero joins."""
    df = QUERIES["embed_pq_codes"](spark, SF_DIR)
    assert plans.count_exchanges(df) == 0
    assert plans.broadcast_join_count(df) == 0


def test_funnel_broadcasts_stage_outputs(spark):
    """Each funnel stage joins the (tiny, user-cardinality) previous
    stage back to the event log as a broadcast — the event fact is
    never shuffled for a join, only for its per-stage user agg."""
    df = QUERIES["events_funnel_stages"](spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 3


def test_database_per_run_query_prunes_partitions(spark, tmp_path):
    """The DB is written partitionBy(_run_id): a per-run query must
    show a non-trivial PartitionFilters on the scan (directory pruning
    before any I/O — at 10^4 runs a per-run query reads 1/10^4 of the
    store) and ZERO PushedFilters-era row filtering for the run
    predicate."""
    import psweep_spark as ps

    params = ps.pgrid([ps.plist("a", [1, 2, 3])])
    calc = str(tmp_path / "calc")
    ps.run(spark, lambda p: {"y_": p["a"] * 2}, params, calc_dir=calc)
    ps.run(spark, lambda p: {"y_": p["a"] * 2},
           ps.pgrid([ps.plist("a", [4, 5])]), calc_dir=calc)
    db = ps.Database(calc + "/database").load(spark)
    run_id = db.select("_run_id").orderBy("_run_seq").first()["_run_id"]
    q = db.filter(db._run_id == run_id).select("a", "y_")
    pf = plans.partition_filters(q)
    assert any("_run_id" in f for f in pf), pf


def test_retrieval_queries_plan_shapes(spark):
    """Ceilings for the retrieval/LM family: vocabulary-side relations
    broadcast (never shuffle-joined), histogram/window suites stay at
    one exchange."""
    shapes = {
        # name: (max exchanges, min broadcast joins)
        "docs_tfidf_topk": (4, 1),
        "docs_bm25_search": (4, 2),
        # count_exchanges dedupes on plan_id, so persisted relations
        # whose cached subtree is re-printed at every reference (pmi's
        # bigram base, resample's counts) no longer inflate the count
        "corpus_bigram_pmi": (6, 3),
        "events_resample_1min": (2, 1),
        "q_hll_sketch_union_regions": (3, 2),
        "events_value_outliers": (2, 1),
        "events_value_histogram": (1, 0),
        "q_supplier_balance_dist": (1, 0),
    }
    for name, (max_exch, min_bcast) in shapes.items():
        df = QUERIES[name](spark, SF_DIR)
        if max_exch is not None:
            assert plans.count_exchanges(df) <= max_exch, name
        assert plans.broadcast_join_count(df) >= min_bcast, name


def test_ivf_cell_assignment_is_map_side(spark):
    """r5 plan contract: assign_cells must NOT shuffle the vector
    relation — the per-vector top-n runs as a map-side array sort
    against a one-row broadcast centroid array.  The only shuffle
    exchanges allowed are the tiny centroid aggregation's (k·d rows);
    the former crossJoin + row_number window pushed the full corpus
    through an Exchange."""
    from pyspark.sql import functions as F

    from psweep_spark import plans
    from psweep_spark.operators.similarity import (
        _as_double,
        assign_cells,
        centroids_by_label,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cent = centroids_by_label(emb, "embedding", "label").withColumnRenamed(
        "cv", "cv2"
    )
    c = emb.select("vec_id", _as_double(F.col("embedding")).alias("cv"))
    df = assign_cells(c, cent, "vec_id", "cv", 2)
    plan = plans.formatted_plan(df)
    assert "Window" not in plan, "corpus-wide window reintroduced"
    # the centroid agg shuffles (label,pos) then label — nothing else;
    # in particular no exchange keyed on the vector id
    assert "hashpartitioning(vec_id" not in plan, plan
    n = df.count()
    assert n == 2 * emb.count()


def test_events_resample_runtime_exchange_count(spark):
    """RUNTIME (not just static) shuffle audit for the resample query:
    after execution the AQE final plan records which exchanges actually
    ran — the persisted counts relation's exchange materializes ONCE
    (cache populate) no matter how many readers it feeds, plus the
    type-distinct agg.  Executed hash exchanges must stay at 2."""
    spark.catalog.clearCache()
    df = QUERIES["events_resample_1min"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plans.count_exchanges(df) <= 2
    spark.catalog.clearCache()


def test_ols_fit_single_shuffle_pruned_scan(spark):
    """OLS sufficient statistics (operators/stats.py): the whole fit is
    ONE exchange (the partially-aggregated groupBy of six longs); the
    solve is a projection over the group rows, and the scan reads only
    the three involved columns."""
    df = QUERIES["docs_ols_scaling_fit"](spark, SF_DIR)
    # groupBy agg + the final tiny orderBy of ~5 group rows
    assert plans.count_exchanges(df) <= 2, plans.formatted_plan(df)[:800]
    (read,) = plans.read_schema_columns(df)
    assert set(read) == {"lang", "text", "n_chars"}, read


def test_cms_build_bounded_shuffle_keyspace(spark):
    """The CMS build's only corpus-wide operation is a hash aggregate
    whose keyspace is ≤ depth·width cells — verified by materializing
    the cell relation (≤ 4·64 rows from 3k inputs) — and the estimate
    side broadcasts the cell relation instead of shuffling probes."""
    from pyspark.sql import functions as F

    from psweep_spark.operators.sketch import cms_cells, cms_estimate

    df = spark.createDataFrame(
        [(f"t{i % 100}",) for i in range(3000)], "token string"
    )
    cells = cms_cells(df, "token", depth=4, width=64, salt="p")
    assert cells.count() <= 4 * 64
    est = cms_estimate(
        cells, df.select("token").distinct(), "token", 4, 64, "p"
    )
    assert plans.broadcast_join_count(est) >= 1, plans.formatted_plan(est)[:800]
    # sanity: estimates at least the true max count
    top = (
        df.groupBy("token").agg(F.count("*").alias("c"))
        .agg(F.max("c")).collect()[0][0]
    )
    assert max(r["est_cnt"] for r in est.collect()) >= top


def test_bpe_merges_job_count_pinned(spark):
    """Driver-job budget for the BPE round loop (VERDICT r6 item 7:
    corpus_bpe_merges drifted 1.30x in the r6 driver bench with no code
    on its path — a standalone A/B at the r7 tree measured 2.22-2.26 s,
    i.e. machine context, but the loop's job count was unpinned so
    drift was unattributable).  Budget: 1 vocab materialize + 6 rounds
    x (pair-count TakeOrdered collect, <=2 jobs under AQE) + the final
    tiny createDataFrame collect -> 18 measured; allow 20 for AQE
    stage-retry slack.  A regression past the budget means the round
    loop started scheduling extra jobs (lineage checkpoint misfiring,
    AQE re-planning per round) — the exact failure mode that would look
    like 'unattributable bench drift'."""
    fn = QUERIES["corpus_bpe_merges"]
    fn(spark, SF_DIR).collect()  # warm: codegen + vocab persist path
    _, n = plans.jobs_run(spark, lambda: fn(spark, SF_DIR).collect())
    assert n <= 20, f"BPE round loop scheduled {n} driver jobs (budget 20)"


# --------------------------------------------------------------------------
# nested-cache / reused-subtree hazard as a CLASS contract (VERDICT r9
# what's-wrong #1/#2): every catalog entry that consumes an expensive
# relation in >= 2 branches of one returned plan must materialize it via
# caching.materialized_for_reuse (lineage TRUNCATION — Spark's
# InMemoryRelation substitution does not reliably cover nested caches,
# measured at sf10 as the MinHash signature pipeline executing twice in
# one action).  The contract is plan-shaped: the FINAL plan contains
# exactly the corpus scans the query's floor requires and zero signature
# lineage, so reverting any landed-pairs fix turns these red.
# --------------------------------------------------------------------------

_MINHASH_MARKERS = ("band_idx", "mh_0", "shingle")

# entry -> {table file: max scans in the final plan}
_REUSE_SCAN_BUDGET = {
    # assignment rollup is the single corpus scan; pairs + CC + both
    # leak audits are landed/checkpointed relations
    "docs_leakage_safe_split": {"documents.parquet": 1},
    # ann pipeline's query + corpus scans; the exact top-k side is
    # landed once (was 6 scans: the brute-force subtree executed twice)
    "sim_lsh_recall": {"embeddings.parquet": 2},
    # single lineage by construction — pinned so it stays that way
    "dedup_cluster_size_hist": {"documents.parquet": 1},
}


def test_reused_subtrees_execute_once(spark):
    from collections import Counter

    for name, budget in _REUSE_SCAN_BUDGET.items():
        df = QUERIES[name](spark, SF_DIR)
        scans = Counter(
            loc.split("/")[-1] for loc in plans.file_scan_locations(df)
        )
        for table, max_scans in budget.items():
            assert scans.get(table, 0) <= max_scans, (
                f"{name}: {scans.get(table, 0)} final-plan scans of "
                f"{table} (budget {max_scans}) — a reused subtree is "
                f"re-executing; materialize it via "
                f"caching.materialized_for_reuse"
            )
        plan = plans.formatted_plan(df)
        for marker in _MINHASH_MARKERS:
            assert marker not in plan, (
                f"{name}: MinHash lineage ('{marker}') leaked into the "
                f"final plan — the pair relation is no longer truncated"
            )


def test_leakage_split_distributed_branch_identical(spark):
    """VERDICT r9 #1 done-criterion: force the above-threshold branch
    (landed pairs -> localCheckpoint + distributed star-contraction CC)
    and require byte-identical output to the driver-landing default."""
    from psweep_spark.queries_pipeline import docs_leakage_safe_split

    default = docs_leakage_safe_split(spark, SF_DIR).orderBy("split")
    forced = docs_leakage_safe_split(
        spark, SF_DIR, driver_threshold=0
    ).orderBy("split")
    assert default.collect() == forced.collect()


def test_lsh_verify_strategy_invariant(spark):
    """The r10 sf100 leg showed the LSH verify join flipping from
    broadcast to sort-merge once the candidate relation crosses the
    64 MB threshold (BENCH_SCALE._lsh_flip_evidence).  The flip must be
    a pure strategy change: identical pairs and jaccards with broadcast
    disabled outright."""
    from psweep_spark.operators.dedup import minhash_dedup

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    want = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_dedup(
            docs, num_hashes=12, bands=4, threshold=0.5,
            max_bucket_size=None,
        ).collect()
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in minhash_dedup(
                docs, num_hashes=12, bands=4, threshold=0.5,
                max_bucket_size=None,
            ).collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want and len(want) > 0
