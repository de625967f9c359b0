"""Physical-plan assertions: pushdown, pruning, broadcast, partial agg.

Correct results with a wrong plan don't survive a 100× scale-up. These
tests pin the plan properties the engine's scale posture depends on
(SURVEY.md §4): filters reach the parquet scan, projections prune the
read schema, small dims broadcast, aggregates partial-combine before the
shuffle, and top-k never plans a full sort.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from live_data_spark.catalog import catalog, load


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = catalog()["q1_pricing_summary"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine: only |groups| rows cross the shuffle."""
    plan = _plan(catalog()["q1_pricing_summary"].spark(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2


def test_staging_projection_prunes_scan(spark, sf_dir):
    """stg_customer reads 5 of 8 customer columns — ReadSchema must shrink."""
    plan = _plan(catalog()["stg_customer"].spark(spark, sf_dir))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read and "c_acctbal" in read
    assert "c_phone" not in read and "c_comment" not in read and "c_address" not in read


def test_dim_exclusion_prunes_scan(spark, sf_dir):
    plan = _plan(catalog()["dim_part"].spark(spark, sf_dir))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_retailprice" not in read and "p_size" not in read


def test_fact_broadcasts_part_dim(spark, sf_dir):
    plan = _plan(catalog()["fct_order_lineitems"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the broadcast side is part (the explicit F.broadcast hint)
    assert "BroadcastExchange" in plan


def test_top50_plans_takeordered_not_full_sort(spark, sf_dir):
    """LIMIT+ORDER BY must be per-partition top-k, not a global sort."""
    plan = _plan(catalog()["top50_orders"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_anti_join_for_relationships(spark, sf_dir):
    plan = _plan(catalog()["test_relationships_orphans"].spark(spark, sf_dir))
    assert "LeftAnti" in plan


def test_events_scan_prunes_props(spark, sf_dir):
    """events_hourly_rollup never touches the (wide) props JSON column."""
    df = catalog()["events_hourly_rollup"].spark(spark, sf_dir)
    assert "props" not in _optimized(df).split("Relation")[-1] or "props" not in (
        _plan(df).split("ReadSchema:")[1].splitlines()[0]
    )


def test_whole_stage_codegen_active(spark, sf_dir):
    """The hot reference path runs inside WholeStageCodegen spans.

    AQE hides the final plan until execution — run the query first, then
    read the (now final) adaptive plan.
    """
    import contextlib
    import io

    df = catalog()["fct_order_lineitems"].spark(spark, sf_dir)
    df.collect()  # executes THIS QueryExecution so AQE finalizes
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    txt = buf.getvalue()
    assert "== Final Plan ==" in txt
    final = txt.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # '*' prefix marks a WholeStageCodegen-compiled operator
    assert "* Project" in final and "* BroadcastHashJoin" in final


def test_exact_dedup_shuffles_fingerprints_not_documents(spark, sf_dir):
    """The dedup shuffle carries (fp, doc_id) only — text never moves."""
    df = catalog()["dedup_exact"].spark(spark, sf_dir)
    plan = _plan(df)
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all("text" not in ln for ln in ex)


# -- round-2 queries ---------------------------------------------------------


def test_q7_broadcasts_both_nation_roles(spark, sf_dir):
    """Supplier-nation and customer-nation branches must each broadcast —
    the cross-nation predicate then evaluates map-side."""
    plan = _plan(catalog()["q7_volume_shipping"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q10_takeordered_and_pushed_filters(spark, sf_dir):
    plan = _plan(catalog()["q10_returned_items"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to the lineitem scan
    assert "o_orderdate" in plan.split("orders.parquet")[0] or "GreaterThanOrEqual(o_orderdate" in plan


def test_q11_reuses_per_part_aggregate(spark, sf_dir):
    """The global mean derives from the per-part aggregate subtree — the
    partkey shuffle must execute once and be reused for the mean branch.
    AQE materializes exchange reuse only in the FINAL plan, so execute
    first."""
    df = catalog()["q11_important_parts"].spark(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_q21_no_cartesian_and_aligned_keys(spark, sf_dir):
    plan = _plan(catalog()["q21_waiting_suppliers"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan


def test_boilerplate_spans_takeordered(spark, sf_dir):
    plan = _plan(catalog()["dedup_boilerplate_spans"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_neardup_lsh_candidates_travel_light(spark, sf_dir):
    """The bucket self-join must join bare id pairs — embeddings re-attach
    after the dedup, so no 'emb' column crosses the (table, bucket) join."""
    from live_data_spark.operators.similarity import embedding_neardup_lsh

    plan = _optimized(catalog()["embedding_neardup_lsh"].spark(spark, sf_dir))
    # the bucket join's immediate output carries ids + join keys only;
    # a plan that shipped vectors through it would project emb_1/emb_2
    # before the dedup aggregate
    dedup_section = plan.split("Aggregate")[-1]
    assert "vec_id_1" in plan and "vec_id_2" in plan


def test_mix_plan_single_scan(spark, sf_dir):
    """The global budget is a window over the per-lang aggregate — the
    plan must scan documents exactly once (the separate-budget-aggregate
    formulation loses exchange reuse to column pruning and scans twice)."""
    plan = _plan(catalog()["training_mix_plan"].spark(spark, sf_dir))
    assert plan.count("documents.parquet") == 1


def test_bm25_takeordered_and_broadcast_stats(spark, sf_dir):
    """BM25's top-k must compile to per-partition top-k (not a global
    sort), and the tiny df/(N, avgdl) frames must broadcast — a shuffled
    join against a 2-row term table would be the classic scale bug."""
    plan = _plan(catalog()["text_bm25_topdocs"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_spacesaving_preaggregates_before_arrow(spark, sf_dir):
    """The SpaceSaving batch twin must hash-aggregate (shard, user)
    counts BEFORE the Arrow stage — the pandas groups then hold distinct
    users, not raw events. A missing pre-agg shows up as
    FlatMapGroupsInPandas directly over the scan."""
    plan = _plan(catalog()["events_spacesaving_topk"].spark(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    pre_arrow = plan.split("FlatMapGroupsInPandas")[-1]  # children print below
    assert "HashAggregate" in pre_arrow, "no per-(shard,user) pre-aggregation"
    assert "TakeOrderedAndProject" in plan


def test_incremental_dedup_single_fp_shuffle(spark, sf_dir):
    """dedup_incremental's history probe and within-batch window must
    both key on fp — one 16-byte-pair exchange family, with no document
    text ever reaching an exchange (ReadSchema carries doc_id/text only
    at the scan, exchanges carry fp/doc_id)."""
    df = catalog()["dedup_incremental"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the final decision agg partial-combines map-side
    assert plan.count("HashAggregate") >= 2


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Pin the 100 TB join-pruning mechanism: when the dim side is too big
    to broadcast (forced here via autoBroadcastJoinThreshold=-1) and the
    fact scan is big enough to matter (the 10 GB production threshold,
    emulated at 0 so testdata qualifies), Catalyst injects a runtime
    BLOOM FILTER built from the filtered dim keys and applies it as a
    might_contain predicate on the fact scan — rows for non-qualifying
    parts drop at the scan, before the shuffle. This is the mechanism
    that keeps selective dim-filtered fact joins shuffle-light at scale
    without hand-written semi-joins; the test also pins that the
    filtered plan returns the same result as the broadcast plan."""
    from pyspark.sql import functions as F

    from live_data_spark.catalog import load

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    q = lambda: (  # noqa: E731
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    baseline = {tuple(r) for r in q().collect()}
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = q()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "no runtime bloom filter injected"
        assert "bloom_filter_agg" in plan
        assert {tuple(r) for r in j.collect()} == baseline
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_training_manifest_single_corpus_scan(spark, sf_dir):
    """The end-to-end manifest (gate → dedup → split → epochs) must read
    documents EXACTLY once: the windowed exact-dedup keeps the whole
    chain one subtree (the aggregate + self-semi-join form scanned it
    twice and shuffled it twice). Checked on the pre-execution plan —
    the adaptive plan string renders initial+final subplans and
    double-counts."""
    import re

    from live_data_spark.catalog import catalog

    df = catalog()["corpus_training_manifest"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(r"Scan parquet .*documents", plan))
    assert scans == 1, f"expected a single documents scan, plan has {scans}"


def test_dynamic_partition_pruning_on_date_keyed_join(spark, tmp_path):
    """The docstring claim on partitioned facts (registry/bikeshop: 'date-
    keyed joins get dynamic partition pruning') pinned in the plan: a
    hive-partitioned fact joined to a selectively-filtered dim on the
    partition column must carry a dynamicpruning expression in its scan's
    PartitionFilters — at 100 TB this is what turns a 10-year fact scan
    into reading only the dim-selected dates' partitions at runtime."""
    fact_path = str(tmp_path / "fact")
    rows = [(d, i, float(i)) for d in range(10) for i in range(200)]
    spark.createDataFrame(rows, "d int, k int, v double").write.partitionBy(
        "d"
    ).parquet(fact_path)
    dim = spark.createDataFrame(
        [(d, "keep" if d in (3, 7) else "drop") for d in range(10)], "d int, flag string"
    )
    fact = spark.read.parquet(fact_path)
    joined = fact.join(F.broadcast(dim).where(F.col("flag") == "keep"), "d").groupBy(
        "d"
    ).agg(F.sum("v").alias("total"))
    joined.collect()  # DPP shows in the executed (adaptive-final) plan
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_broadcast_dim_gate(spark, sf_dir):
    """broadcast_dim is the size-gated hint for SF-SCALING dims (part/
    supplier/customer grow with SF — an unconditional hint is a driver
    OOM at sf100k). Pin both gate arms: under the 32 MiB gate the plan
    broadcasts (identical to the old hard hint at every checked SF);
    above it the hint is withheld, the join falls back to Catalyst's own
    strategy, and the RESULT is identical."""
    from live_data_spark.catalog import broadcast_dim, table_bytes

    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name")

    assert 0 < table_bytes(sf_dir, "part") < 32 * 1024 * 1024

    hinted = li.join(broadcast_dim(p, sf_dir, "part"), li.l_partkey == p.p_partkey)
    assert "BroadcastHashJoin" in _plan(hinted)

    # force the gate shut: the frame comes back unhinted and (with the
    # auto-broadcast estimator also off, as at real scale) plans a
    # shuffle join — while producing the same rows
    gated = broadcast_dim(p, sf_dir, "part", max_bytes=1)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fallback = li.join(gated, li.l_partkey == p.p_partkey)
        plan = _plan(fallback)
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert sorted(map(tuple, fallback.collect())) == sorted(map(tuple, hinted.collect()))


def test_table_metadata_tracks_rewrites(spark, tmp_path):
    """The footer caches must key on the table's on-disk STATE, not its
    path: a long-lived driver that re-ingests/compacts a table at the
    same location must size every data-dependent plan parameter (IVF
    k_lists, LSH planes, broadcast gates) from the CURRENT corpus. A
    path-only lru_cache served the pre-rewrite rowcount forever."""
    from live_data_spark.catalog import key_domain_span, table_bytes, table_rowcount

    t = tmp_path / "embeddings.parquet"
    spark.range(10).selectExpr("id AS vec_id").write.parquet(str(t))
    sf = str(tmp_path)
    assert table_rowcount(sf, "embeddings") == 10
    b0 = table_bytes(sf, "embeddings")
    assert key_domain_span(sf, "embeddings", "vec_id") == 10

    spark.range(500).selectExpr("id AS vec_id").write.mode("overwrite").parquet(str(t))
    assert table_rowcount(sf, "embeddings") == 500, "stale footer cache after rewrite"
    assert table_bytes(sf, "embeddings") != b0
    assert key_domain_span(sf, "embeddings", "vec_id") == 500


def test_broadcast_dim_row_bytes_bound(spark, sf_dir):
    """The row_bytes arm gates a NARROW per-key derivation on
    rowcount × width instead of the base table's raw bytes: a (doc_id,
    count) frame bounded by the wide documents table must stay
    broadcastable long after documents' full-text bytes blow the gate.
    Pin both directions: the rowcount bound admits the hint where the
    raw-bytes bound would (wrongly) shut it, and a 1-byte gate still
    shuts the row_bytes arm."""
    from live_data_spark.catalog import broadcast_dim, table_bytes, table_rowcount

    d = load(spark, sf_dir, "documents")
    sizes = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    # pick a gate between the two bounds: rowcount×32 passes, raw bytes fail
    gate = table_bytes(sf_dir, "documents") - 1
    assert table_rowcount(sf_dir, "documents") * 32 < gate

    shut_on_bytes = broadcast_dim(sizes, sf_dir, "documents", max_bytes=gate)
    open_on_rows = broadcast_dim(
        sizes, sf_dir, "documents", max_bytes=gate, row_bytes=32
    )
    j_shut = d.join(shut_on_bytes, "doc_id")
    j_open = d.join(open_on_rows, "doc_id")
    still_shut = broadcast_dim(sizes, sf_dir, "documents", max_bytes=1, row_bytes=32)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastHashJoin" not in _plan(j_shut)
        assert "BroadcastHashJoin" in _plan(j_open)
        assert "BroadcastHashJoin" not in _plan(d.join(still_shut, "doc_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_dim_key_domain_bound(spark, sf_dir):
    """The key= arm gates a per-DISTINCT-key frame on the key column's
    footer min/max span instead of the base table's rowcount: a per-user
    aggregate of events scales with POPULATION (user_id domain), not
    TRAFFIC (event rows), so the rowcount bound shuts the gate
    ~|events|/|users| early. Pin: the span bound admits the hint where
    the rowcount bound shuts it; a 1-byte gate still shuts the key arm;
    key= without row_bytes= is a usage error."""
    import pytest

    from live_data_spark.catalog import (
        broadcast_dim,
        key_domain_span,
        table_rowcount,
    )

    e = load(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))

    span = key_domain_span(sf_dir, "events", "user_id")
    n_rows = table_rowcount(sf_dir, "events")
    assert 0 < span < n_rows  # the bound is genuinely tighter here

    # gate between the two bounds: span×16 passes, rowcount×16 fails
    gate = n_rows * 16 - 1
    assert span * 16 < gate

    shut_on_rows = broadcast_dim(first, sf_dir, "events", max_bytes=gate, row_bytes=16)
    open_on_span = broadcast_dim(
        first, sf_dir, "events", max_bytes=gate, row_bytes=16, key="user_id"
    )
    still_shut = broadcast_dim(
        first, sf_dir, "events", max_bytes=1, row_bytes=16, key="user_id"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastHashJoin" not in _plan(e.join(shut_on_rows, "user_id"))
        assert "BroadcastHashJoin" in _plan(e.join(open_on_span, "user_id"))
        assert "BroadcastHashJoin" not in _plan(e.join(still_shut, "user_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    with pytest.raises(ValueError):
        broadcast_dim(first, sf_dir, "events", key="user_id")


def test_sparse_cosine_pair_agg_needs_no_exchange(spark, sf_dir):
    """text_sparse_cosine_topk's gated pair plan: the probe side is
    hash-partitioned by doc_id and the build side broadcasts, so the
    pair-level aggregate — the 10M+-row hot spot on a degenerate
    vocabulary — runs IN PLACE on the join output (HashPartitioning on
    a.doc_id satisfies the (a.doc_id, b.doc_id) clustering). A
    reintroduced pair exchange is the regression this pins against."""
    df = catalog()["text_sparse_cosine_topk"].spark(spark, sf_dir)
    df.collect()  # AQE: read the final plan
    plan = _plan(df)
    # pair agg keys are (doc_id, doc_id); the pair join is the equi-join
    # on term. Between them there must be no exchange of any kind.
    # Anchor on the TWO-key aggregate explicitly — the bare
    # "keys=[doc_id#" prefix also matches the single-key sizes/nrm
    # aggregates, and a plan-layout change that printed one of those
    # first would silently retarget the assertion window.
    m = re.search(r"HashAggregate\(keys=\[doc_id#\d+[^,\]]*, doc_id#", plan)
    assert m, "pair-level (doc_id, doc_id) aggregate not found in plan"
    agg_at = m.start()
    join_at = plan.index("BroadcastHashJoin [term#", agg_at)
    between = plan[agg_at:join_at]
    assert "Exchange" not in between, "pair aggregate re-shuffles the pair stream"
    # the probe keeps its own partition count: this session's batch
    # count (numShufflePartitions) == defaultParallelism, the count that
    # would be planned away onto the signature window's coalesced exchange
    assert "REPARTITION_BY_NUM" in plan, "probe lost its explicit partitioning"


def test_gated_pair_sides_closed_arm_identical(spark, sf_dir, monkeypatch):
    """The helper's gate-CLOSED arm (the one a huge corpus actually
    runs): forcing the gate shut must return plain aliased sides — no
    probe repartition of either kind — and the pair aggregate over them
    must produce results identical to the open arm's exchange-free
    plan."""
    from live_data_spark import catalog as cat

    sig = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower("text"), " ")[0].alias("term"))
        .where(F.length("term") > 0)
    )

    def pairs(a, b):
        return (
            a.join(
                b,
                (F.col("a.term") == F.col("b.term"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_id_1"),
                F.col("b.doc_id").alias("doc_id_2"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )

    opened = pairs(*cat.gated_pair_sides(sig, sf_dir, "documents", 1))
    monkeypatch.setattr(cat, "BROADCAST_GATE_BYTES", -1)
    closed = pairs(*cat.gated_pair_sides(sig, sf_dir, "documents", 1))
    closed_plan = _plan(closed)
    # the open arm's probe has an explicit partition count (AQE would
    # coalesce a column-only repartition); the closed arm has neither
    assert "REPARTITION_BY_NUM" in _plan(opened)
    assert "REPARTITION_BY_COL" not in closed_plan
    assert "REPARTITION_BY_NUM" not in closed_plan
    got_open = sorted(tuple(r) for r in opened.collect())
    got_closed = sorted(tuple(r) for r in closed.collect())
    assert got_open == got_closed and got_open  # identical, non-trivial


def test_simhash_pair_dedup_needs_no_exchange(spark, sf_dir):
    """dedup_simhash's side of the shared gated pair plan
    (catalog.gated_pair_sides): the candidate dropDuplicates — a
    (doc_id_1, doc_id_2)-keyed aggregate over the band-bucket self-join's
    fan-out — must run directly on the join output with no pair-level
    exchange."""
    df = catalog()["dedup_simhash"].spark(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    m = re.search(r"HashAggregate\(keys=\[doc_id_1#\d+[^,\]]*, doc_id_2#", plan)
    assert m, "pair-level (doc_id_1, doc_id_2) aggregate not found in plan"
    join_at = plan.index("BroadcastHashJoin [band#", m.start())
    between = plan[m.start():join_at]
    assert "Exchange" not in between, "candidate dedup re-shuffles the pair stream"
    assert "REPARTITION_BY_NUM" in plan, "probe lost its explicit partitioning"
