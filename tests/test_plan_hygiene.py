"""Physical-plan hygiene guards: the properties that make these plans
hold at 100 TB, pinned so a refactor can't silently regress them.

  * filters and column pruning reach the parquet scan (PushedFilters /
    ReadSchema)
  * small dimensions broadcast (BroadcastHashJoin, no sort-merge on
    dimension joins)
  * semi/anti joins stay semi/anti (no blow-up then distinct)
  * single-shuffle aggregations stay single-shuffle (partial+final hash
    aggregate)
  * no row-at-a-time Python (BatchEvalPython) anywhere in the registry;
    Python appears only as Arrow-batched mapInPandas
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark_data_engineering_assignment_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def dfs(spark):
    """One DataFrame per registered query (built once, shared by both
    plan-text fixtures and the output-schema pin - some queries run
    eager work at build time, e.g. k-means training rounds).

    Built from an EMPTY session cache (round-15, folded in from the old
    separate lineage_plans rebuild): cache substitution happens at
    DataFrame planning time, so frames persisted by suites that ran
    earlier in the shared session would otherwise print inline PER
    REFERENCE and make node counts depend on suite order. Clearing
    first and building in registry order makes every plan fixture a
    pure function of the query definitions - and the registry is built
    ONCE per module instead of three times (dfs + lineage rebuild +
    hint-budget rebuild cost ~95 s of the full suite)."""
    spark.catalog.clearCache()
    return {name: QUERIES[name].fn(spark, SF) for name in QUERIES}


@pytest.fixture(scope="module")
def plans(dfs):
    """Formatted plans (node details, PushedFilters/ReadSchema)."""
    return {name: plan_text(df) for name, df in dfs.items()}


@pytest.fixture(scope="module")
def simple_plans(dfs):
    """Simple plans: each node once (for counting), codegen stages
    marked with ``*(id)``."""
    return {name: plan_text(df, mode="simple") for name, df in dfs.items()}


def test_no_array_or_map_output_columns(dfs):
    """Scalar-output pin, registry-wide: driver-side correctness
    harnesses canonicalize result cells with a raw ``pandas
    sort_values``, which throws ``TypeError: unhashable type: 'list'``
    on list-typed cells - round 7's one gate red was exactly this
    (``embedding_kmeans_cells``'s ``array<bigint>`` centroid). Every
    registered query must therefore emit only scalar columns: arrays
    are ``array_join``-ed to canonical strings or posexploded to one
    row per element BEFORE the result boundary. This makes the whole
    local-oracle pool safe to promote into the driver window."""
    from pyspark.sql.types import ArrayType, MapType

    offenders = [
        f"{name}.{f.name}: {f.dataType.simpleString()}"
        for name, df in dfs.items()
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert offenders == [], offenders


def test_filter_pushed_to_scan(plans):
    p = plans["pricing_summary"]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_column_pruning_reaches_scan(plans):
    # pricing_summary touches 5 lineitem columns; the scan must not read
    # the wide rest of the table
    p = plans["pricing_summary"]
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dimension_joins_broadcast(plans):
    for name in ["revenue_by_nation", "order_enrichment", "patid1_upgrade"]:
        assert "BroadcastHashJoin" in plans[name], name
    # order_enrichment joins customer WITHOUT a hint (customer scales
    # with sf - a forced broadcast OOMs at 100 TB); at bench sf the
    # size-based planner still picks broadcast, asserted above
    assert plans["order_enrichment"].count("SortMergeJoin") == 0


def _hint_count(spark, name):
    from pyspark_data_engineering_assignment_spark.plans import QUERIES

    df = QUERIES[name].fn(spark, SF)
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


def test_no_broadcast_hint_on_scaling_tables(spark, plans):
    """customer/part/supplier row counts are proportional to sf (customer
    is ~15B rows at 100 TB) - a broadcast HINT overrides Spark's size
    check with no AQE safety net, so those tables must carry NO hint.
    Pin each query's hint count to exactly its bounded inputs (nation=25,
    region=5, scalar aggregates), and pin that the size-based planner
    still broadcasts the small sides at bench sf (BroadcastHashJoin in
    the physical plan) - size-adaptive, not size-assuming."""
    expected_hints = {
        "order_enrichment": 0,
        "brand_type_revenue": 0,
        "nation_pair_trade_volume": 2,  # the two nation aliases
        "big_quantity_orders": 0,
        "sole_failing_suppliers": 0,
        "small_quantity_part_revenue": 0,
        "top_revenue_suppliers": 1,  # the 1-row scalar-max aggregate
        # round-15: still only nation x2 + region, but the two-level
        # distinct split references the flat-join subtree three times,
        # so the analyzed plan prints each hint thrice (3 x 3 = 9) -
        # same class as the nations_above_revenue_share r14 note
        "flat_sales_export": 9,
        "nation_region_revenue_share": 2,  # nation + region
    }
    for name, n_hints in expected_hints.items():
        assert _hint_count(spark, name) == n_hints, name
        assert "BroadcastHashJoin" in plans[name], name


def test_semi_and_anti_joins_stay_semi_anti(plans):
    assert "LeftSemi" in plans["suppliers_with_shipments"]
    assert "LeftAnti" in plans["customers_without_big_orders"]
    # anti-join pushes its selectivity filter into the orders scan
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in (
        plans["customers_without_big_orders"]
    )


def test_single_shuffle_aggregations(simple_plans):
    # partial+final hash agg: exactly one Exchange in the plan
    for name in ["events_hourly", "dedup_exact", "lang_stats", "patid2_child"]:
        assert simple_plans[name].count("Exchange") == 1, name
        assert simple_plans[name].count("HashAggregate") >= 2, name  # partial+final


# Registry-wide SHUFFLE BUDGET: the number of shuffle Exchange nodes
# (hash / range / SinglePartition — BroadcastExchange excluded) in every
# registered query's simple-mode plan at sf0.001, pinned exactly.
# The counts come from the lineage_plans protocol — clear the session
# cache, then rebuild every query in registry order — because cache
# substitution is baked in at DataFrame ANALYSIS time: a frame persisted
# by an earlier suite becomes an InMemoryRelation inside a later-built
# plan, survives clearCache(), and prints its cached child plan inline
# per reference, inflating counts with session history (minhash counted
# 13 from an empty-cache start vs 33 when built mid-suite). Starting
# from a guaranteed-empty cache in a fixed build order makes the counts
# a pure function of the query definitions (frames persisted by earlier
# queries IN THE SAME loop are part of those definitions and are
# deliberately included). Every shuffle is the unit of cost that grows
# with data at 100 TB; a refactor that silently adds one to any query
# must trip this and force a conscious budget update. High entries are
# deliberate, documented shapes: event_reach_setops_kmv 20 (pairwise
# KMV set algebra, bounded by max_groups), minhash_lsh_neardup 13
# (audit-mode shingle->signature->band->verify pipeline),
# user_conversion_funnel 9 (per-stage join+min-agg chain on a shrinking
# keyset), referential_integrity_report 8 (one per FK edge),
# patid1_upgrade 10 (histogram threshold + qualified-pairs assembly;
# see the per-entry comments below).
import re

_EXCHANGE_NODE = re.compile(
    r"^[\s+:*-]*Exchange "
    r"(hashpartitioning|rangepartitioning|SinglePartition)",
    re.M,
)


def _shuffle_exchange_count(plan: str) -> int:
    return len(_EXCHANGE_NODE.findall(plan))


EXCHANGE_BUDGET = {
    "activity_dow_hour_heatmap": 1,
    "ann_cosine_topk": 1,
    "ann_int8_topk": 1,
    "ann_ivf_probe_topk": 2,
    "ann_ivf_topk": 1,
    "ann_lsh_topk": 1,
    "big_quantity_orders": 1,
    "brand_type_revenue": 1,
    "chunk_dedup_stats": 2,
    "conversion_lag_stats": 2,
    "corpus_curation_funnel": 2,
    "corpus_mix_weights": 1,
    "customer_order_distribution": 2,
    "customer_order_gaps": 1,
    "customers_without_big_orders": 0,
    "dedup_canonical": 1,
    "dedup_clusters": 0,
    "dedup_exact": 1,
    "dedup_exact_nfc": 1,
    "dedup_prefix_groups": 1,
    "distinct_supplier_flags": 1,
    "doc_boilerplate_shingles": 2,
    "doc_bpe_token_stats": 0,
    "doc_chunk_overlap": 0,
    "doc_contamination_screen": 2,
    "doc_incremental_dedup": 2,
    "doc_language_id": 0,
    "doc_length_batching": 1,
    "doc_prefix_editdist_pairs": 4,
    "doc_quality_features": 0,
    "doc_repetition_stats": 0,
    "doc_sequence_packing": 1,
    "doc_split_leakage_safe": 2,
    "doc_split_stratified": 1,
    "doc_stratified_take": 1,
    "doc_term_positions": 1,
    "doc_tfidf_topterms": 4,
    "doc_token_scrub": 1,
    "doc_unigram_surprisal": 3,
    "doc_winnowing": 0,
    "embedding_kmeans_cells": 3,
    "embedding_neardup": 2,
    "embedding_norms": 0,
    "embedding_quantization_error": 1,
    "event_burst_compaction": 1,
    "event_class_totals_salted": 3,
    "event_reach_setops_kmv": 20,
    "event_transition_matrix": 2,
    "events_grouping_sets": 1,
    "events_hourly": 1,
    # round-13: spine bounds inlined as literals (advice fix) - the
    # bounds broadcast cross join and its exchange disappeared
    "events_hourly_gapfill": 2,
    "events_props_json": 2,
    "events_props_variant": 2,
    "events_quality_report": 2,
    "events_sessions": 1,
    "events_sliding_2h": 1,
    "events_value_brackets": 1,
    "events_zorder_keys": 1,
    # 2 -> 5 (round-15): the Expand(x3) exact-distinct aggregate became
    # three aggregation branches over the same flat join (plain stats +
    # two distinct pre-aggregates) joined on the 125-row group key -
    # the printed count gains the branches' partial->final exchanges,
    # but no branch materializes fact rows 3x anymore (sf10 interleaved
    # min-of-3: 34.4 -> 21.2s, plans/r15/AB_flat_sales_twolevel.json)
    "flat_sales_export": 5,
    "label_centroid_dims": 1,
    "label_standardized_embeddings": 1,
    "lang_stats": 1,
    "media_binary_stats": 0,
    "media_block_dedup": 2,
    "media_byte_histogram": 0,
    "media_frame_sample": 0,
    "minhash_lsh_neardup": 13,
    "nation_pair_trade_volume": 1,
    "nation_region_revenue_share": 2,
    # 3 -> 2 (optimization round): global total now a whole-frame window
    # over the 25-row aggregate, dropping the crossJoin sub-plan's
    # duplicated rev exchange (OPTIMIZATION_r14.md).
    "nations_above_revenue_share": 2,
    "ngram_jaccard_neardup_capped": 4,
    "null_safe_category_join": 1,
    "order_enrichment": 0,
    "orders_status_priority_cube": 1,
    # round-14 plan change: active_merchants derived from the pair
    # aggregate - the raw-row groupBy(merchant_id) (a second full-width
    # shuffle of ~60M tx rows at sf10) became a re-aggregation of the
    # already-aggregated distinct pairs. The PRINTED count rises 7 -> 8
    # because the shared pair_counts subtree (one exchange) prints once
    # per consumer (hot_pairs + active_merchants); the RUNTIME ground
    # truth is the interleaved min-of-3 A/B: sf10 26.3s vs 34.7s
    # baseline (-24%), parity at sf0.1/sf1 (SCALING.md round 14).
    # 8 -> 9 (round 14): the percentile threshold moved from a full-row
    # percent_rank sort-window to the (group, value, count) histogram
    # (relational.py) - the printed count gains the histogram's
    # partial->final agg exchange, but that exchange carries distinct
    # (merchant, category, weight) combos instead of sorting every tx
    # row (isolated-subtree A/B at sf10: -13.5%, OPTIMIZATION_r14.md).
    # 9 -> 10 (round 15): the assembly inverted to the qualified-pairs
    # pre-filter (registry.py patid1_upgrade comment): the PRINTED plan
    # gains the probe-side (customer, merchant) exchange for the
    # semi join against qualified pairs, but LOSES the full-width
    # low_weight DISTINCT exchange and the by-merchant re-exchange at
    # runtime - AQE broadcasts the qualified side while it fits, and
    # the final distinct is candidate-sized. Interleaved min-of-3 at
    # sf10: 43.4 -> 34.3s (plans/r15/AB_patid1_v1.json).
    "patid1_upgrade": 10,
    "patid2_child": 1,
    "patid3_dei": 2,
    "pricing_summary": 1,
    "priority_order_counts_sql": 1,
    "priority_orders_union": 1,
    "purchase_asof_click": 2,
    "purchase_attribution_linear": 2,
    "referential_integrity_report": 8,
    "returnflag_melt_roundtrip": 2,
    "returnflag_pivot": 2,
    "revenue_by_nation": 1,
    "rich_inactive_customers": 2,
    "rollup_lineitem_status": 1,
    "shipmode_priority_matrix": 1,
    "simhash_neardup": 5,
    "simhash_neardup_scaled": 5,
    "small_quantity_part_revenue": 2,
    # 4 -> 3 (optimization round): EXISTS/NOT-EXISTS semi+anti joins
    # collapsed into the per-order aggregate (registry.py), dropping
    # one pair-frame exchange (sf10 A/B: -20%, OPTIMIZATION_r14.md).
    "sole_failing_suppliers": 3,
    "suppliers_with_shipments": 0,
    "text_quality": 0,
    "token_frequency": 2,
    "top_orders_per_customer": 1,
    "top_revenue_suppliers": 3,
    "urgent_and_high_value": 1,
    "urgent_never_big": 1,
    "user_cdc_state": 1,
    "user_cohort_retention": 2,
    "user_conversion_funnel": 9,
    "user_event_setops": 3,
    "user_heavy_hitters_cms": 3,
    "user_moving_spend": 1,
    "user_reach_hll": 2,
    "user_reach_kmv": 4,
    "user_running_spend": 1,
    "user_spend_anomalies": 1,
    "user_spend_drawdown": 1,
    "user_status_scd2": 1,
    "user_top_spend_days_ties": 2,
    "user_trailing_hour_spend": 1,
    "user_value_ewma": 1,
    # 1 -> 2 (optimization round): ntile full-row sort (5-partition
    # ceiling) -> histogram + bucket-overlap; the extra exchange is the
    # histogram partial->final agg carrying distinct (type, cents) rows
    # only (sf10 A/B: -89%, OPTIMIZATION_r14.md).
    "value_decile_profile": 2,
    "value_drift_bins": 2,
    "value_histogram": 1,
    "value_hour_regression_stats": 1,
    "value_quantiles_approx": 1,
    "value_quantiles_by_type": 1,
    # 2 -> 4 (optimization round): the cume_dist full-row sort (a
    # 5-partition parallelism ceiling) became histogram passes - the
    # printed count gains the histogram agg exchanges (one per printed
    # reference of the shared subtree), but every exchange now carries
    # distinct (type, cents) rows, not events (sf10 A/B: -83%,
    # OPTIMIZATION_r14.md).
    "value_winsorized_stats": 4,
    "widget_parts_by_brand": 1,
}


@pytest.fixture(scope="module")
def lineage_plans(simple_plans):
    """Simple plans from a clean-cache registry build. The clean-cache
    protocol (clear FIRST, build in registry order - an
    InMemoryRelation baked into a plan prints inline PER REFERENCE, so
    node counts of a dirty-cache build vary with whichever suites
    persisted frames first; minhash counted 13 standalone vs 33
    mid-suite) now lives in the shared ``dfs`` fixture, so this is the
    same artifact without a second full-registry rebuild."""
    return simple_plans


def test_registry_exchange_budget(lineage_plans):
    """Every registered query's shuffle count matches its pinned budget
    exactly — both directions matter: an unexplained extra exchange is
    a scale regression, an unexplained missing one usually means a
    join/agg collapsed into something that won't distribute."""
    assert set(lineage_plans) == set(EXCHANGE_BUDGET), (
        "registry changed: regenerate EXCHANGE_BUDGET for "
        f"added/removed {set(lineage_plans) ^ set(EXCHANGE_BUDGET)}"
    )
    actual = {
        name: _shuffle_exchange_count(p) for name, p in lineage_plans.items()
    }
    off = {
        name: (n, EXCHANGE_BUDGET[name])
        for name, n in actual.items()
        if n != EXCHANGE_BUDGET[name]
    }
    assert not off, f"(actual, budget) mismatches: {off}"


def test_no_row_at_a_time_python_anywhere(plans):
    for name, p in plans.items():
        assert "BatchEvalPython" not in p, f"{name} uses a row-at-a-time Python UDF"


def test_python_only_as_arrow_batches(plans):
    # the multimodal path is the one place Python runs - as mapInPandas
    assert "MapInPandas" in plans["media_byte_histogram"]


def test_whole_stage_codegen_covers_relational_core(spark):
    # the hot relational queries must run inside codegen stages. AQE only
    # materializes codegen in the FINAL plan, so execute first (tiny sf),
    # then inspect the executed plan for "*(id)" codegen markers.
    for name in ["pricing_summary", "revenue_by_nation", "events_hourly"]:
        df = QUERIES[name].fn(spark, SF)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, name
        assert "*(" in final, f"{name}: no WholeStageCodegen stage in final plan"


def test_lsh_self_joins_stay_shuffled(spark):
    """The three LSH-family self-joins carry shuffle_hash hints so the
    two sides canonicalize to ONE exchange (computed once) and the plan
    shape survives 100 TB, where the banded corpus could never broadcast.
    Pin it: a Spark-version or AQE-heuristic change silently reverting to
    BroadcastHashJoin would recompute the whole signature pipeline for
    the build side AND ship a corpus-sized frame to every executor."""
    from pyspark_data_engineering_assignment_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_near_duplicates,
    )
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        embedding_near_duplicates,
    )
    from pyspark_data_engineering_assignment_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    for label, df in [
        ("minhash_lsh_candidates", minhash_lsh_candidates(docs)),
        ("simhash_near_duplicates", simhash_near_duplicates(docs)),
        ("embedding_near_duplicates", embedding_near_duplicates(emb)),
    ]:
        p = plan_text(df, mode="simple")
        assert "ShuffledHashJoin" in p, f"{label}: band self-join not shuffled"
        assert "BroadcastHashJoin" not in p, f"{label}: self-join reverted to broadcast"
        assert "SortMergeJoin" not in p, f"{label}: self-join fell back to sort-merge"


def test_minhash_band_join_reuses_one_exchange(spark):
    """Runtime half of the self-join pin: AQE must materialize the two
    identical band-frame sides as ONE exchange + a ReusedExchange, not
    compute the signature pipeline twice. (Static plans show two
    exchanges; reuse is decided at runtime, so execute then inspect.)"""
    from pyspark_data_engineering_assignment_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from pyspark_data_engineering_assignment_spark.sources.tables import load_table

    df = minhash_lsh_candidates(load_table(spark, SF, "documents"))
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, "band self-join computes both sides separately"
    assert "BroadcastHashJoin" not in final


def test_oracle_queries_fit_driver_sample_window():
    """The driver's correctness gate samples the FIRST 50 registry
    entries. Every oracle-bearing query must land in that window or it
    silently loses its strong rows+schema+hash check (this bit round 3:
    embedding_norms and label_centroid_dims registered at positions 50-51
    and got no correctness row). Pin the two invariants that make the
    window safe: oracle-bearing count <= 50, and oracle-bearing entries
    all precede rows-only ones in registration order."""
    names = list(QUERIES)
    oracle_flags = [QUERIES[n].oracle is not None for n in names]
    n_oracle = sum(oracle_flags)
    assert n_oracle <= 50, (
        f"{n_oracle} oracle-bearing queries > driver sample size 50; "
        "move a redundant entry's SQL to local_oracle at its @register"
    )
    first_rows_only = oracle_flags.index(False) if False in oracle_flags else len(names)
    stragglers = [
        n for n, has in zip(names[first_rows_only:], oracle_flags[first_rows_only:]) if has
    ]
    assert not stragglers, (
        f"oracle-bearing queries registered after rows-only ones: {stragglers}"
    )


def test_gapfill_spine_joins_broadcast(plans):
    """events_hourly_gapfill: the generated spine must assemble via
    broadcast joins (the bounds aggregate is 1 row, the series list
    tiny) and fill via a broadcast/hash join - a SortMergeJoin here
    would mean the spine got shuffled like a fact table."""
    p = plans["events_hourly_gapfill"]
    assert "SortMergeJoin" not in p
    assert p.count("Window") >= 1  # the LOCF pass


def test_split_assignment_is_shuffle_free(spark):
    """doc_split_stratified's assignment is a pure per-row map: exactly
    one exchange may appear (the final stats groupBy), none before it."""
    p = plan_text(QUERIES["doc_split_stratified"].fn(spark, SF))
    assert p.count("Exchange") <= 2  # partial->final agg exchange (+AQE read)
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_stratified_take_uses_window_group_limit(spark):
    """doc_stratified_take: the per-stratum top-n must run through
    WindowGroupLimit (rank filter pushed below the sort) so no stratum
    is ever fully sorted at scale."""
    p = plan_text(QUERIES["doc_stratified_take"].fn(spark, SF))
    assert "WindowGroupLimit" in p


def test_incremental_dedup_keeps_anti_join(spark):
    """doc_incremental_dedup: the corpus-index probe must stay a
    LeftAnti join (no inner-join-then-filter blow-up)."""
    p = plan_text(QUERIES["doc_incremental_dedup"].fn(spark, SF))
    assert "LeftAnti" in p


def test_q22_anti_join_and_pushed_priority_filter(plans):
    """rich_inactive_customers: the anti join must stay LeftAnti with
    the priority filter pushed into the orders scan, and the 1-row
    stats aggregate must broadcast (nested-loop over one row), never
    shuffle the customer side against it."""
    p = plans["rich_inactive_customers"]
    assert "LeftAnti" in p
    assert "EqualTo(o_orderpriority,1-URGENT)" in p
    assert "BroadcastNestedLoopJoin" in p


def test_q21_per_order_aggregate_shape(plans):
    """sole_failing_suppliers (round-14 rewrite): the EXISTS/NOT-EXISTS
    pair is a per-order aggregate now - no semi/anti re-shuffle of the
    pair frame may reappear, no inner-join blow-up then distinct, and
    the supplier dim join stays a hash join (broadcast at tiny sf)."""
    p = plans["sole_failing_suppliers"]
    assert "LeftSemi" not in p
    assert "LeftAnti" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q17_reuses_aggregate_partitioning(simple_plans, plans):
    """small_quantity_part_revenue: the per-part aggregate must not
    re-shuffle after its own exchange. Shuffle budget: the aggregate's
    l_partkey exchange + (at scale) the lineitem side's l_partkey
    exchange + the final brand agg = 3 hash exchanges max; at tiny SF
    the aggregate side broadcasts instead (BroadcastExchange rows are
    not shuffles and don't count). The part dim must broadcast."""
    hash_exchanges = simple_plans["small_quantity_part_revenue"].count(
        "Exchange hashpartitioning"
    )
    assert hash_exchanges <= 3, simple_plans["small_quantity_part_revenue"]
    assert "BroadcastHashJoin" in plans["small_quantity_part_revenue"]


def test_packing_single_window_partitioning(simple_plans):
    """doc_sequence_packing: one hash partitioning on shard feeds the
    running-sum window; the follow-up (shard, pack_id) aggregate adds at
    most one more exchange. Anything beyond 2 means the window frame or
    the aggregate stopped reusing the layout."""
    p = simple_plans["doc_sequence_packing"]
    assert p.count("Exchange") <= 2, p
    assert "RunningWindowFunction" in p or "Window" in p


def test_funnel_reuses_user_partitioning(simple_plans):
    """user_conversion_funnel: three chained min-after stages, all keyed
    on user_id. The joins between consecutive stages must be hash joins
    on the key (broadcast or shuffled), never nested-loop; and no
    per-key array aggregate (collect_list) may appear - per-key state is
    len(stages), not event count."""
    p = simple_plans["user_conversion_funnel"]
    assert "collect_list" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_frame_sample_prunes_payload_source(plans):
    """media_frame_sample: the documents scan must read only what the
    payload derivation needs (doc_id, text) - not lang/source/n_chars."""
    read_schema = [
        ln
        for ln in plans["media_frame_sample"].splitlines()
        if "ReadSchema" in ln
    ][0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_int8_topk_no_python_and_broadcast_queries(plans):
    """ann_int8_topk: quantization and scoring are pure expressions (no
    Python anywhere) and the 10-row query side broadcasts."""
    p = plans["ann_int8_topk"]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Broadcast" in p


def test_chunker_is_shuffle_free(simple_plans):
    """doc_chunk_overlap: the overlap chunker is the map-side of the
    chunk pipeline - pure project/explode over the scan, ZERO exchanges
    (spread-scan round-robin aside, which is not a hash shuffle)."""
    p = simple_plans["doc_chunk_overlap"]
    assert "Exchange hashpartitioning" not in p, p
    assert "Generate explode" in p


def test_tfidf_idf_join_broadcasts(plans, simple_plans):
    """doc_tfidf_topterms: the vocabulary-sized df table must broadcast
    into the tf side (sub-linear in corpus size), and the per-doc top-3
    must be a window-group-limit, not a full sort+filter."""
    assert "BroadcastHashJoin" in plans["doc_tfidf_topterms"]
    assert "WindowGroupLimit" in simple_plans["doc_tfidf_topterms"]


def test_length_batching_window_is_partitioned(plans):
    """doc_length_batching: the batching window must partition by
    source - a GLOBAL row_number (empty partition spec) is the
    single-reducer trap at 100 TB."""
    p = plans["doc_length_batching"]
    assert "row_number" in p
    # Spark renders an empty partition spec as 'windowspecdefinition(...'
    # with no partition columns before the ORDER BY; pin the partitioned
    # form instead: the spec must name source.
    spec_lines = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
    assert spec_lines and all("source" in ln for ln in spec_lines), p


def test_q13_join_exchange_feeds_count_agg(simple_plans):
    """customer_order_distribution: the c_custkey aggregate must reuse
    the join's exchange (or broadcast at tiny SF); budget is the join
    exchange(s) + the few-dozen-row histogram re-agg."""
    p = simple_plans["customer_order_distribution"]
    assert p.count("Exchange hashpartitioning") <= 3, p
    assert "CartesianProduct" not in p


def test_q15_scalar_max_broadcasts(plans):
    """top_revenue_suppliers: the single-row max side and the supplier
    dim must both broadcast - the revenue view is computed once and
    never re-shuffled for the argmax filter."""
    p = plans["top_revenue_suppliers"]
    assert p.count("BroadcastHashJoin") >= 2 or (
        "BroadcastHashJoin" in p and "BroadcastNestedLoopJoin" in p
    ), p


def test_sql_exists_becomes_semi_join(plans):
    """priority_order_counts_sql: the SQL front end's correlated EXISTS
    must compile to a left-semi join (never a per-row subquery), with
    the date filter pushed to the orders scan."""
    p = plans["priority_order_counts_sql"]
    assert "LeftSemi" in p, p
    assert "PushedFilters: [IsNotNull(o_orderdate)" in p or (
        "o_orderdate" in [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    )


def test_sql_front_end_leaves_no_session_view(spark):
    """priority_order_counts_sql binds its tables as named DataFrame
    arguments: building it leaves the session's temp views as they
    were, so concurrent builds cannot see each other's tables."""
    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    QUERIES["priority_order_counts_sql"].fn(spark, SF)
    assert views() == before


def test_scd2_windows_share_one_exchange(simple_plans):
    """user_status_scd2: both window passes key on user_id - the second
    must reuse the first's exchange (one hash partitioning total; a
    second sort is fine, a second shuffle is not)."""
    p = simple_plans["user_status_scd2"]
    assert p.count("Exchange hashpartitioning") == 1, p


@pytest.mark.slow
def test_registry_hint_budget(spark, dfs):
    """Registry-wide join-hint budget: EVERY query's analyzed-plan
    ResolvedHint count is pinned. A hint overrides the planner's size
    check (round 7 removed nine forced broadcasts of sf-scaling
    tables that would OOM at 100 TB), so adding one anywhere must be a
    REVIEWED change - bump this table consciously, with the bounded-
    cardinality argument in the query's docstring. Queries not listed
    pin to zero. The allowed hints are broadcast of fixed-cardinality
    inputs (nation/region, scalar/centroid/threshold/spine aggregates,
    bounded eval slices) and shuffle_hash on LSH-family self-joins."""
    from pyspark_data_engineering_assignment_spark.plans import QUERIES

    expected = {
        "ann_cosine_topk": 1,
        "ann_int8_topk": 1,
        "ann_ivf_probe_topk": 1,
        "ann_ivf_topk": 1,
        "ann_lsh_topk": 1,
        "doc_contamination_screen": 1,
        "doc_prefix_editdist_pairs": 3,
        "doc_tfidf_topterms": 1,
        "doc_unigram_surprisal": 2,
        "embedding_kmeans_cells": 1,
        "embedding_neardup": 1,
        "event_reach_setops_kmv": 2,
        # round-13: literal-bounds spine needs no broadcast hint
        "events_hourly_gapfill": 0,
        # round-15: 3 hints x3 printed flat-join references (two-level
        # distinct split; see registry.py flat_sales_export comment)
        "flat_sales_export": 9,
        "minhash_lsh_neardup": 3,
        "nation_pair_trade_volume": 2,
        "nation_region_revenue_share": 2,
        # round-14: broadcast(total) hint gone with the crossJoin form
        # (measured: the remaining hint is broadcast(nation); the old 3
        # counted the duplicated rev sub-plan's nation hint twice)
        "nations_above_revenue_share": 1,
        "ngram_jaccard_neardup_capped": 3,
        "null_safe_category_join": 1,
        "revenue_by_nation": 2,
        "rich_inactive_customers": 1,
        "simhash_neardup": 1,
        "simhash_neardup_scaled": 1,
        "top_revenue_suppliers": 1,
        "user_heavy_hitters_cms": 1,
        "value_drift_bins": 1,
        "value_winsorized_stats": 1,
    }
    wrong = {}
    # counts read from the shared dfs build: ResolvedHint lives in the
    # ANALYZED plan, which is produced before cache substitution, so
    # the count is independent of session cache state and a rebuild
    # here would only repeat the registry's eager build work
    for name in QUERIES:
        got = (
            dfs[name]
            ._jdf.queryExecution()
            .analyzed()
            .toString()
            .count("ResolvedHint")
        )
        if got != expected.get(name, 0):
            wrong[name] = (got, expected.get(name, 0))
    assert not wrong, f"hint count drift (query: (got, pinned)): {wrong}"


def test_flat_export_broadcasts_all_dims(plans, simple_plans):
    """flat_sales_export: at bench sf ALL 6 dimension joins still run as
    broadcasts - but only nation/region get there by hint; customer,
    supplier and part are chosen by the size-based planner (no hint, see
    test_no_broadcast_hint_on_scaling_tables), so at 100 TB they degrade
    gracefully to shuffled joins instead of OOMing. Hash exchanges stay
    bounded (fact-fact join sides + final aggregate)."""
    assert plans["flat_sales_export"].count("BroadcastHashJoin") >= 6
    p = simple_plans["flat_sales_export"]
    # round-15 two-level distinct split: <= 5 (three branch aggregates
    # + the 125-row assembly joins; was <= 3 with the Expand form)
    assert p.count("Exchange hashpartitioning") <= 5, p


def test_ri_report_keeps_anti_joins(plans):
    """referential_integrity_report: all four FK edges stay LeftAnti
    probes (never a full outer + null filter)."""
    assert plans["referential_integrity_report"].count("LeftAnti") >= 4


def test_cdc_state_single_window_exchange(simple_plans):
    """user_cdc_state: last-writer-wins is ONE window shuffle on
    user_id; WindowGroupLimit should bound the per-key sort."""
    p = simple_plans["user_cdc_state"]
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "WindowGroupLimit" in p or "Window" in p


def test_ivf_probe_scan_is_dynamically_pruned(plans):
    """ann_ivf_probe_topk: the persisted index is cell-partitioned
    parquet and the probe joins on cell, so Spark plants a dynamic-
    partition-pruning filter on the index scan - a probe of n_probe
    cells READS only those cells' files. At 100 TB this is the
    difference between scanning 4/16ths of the corpus and all of it."""
    p = plans["ann_ivf_probe_topk"]
    assert "dynamicpruning" in p.lower(), p
