"""Query registry: every operator from SURVEY.md §2, runnable on the
driver-provided tables, each paired with an ANSI-SQL DuckDB oracle.

Conventions that make the cross-engine value-hash deterministic:

  * **Never sum raw doubles.** IEEE addition is order-dependent and Spark
    and DuckDB aggregate in different orders. Element-wise double math is
    deterministic, so compute per-row, ``CAST`` to DECIMAL(18,2) per row,
    then sum decimals (exact, associative) and cast the result back to
    DECIMAL(18,2) in BOTH engines.
  * **No division in filters.** ``avg < t`` becomes ``sum < t * count``.
  * **Exact rank-based percentiles** (``percent_rank``), not interpolated
    or sketched quantiles, where an oracle exists.
  * **Total ordering for any top-k** (tie-break on a key column).
  * **Alias every computed column identically** in Spark and SQL.

The reference's pattern queries (survey §2.12) are re-expressed over the
driver tables: transactions := events (customer:=user_id,
merchant:=event_type, amount:=value) for the state-shaped patterns, and
lineitem x orders (customer:=o_custkey, merchant:=l_suppkey,
weight:=l_discount, category:=l_returnflag) for PatId1's dimension-join
shape. Thresholds are scaled to the synthetic data; the *shape* of each
plan (filters, joins, aggregates, pivot, percentile-threshold semi-joins)
is the reference's.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_data_engineering_assignment_spark.operators.relational import (
    exact_percentile_threshold,
    top_k_per_group,
)
from pyspark_data_engineering_assignment_spark.sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    """One registered query: a Spark plan + its DuckDB oracle (None for
    ops whose semantics SQL can't express - driver then does a weaker
    rows-only check).

    ``local_oracle`` holds the same strict DuckDB SQL for queries NOT
    exported to the driver's oracle gate: the gate samples only the first
    50 registry entries, so when the oracle-bearing set outgrew 50 the
    most operator-redundant queries moved their SQL here. They keep the
    full rows+schema+value-hash check in tests/test_oracle_parity.py;
    only the driver-side slot is ceded to a non-redundant query.

    ``fn`` must be safe to call from several threads at once on one
    session (the parity gates build queries on a thread pool): it
    shares no mutable session state - no fixed-name temp views, no conf
    it sets and later restores - and any process-level cache it reaches
    is thread-safe and keyed by session."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    local_oracle: str | None = None


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, doc: str = "", local_oracle: str | None = None
):
    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(
            fn=fn, oracle=oracle, doc=doc, local_oracle=local_oracle
        )
        return fn

    return wrap


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """CPU-spread table load (sources.tables.spread_cpu_scan): for plans
    whose per-row expression cost dwarfs one small exchange - a no-op on
    any table big enough to split its own scan. Opt-in per query, only
    where an interleaved warm A/B at sf0.1 measured a win; groupBy/join-
    rooted plans redistribute anyway and regress under it."""
    return load_table(spark, sf_dir, name, spread_cpu=True)


DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# Reference pattern queries (survey §2.12) on driver tables
# ---------------------------------------------------------------------------

@register(
    "patid2_child",
    """
    SELECT user_id AS customer_id,
           event_type AS merchant_id,
           count(*) AS transaction_count,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_amount_cents
    FROM events
    GROUP BY 1, 2
    HAVING count(*) >= 3
       AND sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT)) < 5000 * count(*)
    """,
    doc="PatId2 'CHILD' shape (Mechanism Y.py:243): keyed count/sum state, "
    "count>=T and avg<T2 as exact integer-cents sum < T2*count. Money is "
    "fixed-pointed to BIGINT cents per row BEFORE summing so the output "
    "type is hash-stable across engines (DuckDB widens sum(DECIMAL) to "
    "DECIMAL(38,x), Spark to decimal(28,x)).",
)
def patid2_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    agg = events.groupBy(
        F.col("user_id").alias("customer_id"),
        F.col("event_type").alias("merchant_id"),
    ).agg(
        F.count("*").alias("transaction_count"),
        F.sum(cents).cast("long").alias("total_amount_cents"),
    )
    return agg.filter(
        (F.col("transaction_count") >= 3)
        & (F.col("total_amount_cents") < F.lit(5000) * F.col("transaction_count"))
    )


@register(
    "patid3_dei",
    """
    SELECT user_id AS merchant_id,
           count(*) FILTER (WHERE event_type = 'purchase') AS female_transaction_count,
           count(*) FILTER (WHERE event_type = 'click') AS male_transaction_count
    FROM events
    GROUP BY 1
    HAVING count(*) FILTER (WHERE event_type = 'purchase')
           < count(*) FILTER (WHERE event_type = 'click')
       AND count(*) FILTER (WHERE event_type = 'purchase') > 2
    """,
    doc="PatId3 'DEI-NEEDED' shape (Mechanism Y.py:187-190,:244): pivot with "
    "explicit value list, zero-fill, F<M and F>T filter.",
)
def patid3_dei(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    pivoted = (
        events.groupBy(F.col("user_id").alias("merchant_id"))
        .pivot("event_type", ["purchase", "click"])
        .count()
        .na.fill(0, subset=["purchase", "click"])
        .withColumnRenamed("purchase", "female_transaction_count")
        .withColumnRenamed("click", "male_transaction_count")
    )
    return pivoted.filter(
        (F.col("female_transaction_count") < F.col("male_transaction_count"))
        & (F.col("female_transaction_count") > 2)
    )


@register(
    "patid1_upgrade",
    """
    WITH tx AS (
        SELECT o.o_custkey AS customer_id, l.l_suppkey AS merchant_id,
               l.l_discount AS weight, l.l_returnflag AS category
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
        SELECT merchant_id, category, weight,
               percent_rank() OVER (PARTITION BY merchant_id, category
                                    ORDER BY weight) AS pr
        FROM tx
    ),
    thresholds AS (
        SELECT merchant_id, category, max(weight) AS p1_weight
        FROM ranked WHERE pr <= 0.05 GROUP BY 1, 2
    ),
    low_weight AS (
        SELECT DISTINCT tx.customer_id, tx.merchant_id
        FROM tx JOIN thresholds t
          ON tx.merchant_id = t.merchant_id AND tx.category = t.category
        WHERE tx.weight < t.p1_weight
    ),
    active_merchants AS (
        SELECT merchant_id FROM tx GROUP BY 1 HAVING count(*) > 5
    ),
    hot_pairs AS (
        SELECT customer_id, merchant_id FROM tx GROUP BY 1, 2 HAVING count(*) > 2
    )
    SELECT lw.customer_id, lw.merchant_id
    FROM low_weight lw
    WHERE lw.merchant_id IN (SELECT merchant_id FROM active_merchants)
      AND EXISTS (SELECT 1 FROM hot_pairs hp
                  WHERE hp.customer_id = lw.customer_id
                    AND hp.merchant_id = lw.merchant_id)
    """,
    doc="PatId1 'UPGRADE' shape (Mechanism Y.py:231-239): active merchants x "
    "hot pairs x batch-local low-weight transactions under an exact "
    "per-(merchant,category) 1st-percentile weight threshold; semi-joins "
    "replace the reference's inner-join-then-project (survey §2.4). "
    "Round-7 scale fix from the sf10 sweep: the thresholds and "
    "active_merchants joins lost their broadcast hints - both are keyed "
    "by merchant_id (l_suppkey), which scales with sf (100k suppliers "
    "at sf10, ~100M at 100 TB), so AQE sizes those joins; measured sf1->"
    "sf10 ratio 13.3x -> 9.3x and sf10 wall time -11%. A persist of the "
    "4x-referenced tx join was ALSO measured and REJECTED (sf10 +30%: "
    "materialization + lost codegen fusion cost more than the recompute "
    "saves). (The STREAMING pattern's thresholds come from the bounded "
    "importance dim and keep their hint - patterns/detect.py.)",
)
def patid1_upgrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    tx = lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_custkey").alias("customer_id"),
        F.col("l_suppkey").alias("merchant_id"),
        F.col("l_discount").alias("weight"),
        F.col("l_returnflag").alias("category"),
    )
    # (A shared (customer, merchant, category, weight) pre-aggregate
    # feeding every consumer was ALSO built and A/B-rejected this round:
    # at sf10 the pair key is nearly row-unique, so the extra exchange
    # compresses nothing and min-of-3 read 32.2s vs 18.5s tx-direct -
    # see OPTIMIZATION_r14.md.)
    thresholds = exact_percentile_threshold(
        tx, ["merchant_id", "category"], "weight", 0.05, out_col="p1_weight"
    )
    # Round-14 plan change (A/B-adjudicated, SCALING.md): active
    # merchants are DERIVED from the pair aggregate - a merchant's total
    # count is the sum of its per-customer pair counts - so the second
    # full-width shuffle of raw tx rows (groupBy merchant over ~60M rows
    # at sf10) becomes a re-aggregation of the already-shuffled distinct
    # pairs. Semantics identical (COUNT(*) per merchant == SUM of pair
    # counts; NULL customer_ids form their own pair group and are
    # summed in).
    pair_counts = tx.groupBy("customer_id", "merchant_id").agg(
        F.count("*").alias("n")
    )
    active_merchants = (
        pair_counts.groupBy("merchant_id")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") > 5)
        .select("merchant_id")
    )
    # Round-15 plan change (guide §8 "decide with small rows" / §3.2;
    # A/B plans/r15/AB_patid1_v1.json): the result is bounded by the
    # QUALIFIED pairs (pair count > 2 AND merchant active), which at
    # scale are rare (pair counts are nearly row-unique at sf10). So
    # the assembly inverts: derive qualified pairs first from the ONE
    # pair aggregate, semi-filter the raw probe rows down to them
    # BEFORE the thresholds join, and take the now-tiny distinct last.
    # Removes vs the r14 shape: the full-width low_weight DISTINCT
    # exchange (~5% of tx rows), the low_weight-by-merchant exchange,
    # and the final (customer, merchant) re-exchange; the probe's semi
    # join broadcasts while qualified fits and degrades to a shuffled
    # semi at scale (no hint - AQE sizes it). Set-equivalence: result =
    # {(c,m): pair hot AND merchant active AND some tx row for (c,m)
    # has weight < p1(m,cat)} in both shapes; NULL-keyed rows can never
    # match an equality semi join in either shape. Interleaved min-of-3:
    # sf10 43.4 -> 34.3s (-21%), sf1 -3%, sf0.1 -4%; parity TRUE x3.
    qualified = (
        pair_counts.filter(F.col("n") > 2)
        .select("customer_id", "merchant_id")
        .join(active_merchants, on="merchant_id", how="left_semi")
    )
    cand = tx.join(
        qualified, on=["customer_id", "merchant_id"], how="left_semi"
    )
    return (
        cand.alias("t")
        .join(
            thresholds.alias("thr"),
            on=[
                F.col("t.merchant_id") == F.col("thr.merchant_id"),
                F.col("t.category") == F.col("thr.category"),
            ],
        )
        .filter(F.col("t.weight") < F.col("thr.p1_weight"))
        .select(F.col("t.customer_id"), F.col("t.merchant_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Relational core (survey §2.3-2.8) on the TPC-H-ish tables
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_qty_e2,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_extendedprice) THEN NULL ELSE l_extendedprice END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_base_price_e2,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_extendedprice) THEN NULL ELSE l_extendedprice END AS DECIMAL(18,2))
                         * (1 - TRY_CAST(CASE WHEN isnan(l_discount) THEN NULL ELSE l_discount END AS DECIMAL(18,2))) * 10000 AS BIGINT))
                AS BIGINT) AS sum_disc_price_e4,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-12-01'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q1 shape: scan filter + multi-aggregate hash agg (A1/A2). "
    "Money is fixed-pointed per row (exact decimal -> integer cents/e4) "
    "before summing, so sums are pure BIGINT arithmetic - order- and "
    "engine-independent, hash-stable.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    qty_e2 = (F.col("l_quantity").try_cast(DEC) * 100).cast("long")
    price_e2 = (F.col("l_extendedprice").try_cast(DEC) * 100).cast("long")
    disc_e4 = (
        F.col("l_extendedprice").try_cast(DEC)
        * (F.lit(1) - F.col("l_discount").try_cast(DEC))
        * 10000
    ).cast("long")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_e2).cast("long").alias("sum_qty_e2"),
            F.sum(price_e2).cast("long").alias("sum_base_price_e2"),
            F.sum(disc_e4).cast("long").alias("sum_disc_price_e4"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l.l_extendedprice) THEN NULL ELSE l.l_extendedprice END AS DECIMAL(18,2))
                         * (1 - TRY_CAST(CASE WHEN isnan(l.l_discount) THEN NULL ELSE l.l_discount END AS DECIMAL(18,2))) * 10000 AS BIGINT))
                AS BIGINT) AS revenue_e4,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
    doc="TPC-H Q5 shape: 5-way join chain with small dims broadcast; "
    "revenue fixed-pointed per row to BIGINT e4 units so the sum is "
    "exact integer arithmetic, hash-stable across engines.",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    revenue_e4 = (
        F.col("l_extendedprice").try_cast(DEC)
        * (F.lit(1) - F.col("l_discount").try_cast(DEC))
        * 10000
    ).cast("long")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(revenue_e4).cast("long").alias("revenue_e4"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "order_enrichment",
    None,
    doc="J1 enrichment shape (Mechanism Y.py:221): left-outer dimension "
    "join with null-safe coalesce (P6/P7).",
    local_oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           coalesce(c.c_name, 'UNKNOWN') AS customer_name,
           coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
           o.o_totalprice
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def order_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o["o_custkey"] == c["c_custkey"], "left").select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.col("c_name"), F.lit("UNKNOWN")).alias("customer_name"),
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
        "o_totalprice",
    )


@register(
    "customers_without_big_orders",
    None,
    doc="Anti join (survey §2.4 extension of J2/J3 semi-join semantics).",
    local_oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
)
def customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "suppliers_with_shipments",
    None,
    doc="Left-semi join - the idiomatic form of the reference's "
    "inner-join-then-project (survey §2.4).",
    local_oracle="""
    SELECT s_suppkey, s_name
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
    """,
)
def suppliers_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    return s.join(l, s["s_suppkey"] == l["l_suppkey"], "left_semi").select(
        "s_suppkey", "s_name"
    )


@register(
    "returnflag_pivot",
    """
    SELECT l_suppkey AS supplier_id,
           count(*) FILTER (WHERE l_returnflag = 'A') AS flag_a,
           count(*) FILTER (WHERE l_returnflag = 'N') AS flag_n,
           count(*) FILTER (WHERE l_returnflag = 'R') AS flag_r
    FROM lineitem
    GROUP BY 1
    """,
    doc="A3 pivot shape (Mechanism Y.py:187-190): explicit pivot value "
    "list (no distinct pre-scan), zero-filled.",
)
def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy(F.col("l_suppkey").alias("supplier_id"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .count()
        .na.fill(0, subset=["A", "N", "R"])
        .withColumnRenamed("A", "flag_a")
        .withColumnRenamed("N", "flag_n")
        .withColumnRenamed("R", "flag_r")
    )


@register(
    "top_orders_per_customer",
    None,
    doc="Window top-k per group with total ordering (tie-break on key).",
    local_oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rank
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders WHERE o_orderkey IS NOT NULL
    ) WHERE rank <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # an order missing its PRIMARY key cannot occupy a deterministic
    # rank slot: at a price tie Spark puts the NULL tie-break first and
    # DuckDB last (round-10 decisive-tie probe), and one NULL in the
    # emitted int key column float-ifies the whole column in any
    # pandas-side harness - excluded on both sides
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    return top_k_per_group(
        o,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
        rank_col="rank",
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank")


@register(
    "priority_orders_union",
    None,
    doc="U1 unionByName fold (Mechanism Y.py:247-258) + distinct (A6).",
    local_oracle="""
    SELECT o_orderkey, 'HIGH_VALUE' AS tag FROM orders WHERE o_totalprice > 400000
    UNION
    SELECT o_orderkey, 'URGENT' AS tag FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def priority_orders_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    high_value = o.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", F.lit("HIGH_VALUE").alias("tag")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("URGENT").alias("tag")
    )
    return high_value.unionByName(urgent).distinct()


@register(
    "distinct_supplier_flags",
    None,
    doc="A6 distinct over a projected pair.",
    local_oracle="SELECT DISTINCT l_suppkey, l_returnflag FROM lineitem",
)
def distinct_supplier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_returnflag").distinct()


@register(
    "rollup_lineitem_status",
    None,
    doc="Rollup hierarchy aggregate (beyond reference surface, survey §2.5 "
    "notes its absence). Quantity fixed-pointed per row -> BIGINT sum.",
    local_oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_items,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_qty_e2
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum((F.col("l_quantity").try_cast(DEC) * 100).cast("long"))
            .cast("long")
            .alias("sum_qty_e2"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty_e2",
        )
    )


@register(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events
    GROUP BY 1, 2
    """,
    doc="Event-time tumbling window aggregate as a batch plan; the "
    "streaming variant (watermark + window) lives in streaming/windows.py. "
    "Hour emitted as a formatted string and value as BIGINT cents - both "
    "hash-stable across engines.",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("value").try_cast(DEC) * 100).cast("long"))
        .cast("long")
        .alias("total_value_cents"),
    )


@register(
    "events_sliding_2h",
    None,
    doc="Sliding event-time window (2h window, 1h slide): each event lands "
    "in two overlapping windows. Spark side is streaming/windows.py's "
    "windowed_event_aggregate run in batch mode; the oracle materializes "
    "both member windows per event and re-aggregates.",
    local_oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM (SELECT event_type, value,
                 unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                         date_trunc('hour', ts)]) AS ws
          FROM events WHERE ts IS NOT NULL)
    GROUP BY 1, 2
    """,
)
def events_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.streaming.windows import (
        windowed_event_aggregate,
    )

    e = _t(spark, sf_dir, "events")
    return windowed_event_aggregate(e, "2 hours", "1 hour", watermark_delay=None)


@register(
    "events_sessions",
    """
    WITH ordered AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    tagged AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           user_id,
           count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM tagged
    GROUP BY user_id, session_id
    """,
    doc="Session windows per user (30 min inactivity gap): Spark side is "
    "F.session_window (streaming/windows.py) in batch mode - window = "
    "[first event, last event + gap); the oracle is the classic "
    "gaps-and-islands rewrite (lag -> new-session flag -> running sum -> "
    "group). Boundary convention (empirically pinned in "
    "tests/test_streaming_windows.py): events EXACTLY gap apart MERGE - "
    "F.session_window extends a session whenever cur - prev <= gap, so "
    "the oracle's split condition must be strict (> INTERVAL 30 MINUTE).",
)
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.streaming.windows import (
        session_windowed_events,
    )

    e = _t(spark, sf_dir, "events")
    return session_windowed_events(e, "30 minutes")


@register(
    "purchase_asof_click",
    """
    WITH clicks AS (
        -- a click with no ts has no as-of position (Spark's window
        -- carry-forward would treat nulls-first as before-everything
        -- while ASOF's ts >= NULL never matches), and a NULL event_id
        -- breaks the max_by tie-dedup differently per engine - both
        -- excluded (round-10 corrupt-events probe)
        SELECT user_id, ts, max(event_id) AS click_id,
               max_by(value, event_id) AS click_value
        FROM events
        WHERE event_type = 'click' AND ts IS NOT NULL
          AND event_id IS NOT NULL
        GROUP BY 1, 2
    ),
    purchases AS (
        SELECT event_id, user_id, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.value, c.click_id, c.click_value
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase') p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join (operators/temporal.py): every purchase gains the "
    "same user's latest click at-or-before it. Spark side is the "
    "union-tag-window composition (one shuffle, no pair blow-up); the "
    "oracle is DuckDB's native ASOF LEFT JOIN. Clicks pre-deduped per "
    "(user, ts) with max_by in both engines so ties are deterministic.",
)
def purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.temporal import as_of_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        # mirror of the oracle's clicks CTE: no ts -> no as-of position,
        # no event_id -> no deterministic tie-dedup (round-10 probe)
        e.filter(
            (F.col("event_type") == "click")
            & F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    return as_of_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["click_id", "click_value"]
    ).select("event_id", "user_id", "value", "click_id", "click_value")


@register(
    "events_value_brackets",
    None,
    doc="Range join (operators/rangejoin.py): events joined to containing "
    "value brackets via interval bucketing (explode intervals to "
    "overlapped buckets -> hash equi-join -> exact boundary filter) "
    "instead of the quadratic theta join the oracle runs. Half-open "
    "[lo, hi) semantics pinned by the boundary buckets.",
    local_oracle="""
    WITH brackets(label, lo, hi) AS (
        VALUES ('micro', 0.0, 25.0), ('small', 25.0, 100.0),
               ('mid', 100.0, 250.0), ('large', 250.0, 1000.0)
    )
    SELECT b.label, count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(e.value) THEN NULL ELSE e.value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events e JOIN brackets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    """,
)
def events_value_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "value")
    brackets = spark.createDataFrame(
        [("micro", 0.0, 25.0), ("small", 25.0, 100.0),
         ("mid", 100.0, 250.0), ("large", 250.0, 1000.0)],
        ["label", "lo", "hi"],
    )
    joined = bucketed_range_join(e, brackets, "value", "lo", "hi", bucket_width=50.0)
    return joined.groupBy("label").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("value").try_cast(DEC) * 100).cast("long"))
        .cast("long")
        .alias("total_value_cents"),
    )


@register(
    "events_props_json",
    None,
    doc="Semi-structured column handling: JSON path extraction from the "
    "events.props string column (get_json_object / json_extract), typed "
    "cast, aggregate. At scale the extraction is a codegen'd per-row "
    "expression; no JSON parse crosses Python.",
    local_oracle="""
    SELECT k_value,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM (SELECT user_id,
                 -- mirrors Spark's try_cast(string -> long): ONLY an
                 -- integer literal casts (DuckDB's TRY_CAST would
                 -- ROUND '2.9' to 3 and plain CAST would THROW on
                 -- 'abc' / out-of-range - round-9 review findings);
                 -- json_valid guards malformed JSON, which THROWS in
                 -- DuckDB's json functions but nulls in Spark
                 -- jss mirrors Spark's cast-side trim exactly: every
                 -- char <= 0x20 (tabs, newlines, even NUL) PLUS DEL
                 -- 0x7F (Java isWhitespace covers neither but the
                 -- cast's UTF8String.trimAll does strip it - round-12
                 -- advice fix), NOTHING above (DuckDB's bare trim also
                 -- strips NBSP/U+3000, which Spark's cast does not -
                 -- round-11 property pin)
                 CASE WHEN jss SIMILAR TO '[+-]?[0-9]+'
                      THEN TRY_CAST(jss AS BIGINT) END AS k_value
          FROM (SELECT user_id,
                       regexp_replace(
                           json_extract_string(
                               CASE WHEN props IS NOT NULL
                                     AND json_valid(props)
                                    THEN props END, '$.k'),
                           '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g')
                           AS jss
                FROM events))
    WHERE k_value IS NOT NULL
    GROUP BY 1
    """,
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # try_cast: the plain cast throws under ANSI when k is valid JSON
    # but not an integer ('abc', 2.9) - one such row killed the query
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        e.select(k.alias("k_value"), "user_id")
        .filter(F.col("k_value").isNotNull())
        .groupBy("k_value")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "brand_type_revenue",
    """
    SELECT p.p_brand, p.p_type,
           count(*) AS n_items,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l.l_extendedprice) THEN NULL ELSE l.l_extendedprice END AS DECIMAL(18,2))
                         * (1 - TRY_CAST(CASE WHEN isnan(l.l_discount) THEN NULL ELSE l.l_discount END AS DECIMAL(18,2))) * 10000 AS BIGINT))
                AS BIGINT) AS revenue_e4,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l.l_quantity) THEN NULL ELSE l.l_quantity END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_qty_e2
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 30
    GROUP BY 1, 2
    """,
    doc="TPC-H Q14/Q17 shape over the part dimension: selective dim "
    "filter pushed to the part scan, fixed-point revenue aggregation. "
    "part scales linearly with sf (unlike nation/region), so it gets "
    "NO broadcast hint - AQE broadcasts it at small sf from measured "
    "size and falls back to a shuffled join at scale. Covers the one "
    "driver table no other query touched.",
)
def brand_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 30)
    revenue_e4 = (
        F.col("l_extendedprice").try_cast(DEC)
        * (F.lit(1) - F.col("l_discount").try_cast(DEC))
        * 10000
    ).cast("long")
    qty_e2 = (F.col("l_quantity").try_cast(DEC) * 100).cast("long")
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(revenue_e4).cast("long").alias("revenue_e4"),
            F.sum(qty_e2).cast("long").alias("sum_qty_e2"),
        )
    )


@register(
    "urgent_and_high_value",
    None,
    doc="INTERSECT set op (absent from the reference, survey §2.6): "
    "customers with at least one urgent order AND at least one "
    "high-value order. Plans as a left-semi join after distinct. "
    "Driver slot ceded round 5 (semi-join + distinct evidence is "
    "redundant with suppliers_with_shipments / distinct_supplier_flags); "
    "strict parity retained via local_oracle.",
    local_oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def urgent_and_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return urgent.intersect(big)


@register(
    "urgent_never_big",
    """
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
    doc="EXCEPT set op (absent from the reference, survey §2.6): "
    "urgent-order customers with no high-value order. Plans as a "
    "left-anti join after distinct.",
)
def urgent_never_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return urgent.subtract(big)


@register(
    "shipmode_priority_matrix",
    None,
    doc="TPC-H Q12 shape: conditional aggregation (CASE/FILTER inside "
    "count) over a fact-fact join with a pushed date filter. Driver "
    "slot ceded round 5 (conditional-agg evidence redundant with "
    "returnflag_pivot / patid3_dei); strict parity via local_oracle.",
    local_oracle="""
    SELECT l_linestatus,
           count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
               AS high_line_count,
           count(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
               AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY 1
    """,
)
def shipmode_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(is_high, 1)).alias("high_line_count"),
            F.count(F.when(~is_high, 1)).alias("low_line_count"),
        )
    )


@register(
    "widget_parts_by_brand",
    None,
    doc="String pattern filters (LIKE / NOT LIKE, survey §2.8 notes the "
    "reference uses no string fns): contains + prefix predicates pushed "
    "as parquet StringContains/StringStartsWith filters. Driver slot "
    "ceded round 5 (pushdown is pinned by plan-hygiene tests; groupBy "
    "evidence redundant with brand_type_revenue); strict parity via "
    "local_oracle.",
    local_oracle="""
    SELECT p_brand, count(*) AS n_parts,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(p_retailprice) THEN NULL ELSE p_retailprice END AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS total_price_cents
    FROM part
    WHERE p_name LIKE '%widget%' AND p_type NOT LIKE 'PROMO%'
    GROUP BY 1
    """,
)
def widget_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").like("%widget%") & ~F.col("p_type").like("PROMO%"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum((F.col("p_retailprice").try_cast(DEC) * 100).cast("long"))
            .cast("long")
            .alias("total_price_cents"),
        )
    )


@register(
    "nations_above_revenue_share",
    """
    WITH rev AS (
        SELECT n.n_name AS nation,
               CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l.l_extendedprice) THEN NULL ELSE l.l_extendedprice END AS DECIMAL(18,2))
                             * (1 - TRY_CAST(CASE WHEN isnan(l.l_discount) THEN NULL ELSE l.l_discount END AS DECIMAL(18,2)))
                             * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    )
    SELECT nation, revenue_e4
    FROM rev
    WHERE revenue_e4 * 100 > (SELECT sum(revenue_e4) FROM rev) * 5
    """,
    doc="Scalar-subquery share filter (TPC-H Q11 shape): nations holding "
    ">5% of global revenue. The global total is a whole-frame window "
    "sum over the 25-row nation aggregate (round-14: replaces "
    "crossJoin(broadcast(agg)), which recomputed the 3-join aggregate "
    "for the total; no driver round-trip either way); share compare "
    "is integer cross-multiplied.",
)
def nations_above_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    revenue_e4 = (
        F.col("l_extendedprice").try_cast(DEC)
        * (F.lit(1) - F.col("l_discount").try_cast(DEC))
        * 10000
    ).cast("long")
    rev = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue_e4).cast("long").alias("revenue_e4"))
    )
    # round-14: the global total is a whole-frame window sum over the
    # 25-row nation aggregate instead of crossJoin(broadcast(agg)) -
    # ONE computation of rev by construction (the crossJoin form
    # recomputed the 3-join aggregate for the total unless AQE stage
    # reuse happened to fire), one fewer sub-plan; single-task window
    # is safe because the frame is dimension-sized (<= 25 rows).
    # Interleaved A/B: sf0.1 -15%, sf1 par (OPTIMIZATION_r14.md).
    total = F.sum("revenue_e4").over(Window.partitionBy())
    return (
        rev.withColumn("_total", total)
        .filter(F.col("revenue_e4") * 100 > F.col("_total") * 5)
        .select("nation", "revenue_e4")
    )


@register(
    "corpus_curation_funnel",
    """
    WITH keepers AS (
        SELECT min(doc_id) AS doc_id
        FROM (SELECT doc_id, md5(translate(trim(text, ' '), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp FROM documents)
        GROUP BY fp
    ),
    gated AS (
        SELECT d.lang, d.source
        FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM keepers)
          AND d.n_chars >= 100
          AND len(string_split(trim(d.text, ' '), ' ')) >= 20
    )
    SELECT lang, source, count(*) AS n_docs
    FROM gated GROUP BY 1, 2
    """,
    doc="The LLM-data curation funnel composed end-to-end: exact dedup "
    "(md5 keeper per fingerprint, semi join) -> quality gate (length + "
    "token floor) -> corpus composition stats. One dedup shuffle, one "
    "semi join, one aggregate - the shape of a production curation job.",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.functions.text import (
        md5_fingerprint,
        tokens,
    )

    d = _t(spark, sf_dir, "documents")
    keepers = (
        d.select("doc_id", md5_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    gated = (
        d.join(keepers, on="doc_id", how="left_semi")
        .filter(
            (F.col("n_chars") >= 100) & (F.size(tokens(F.col("text"))) >= 20)
        )
    )
    return gated.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))


@register(
    "user_reach_kmv",
    """
    WITH h AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h
    ),
    topk AS (
        SELECT event_type, count(*) AS n_topk, max(h) AS kth
        FROM ranked WHERE rn <= 256 GROUP BY 1
    ),
    exact AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT t.event_type,
           CASE WHEN t.n_topk < 256 THEN t.n_topk
                ELSE CAST(floor(255.0 * 1152921504606846976.0 / t.kth) AS BIGINT)
           END AS distinct_est,
           e.exact_distinct
    FROM topk t JOIN exact e ON t.event_type = e.event_type
    """,
    doc="KMV (k-minimum-values) distinct-count sketch, k=256: element "
    "hash = md5 first-15-hex as a 60-bit integer - md5 is the one hash "
    "both engines share, and 15 hex chars is the widest prefix that "
    "stays non-negative in a signed BIGINT on both sides - so the "
    "APPROXIMATE estimate itself is bit-identical and oracle-checked "
    "exactly (unlike approx_count_distinct's engine-private HLL). The "
    "60-bit domain moves the birthday-collision floor from ~2^16 to "
    "~2^30 distinct/group (tests/test_sketches.py demonstrates the "
    "32-bit bias). Mergeable bottom-k, shuffle O(groups x k). "
    "exact_distinct carried for visible error.",
)
def user_reach_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.sketches import (
        kmv_distinct_estimate,
    )

    e = _t(spark, sf_dir, "events")
    est = kmv_distinct_estimate(e, ["event_type"], "user_id", k=256)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, on="event_type")


@register(
    "user_cohort_retention",
    """
    WITH w AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_day
        FROM events
    )
    SELECT strftime(date_trunc('week', first_day), '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', first_day, day) // 7 AS INT) AS weeks_since,
           count(DISTINCT user_id) AS n_active
    FROM w GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-seen week, "
    "activity counted per week-offset since first seen - the funnel "
    "shape behind every retention dashboard. The per-user first_day "
    "comes from a WINDOW min (one shuffle on user_id), not a "
    "self-join + re-join (two shuffles of the fact table); the final "
    "agg is a second hash shuffle on the (cohort, offset) key. "
    "Integer day arithmetic + ISO Monday week truncation in both "
    "engines keeps the matrix hash-exact; the cohort label is emitted "
    "as an ISO date STRING because the cross-engine canonicalizer "
    "widens DuckDB DATEs to midnight timestamps.",
)
def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    w = Window.partitionBy("user_id")
    cohorts = e.withColumn("first_day", F.min("day").over(w))
    return (
        cohorts.select(
            F.date_format(
                F.date_trunc("week", F.col("first_day")), "yyyy-MM-dd"
            ).alias("cohort_week"),
            F.floor(F.datediff(F.col("day"), F.col("first_day")) / 7)
            .cast("int")
            .alias("weeks_since"),
            "user_id",
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "event_class_totals_salted",
    """
    WITH dim AS (
        SELECT DISTINCT event_type,
               CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                    ELSE 'engagement' END AS type_class
        FROM events
    )
    SELECT d.type_class,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(e.value) THEN NULL ELSE e.value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY 1
    """,
    doc="Skew-salted join (operators/skew.py salted_join): events carry "
    "only 5 distinct event_type values - the worst-case hot-key join "
    "shape, where an unsalted shuffle sends ~1/5 of the fact table to "
    "each of 5 tasks regardless of cluster size. The large side is "
    "salted into (event_type, salt % 8) via a deterministic row hash "
    "(retry-safe, no rand()); the dim side replicates 8x; the aggregate "
    "after the join is key-only so salting stays semantics-neutral - "
    "which is exactly why the oracle is the PLAIN unsalted SQL join. "
    "Equivalence against the unsalted Spark plan is also pinned in "
    "tests/test_skew.py. (At this dim size AQE would broadcast and the "
    "salt is belt-and-braces; the plan shape is the one that matters "
    "when the dim side is too large to broadcast.)",
)
def event_class_totals_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.skew import salted_join

    e = _t(spark, sf_dir, "events")
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn(
            "type_class",
            F.when(
                F.col("event_type").isin("purchase", "signup"), "conversion"
            ).otherwise("engagement"),
        )
    )
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    return (
        salted_join(e, dim, ["event_type"], n_salts=8)
        .groupBy("type_class")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(cents).cast("long").alias("total_value_cents"),
        )
    )


@register(
    "value_quantiles_by_type",
    """
    SELECT event_type,
           quantile_cont(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT), 0.5)
               AS median_cents,
           quantile_cont(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT), 0.9)
               AS p90_cents,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    doc="Exact interpolated quantiles (median/p90) per group: inputs "
    "fixed-pointed to integer cents first, so both engines interpolate "
    "between the same exact integers with the same (n-1)*p linear rule - "
    "the only FP op is the final interpolation, identical IEEE on both "
    "sides. Spark F.percentile == DuckDB quantile_cont.",
)
def value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    return e.groupBy("event_type").agg(
        F.percentile(cents, F.lit(0.5)).alias("median_cents"),
        F.percentile(cents, F.lit(0.9)).alias("p90_cents"),
        F.count("*").alias("n_events"),
    )


@register(
    "user_running_spend",
    """
    SELECT event_id, user_id,
           CAST(sum(cents) OVER w AS BIGINT) AS running_cents,
           cents - coalesce(lag(cents) OVER w, 0) AS delta_vs_prev_cents,
           row_number() OVER w AS event_seq
    FROM (SELECT event_id, user_id, ts,
                 CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Running-window analytics per user: cumulative sum, lag delta, "
    "sequence number over a TOTAL order (ts, event_id tie-break - "
    "without it retries reorder equal timestamps). Integer-cents "
    "arithmetic keeps the running sum exact and hash-stable.",
)
def user_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a row missing EITHER placement key has no position on the running
    # timeline: Spark sorts NULLs first, DuckDB last, so a NULL ts (or
    # a NULL event_id at a timestamp tie) silently reorders the
    # cumulative sums (round-10 corrupt-events tie probe)
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        cents.alias("cents"),
        "ts",
    ).select(
        "event_id",
        "user_id",
        F.sum("cents").over(w).alias("running_cents"),
        (F.col("cents") - F.coalesce(F.lag("cents").over(wo), F.lit(0))).alias(
            "delta_vs_prev_cents"
        ),
        F.row_number().over(wo).alias("event_seq"),
    )


@register(
    "orders_status_priority_cube",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(o_totalprice) THEN NULL ELSE o_totalprice END AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets (completes the hierarchy-aggregate family "
    "next to rollup_lineitem_status): all four grouping combinations in "
    "one pass, money fixed-pointed per row.",
)
def orders_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").try_cast(DEC) * 100).cast("long")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).cast("long").alias("total_cents"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_cents",
        )
    )


@register(
    "customer_order_gaps",
    """
    WITH seq AS (
        SELECT o_custkey, o_orderdate, o_orderkey,
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS prev_date
        FROM orders WHERE o_orderdate IS NOT NULL
    )
    SELECT o_custkey,
           count(*) AS n_gaps,
           CAST(min(date_diff('day', prev_date, o_orderdate)) AS BIGINT) AS min_gap_days,
           CAST(max(date_diff('day', prev_date, o_orderdate)) AS BIGINT) AS max_gap_days,
           CAST(sum(date_diff('day', prev_date, o_orderdate)) AS BIGINT) AS total_gap_days
    FROM seq WHERE prev_date IS NOT NULL
    GROUP BY 1
    """,
    doc="Inter-order gap statistics per customer: lag over a total "
    "(date, key) order + integer day arithmetic (datediff) - the "
    "re-engagement-analysis shape; all outputs integral, hash-stable.",
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # an order with no date has no position on the gap timeline (Spark
    # sorts NULL dates first, DuckDB last - round-9 corrupt-star
    # parity finding: the NULL-date row formed a counted gap on one
    # side only)
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_date").isNotNull())
        .withColumn(
            "gap_days",
            F.datediff(F.col("o_orderdate"), F.col("prev_date")).cast("long"),
        )
    )
    return gaps.groupBy("o_custkey").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
        F.sum("gap_days").cast("long").alias("total_gap_days"),
    )


@register(
    "events_hourly_gapfill",
    """
    WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
               count(*) AS n,
               CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT date_trunc('hour', min(ts)) AS t0,
               date_trunc('hour', max(ts)) AS t1
        FROM events
    ),
    spine AS (
        SELECT g.event_type,
               unnest(generate_series(b.t0, b.t1, INTERVAL 1 HOUR)) AS bucket_ts
        FROM (SELECT DISTINCT event_type FROM events) g CROSS JOIN bounds b
    )
    SELECT s.event_type, s.bucket_ts,
           coalesce(b.n, 0) AS n_events,
           coalesce(b.sum_cents, 0) AS sum_value_cents,
           last_value(b.sum_cents IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.bucket_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS locf_sum_cents,
           (b.n IS NULL) AS is_gap
    FROM spine s
    LEFT JOIN b ON s.event_type = b.event_type AND s.bucket_ts = b.bucket_ts
    """,
    doc="Hypertable-style continuous rollup: hourly buckets per series "
    "DENSIFIED over the observed span - explicit zero rows for empty "
    "buckets plus last-observation-carried-forward, the gap-fill "
    "semantics of timeseries stores (TimescaleDB time_bucket_gapfill/"
    "locf). Spine is generated (distinct series x sequence over a "
    "1-row global bound aggregate), never scanned; fill join is keyed "
    "on the same (series, bucket) the rollup already shuffled on; "
    "LOCF is one per-series window. operators/timeseries.py.",
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.timeseries import (
        resample_gapfill,
    )

    e = _t(spark, sf_dir, "events")
    return resample_gapfill(e, "event_type", "ts", "value", unit="hour")


@register(
    "event_reach_setops_kmv",
    """
    WITH h AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   + 1 AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM h) WHERE rn <= 256
    ),
    pg AS (
        SELECT event_type, count(*) AS n_topk, max(h) AS kth
        FROM sk GROUP BY 1
    ),
    pairs AS (
        SELECT a.event_type AS group_a, b.event_type AS group_b
        FROM pg a JOIN pg b ON a.event_type < b.event_type
    ),
    u AS (
        SELECT DISTINCT p.group_a, p.group_b, s.h
        FROM pairs p
        JOIN sk s ON s.event_type = p.group_a OR s.event_type = p.group_b
    ),
    us AS (
        SELECT group_a, group_b, count(*) AS u_topk, max(h) AS u_kth FROM (
            SELECT group_a, group_b, h,
                   row_number() OVER (PARTITION BY group_a, group_b
                                      ORDER BY h) AS rn
            FROM u) WHERE rn <= 256 GROUP BY 1, 2
    )
    SELECT group_a, group_b, est_a, est_b, est_union,
           greatest(0, est_a + est_b - est_union) AS est_intersection
    FROM (
        SELECT us.group_a, us.group_b,
               CASE WHEN a.n_topk < 256 THEN a.n_topk
                    ELSE CAST(floor(255.0 * 1152921504606846976.0 / a.kth)
                              AS BIGINT) END AS est_a,
               CASE WHEN b.n_topk < 256 THEN b.n_topk
                    ELSE CAST(floor(255.0 * 1152921504606846976.0 / b.kth)
                              AS BIGINT) END AS est_b,
               CASE WHEN us.u_topk < 256 THEN us.u_topk
                    ELSE CAST(floor(255.0 * 1152921504606846976.0 / us.u_kth)
                              AS BIGINT) END AS est_union
        FROM us
        JOIN pg a ON us.group_a = a.event_type
        JOIN pg b ON us.group_b = b.event_type
    )
    """,
    doc="KMV sketch set algebra over every event-type pair: union "
    "cardinality from MERGED bottom-k sketches (bottom-k(A union B) == "
    "bottom-k(sketch(A) union sketch(B))), intersection by inclusion-"
    "exclusion clamped at 0. The pairing stage touches only sketch rows "
    "- O(pairs x k), independent of raw cardinality - so at 100 TB the "
    "raw table is read exactly once to build per-group sketches. Like "
    "user_reach_kmv, the ESTIMATE itself is oracle-exact (60-bit md5 "
    "domain, identical floor arithmetic). operators/sketches.py.",
)
def event_reach_setops_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.sketches import (
        kmv_set_cardinality,
    )

    e = _t(spark, sf_dir, "events")
    return kmv_set_cardinality(e, "event_type", "user_id", k=256)


@register(
    "nation_pair_trade_volume",
    None,
    doc="TPC-H Q7 shape: bidirectional trade volume between a nation "
    "pair - lineitem x orders fact-fact join with TWO independent "
    "dimension chains (supplier->nation, customer->nation via orders), "
    "filtered to the pair in both directions, grouped by (supp_nation, "
    "cust_nation, ship_year). The nation aliases (25 rows, fixed "
    "cardinality) broadcast by hint; customer and supplier scale with "
    "sf so they carry NO hint - AQE picks broadcast vs shuffle from "
    "measured size. The only guaranteed big shuffle is the fact-fact "
    "join. Revenue fixed-pointed to e4 "
    "BIGINT per the registry convention. Driver-window neutral "
    "(local_oracle).",
    local_oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           count(*) AS n_items,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l.l_extendedprice) THEN NULL ELSE l.l_extendedprice END AS DECIMAL(18,2))
                         * (1 - TRY_CAST(CASE WHEN isnan(l.l_discount) THEN NULL ELSE l.l_discount END AS DECIMAL(18,2)))
                         * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # Pre-filter BOTH nation dims to the two pair members: Catalyst
    # cannot factor the disjunctive pair predicate (which spans two
    # tables) into per-table filters, so without this the customer and
    # supplier joins fan in every nation's rows and the pair filter
    # only lands post-join. The disjunction below still applies
    # post-join to cut the two same-direction combinations.
    pair_nations = ["NATION_1", "NATION_2"]
    cn = n.filter(F.col("n_name").isin(pair_nations)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    sn = n.filter(F.col("n_name").isin(pair_nations)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev_e4 = (
        F.col("l_extendedprice").try_cast(DEC)
        * (1 - F.col("l_discount").try_cast(DEC))
        * 10000
    ).cast("long")
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(rev_e4).cast("long").alias("revenue_e4"),
        )
    )


@register(
    "big_quantity_orders",
    None,
    doc="TPC-H Q18 shape: orders whose TOTAL lineitem quantity exceeds a "
    "threshold, joined back to customer - the grouped-HAVING subquery "
    "as a join against an aggregate. Quantity fixed-pointed to "
    "hundredths (BIGINT) so the threshold compare and the output sum "
    "are integer-exact. The aggregate side is order-keyed (one "
    "shuffle); the orders/customer joins reuse the key. Driver-window "
    "neutral (local_oracle).",
    local_oracle="""
    SELECT c.c_custkey, o.o_orderkey,
           CAST(TRY_CAST(CASE WHEN isnan(o.o_totalprice) THEN NULL ELSE o.o_totalprice END AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS totalprice_cents,
           big.sum_qty_e2
    FROM (SELECT l_orderkey,
                 CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2)) * 100
                               AS BIGINT)) AS BIGINT) AS sum_qty_e2
          FROM lineitem GROUP BY 1
          HAVING sum(CAST(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2)) * 100
                          AS BIGINT)) > 30000) big
    JOIN orders o   ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def big_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty_e2 = (F.col("l_quantity").try_cast(DEC) * 100).cast("long")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qty_e2).cast("long").alias("sum_qty_e2"))
        .filter(F.col("sum_qty_e2") > 30000)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            (F.col("o_totalprice").try_cast(DEC) * 100)
            .cast("long")
            .alias("totalprice_cents"),
            "sum_qty_e2",
        )
    )


@register(
    "rich_inactive_customers",
    None,
    doc="TPC-H Q22 shape: customers whose balance beats the positive-"
    "balance average (scalar-subquery threshold) AND who never placed "
    "an URGENT order (anti join on a pushed-down filter), rolled up per "
    "market segment. The 1-row aggregate is broadcast (a cross join "
    "Spark plans as BroadcastNestedLoopJoin over exactly one row); the "
    "avg compare is division-free (bal * n > total, decimal-exact); "
    "the anti join shuffles on custkey only, with the priority filter "
    "pushed to the orders scan. Decimal sums are exact then cast to "
    "DOUBLE once for the hash-stable output. Driver-window neutral "
    "(local_oracle).",
    local_oracle="""
    WITH stats AS (
        SELECT count(*) AS n_pos,
               sum(TRY_CAST(CASE WHEN isnan(c_acctbal) THEN NULL ELSE c_acctbal END AS DECIMAL(18,2))) AS total_pos
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           count(*) AS numcust,
           CAST(CAST(sum(TRY_CAST(CASE WHEN isnan(c_acctbal) THEN NULL ELSE c_acctbal END AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS totacctbal
    FROM customer, stats
    WHERE TRY_CAST(CASE WHEN isnan(c_acctbal) THEN NULL ELSE c_acctbal END AS DECIMAL(18,2)) * n_pos > total_pos
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
)
def rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").try_cast(DEC)
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.count("*").alias("n_pos"),
        F.sum(bal).alias("total_pos"),
    )
    rich = c.join(F.broadcast(stats)).filter(
        bal * F.col("n_pos") > F.col("total_pos")
    )
    inactive = rich.join(
        o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
        rich["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    )
    return inactive.groupBy("c_mktsegment").agg(
        F.count("*").alias("numcust"),
        F.sum(bal).cast(DEC).cast("double").alias("totacctbal"),
    )


@register(
    "user_value_ewma",
    None,
    doc="Time-decayed per-user activity score (operators/timeseries."
    "ewma_by_key): EWMA recurrence s_i = a*x_i + (1-a)*s_{i-1} over "
    "each user's events in (ts, event_id) order, a = 0.125. A "
    "recurrence is not a window aggregate but IS a sequential left "
    "fold: collect_list + array_sort fixes a total order and "
    "F.aggregate folds it - the identical IEEE sequence DuckDB runs "
    "via list_reduce(list(... ORDER BY ...)), so even this double "
    "output value-hash matches exactly (floating SUMs can't - their "
    "order is undefined). One shuffle; per-key arrays bounded by "
    "upstream grain. Driver-window neutral (local_oracle).",
    local_oracle="""
    SELECT user_id, count(*) AS n_events,
           list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                       (acc, x) -> 0.125 * x + 0.875 * acc) AS ewma_value
    FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
      AND ts IS NOT NULL AND event_id IS NOT NULL
    GROUP BY 1
    """,
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.timeseries import (
        ewma_by_key,
    )

    e = _t(spark, sf_dir, "events")
    return ewma_by_key(
        e, ["user_id"], ["ts", "event_id"], "value", alpha=0.125
    )


@register(
    "user_conversion_funnel",
    None,
    doc="Ordered conversion funnel view -> click -> purchase "
    "(operators/timeseries.funnel_counts): users reaching stage i had "
    "a stage-i event strictly after their first stage-(i-1) event. "
    "Chained min-after aggregations - every step shuffles on user_id "
    "so one partitioning is reused down a shrinking keyset, and no "
    "per-key event array is ever materialized (per-key state is "
    "len(stages), not event count). Oracle replays the same chained "
    "first-times CTEs. Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS p0 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS p1
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.p0
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS p2
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.p1
        GROUP BY 1
    )
    SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
           (SELECT count(*) FROM s1) AS n_users
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3)
    """,
)
def user_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.timeseries import (
        funnel_counts,
    )

    e = _t(spark, sf_dir, "events")
    return funnel_counts(
        e, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


@register(
    "event_transition_matrix",
    None,
    doc="First-order transition counts between consecutive event types "
    "per user (the Markov-chain view of user behavior): lag over a "
    "total (ts, event_id) order within user, then count (prev, curr) "
    "pairs. One window shuffle on user_id + one hash agg on the tiny "
    "(prev, curr) domain. Driver-window neutral (local_oracle).",
    local_oracle="""
    SELECT prev_type, event_type AS curr_type, count(*) AS n_transitions
    FROM (SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL)
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a row missing either placement key has no position in the
    # per-user order (Spark's nulls-first vs DuckDB's nulls-last would
    # silently disagree on which transition it forms - a NULL event_id
    # at a timestamp tie reorders the pair multiset, round-10 probe).
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


@register(
    "user_moving_spend",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL
                                       ELSE value END AS DECIMAL(18,2))
                         * 100 AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS moving_spend_cents
    FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
    """,
    doc="Bounded-frame window aggregate: per-user moving sum of the "
    "last 4 events' value, in integer cents (ROWS BETWEEN 3 PRECEDING "
    "AND CURRENT ROW over a total (ts, event_id) order). Fixed-point "
    "cents make the frame sum exact and order-independent, so the "
    "moving column value-hash matches - a raw-double moving SUM would "
    "depend on each engine's incremental frame strategy. Complements "
    "user_running_spend (unbounded-preceding frame). Driver-window "
    "neutral (local_oracle).",
)
def user_moving_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # standard guarded cents form: round(value*100).cast(long) threw
    # CAST_OVERFLOW on one NaN under ANSI (round-9 corrupt-events
    # parity finding); try_cast skips corrupt money. A row missing
    # either placement key has no frame position (engine NULL ordering
    # diverges at ties - round-10 corrupt-events tie probe).
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).cast("long").alias("moving_spend_cents"),
    )


@register(
    "value_quantiles_approx",
    None,
    doc="The 100-TB percentile path: percentile_approx (Greenwald-"
    "Khanna sketch, mergeable, bounded memory) over the same fixed-"
    "point cents as value_quantiles_by_type, which is the exact "
    "baseline it is error-bounded against in "
    "tests/test_approx_quantiles.py: the sketch at accuracy 10000 "
    "must land within 1% relative error of the exact rank answer. "
    "Exact per-group sorts do not scale past dimension-sized groups; "
    "the sketch is what ships. Rows-only at the gate (DuckDB has no "
    "GK sketch to replay).",
)
def value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    return (
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.percentile_approx("cents", 0.5, 10000).alias("median_cents_approx"),
            F.percentile_approx("cents", 0.9, 10000).alias("p90_cents_approx"),
        )
    )


@register(
    "corpus_mix_weights",
    """
    SELECT source,
           CAST(CASE WHEN source IN ('src0', 'src1') THEN 3
                     WHEN source IN ('src2', 'src3') THEN 2
                     ELSE 1 END AS BIGINT) AS mix_weight,
           count(*) AS n_docs,
           CAST(count(*) * CASE WHEN source IN ('src0', 'src1') THEN 3
                                WHEN source IN ('src2', 'src3') THEN 2
                                ELSE 1 END AS BIGINT) AS n_mixed,
           CAST(sum(n_chars) * CASE WHEN source IN ('src0', 'src1') THEN 3
                                    WHEN source IN ('src2', 'src3') THEN 2
                                    ELSE 1 END AS BIGINT) AS mixed_chars
    FROM documents GROUP BY 1
    """,
    doc="Deterministic corpus mixing (training-mix construction): "
    "integer per-source upsampling weights applied by explode of "
    "sequence(1, weight) - every replica is a pure function of "
    "(doc_id, weight), no RNG, so the mix is reproducible across "
    "runs, engines and partitionings. Output is the post-mix "
    "composition per source. The oracle replays the same weighted "
    "counts arithmetically. Driver-window neutral (local_oracle).",
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    weight = (
        F.when(F.col("source").isin("src0", "src1"), F.lit(3))
        .when(F.col("source").isin("src2", "src3"), F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
    )
    mixed = d.withColumn("mix_weight", weight).withColumn(
        "_replica", F.explode(F.sequence(F.lit(1), F.col("mix_weight")))
    )
    return mixed.groupBy("source", "mix_weight").agg(
        (F.count("*") / F.col("mix_weight")).cast("long").alias("n_docs"),
        F.count("*").alias("n_mixed"),
        F.sum("n_chars").cast("long").alias("mixed_chars"),
    )


@register(
    "sole_failing_suppliers",
    None,
    doc="TPC-H Q21 shape: the multi-EXISTS correlated subquery pair, "
    "round-14 rewritten from chained left-SEMI + left-ANTI joins to a "
    "single per-order aggregate (n_suppliers >= 2 AND n_failed == 1 "
    "identifies the sole failing supplier directly - the count "
    "identities are proved in the function comment). A supplier 'kept "
    "an order waiting' when it returned items (l_returnflag = 'R' "
    "stands in for the reference schema's receipt>commit lateness - "
    "this testdata has no commit/receipt dates) on an order that ALSO "
    "involved another supplier where NO other supplier returned. "
    "Supplier scales with sf so it carries NO broadcast hint (AQE "
    "sizes that join). Counts are of DISTINCT (order, supplier) "
    "pairs, so the result is grain-stable however lineitem splits. "
    "Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         f AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
               WHERE l_returnflag = 'R')
    SELECT s.s_name, count(*) AS numwait
    FROM f l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM a l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM f l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1
    """,
)
def sole_failing_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # ONE aggregation pass builds the (order, supplier) pair frame with
    # its failed flag (max of the R flag per pair), instead of two
    # separate distinct() shuffles over lineitem.
    #
    # Round-14 plan change (guide §2.3/§2.4, A/B in OPTIMIZATION_r14.md):
    # the EXISTS/NOT-EXISTS pair (semi + anti join, each re-shuffling
    # the pair frame on l_orderkey with a <> residual) collapses into
    # one per-ORDER aggregate. For a failed pair, "another supplier
    # exists on the order" == n_suppliers >= 2, and "no OTHER supplier
    # failed" == n_failed == 1 - and when n_failed == 1 the qualifying
    # supplier IS the failed one, recoverable as max(suppkey of failed
    # pairs), so no join back to the pair table is needed at all.
    # NULL keys are excluded up front to keep the rewrite equivalent on
    # ANY input: under the old <>-residual joins a NULL-suppkey or
    # NULL-orderkey pair could neither qualify, witness the EXISTS, nor
    # block the NOT EXISTS (NULL <> x is NULL), whereas an aggregate
    # would have counted it.
    a = (
        l.select("l_orderkey", "l_suppkey", "l_returnflag")
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("_failed")
        )
    )
    order_stats = a.groupBy("l_orderkey").agg(
        F.count("*").alias("_n_supp"),
        F.sum("_failed").alias("_n_failed"),
        F.max(F.when(F.col("_failed") == 1, F.col("l_suppkey"))).alias(
            "l_suppkey"
        ),
    )
    sole_failure = order_stats.filter(
        (F.col("_n_supp") >= 2) & (F.col("_n_failed") == 1)
    ).select("l_orderkey", "l_suppkey")
    return (
        sole_failure.join(
            s, F.col("l_suppkey") == s["s_suppkey"]
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "small_quantity_part_revenue",
    None,
    doc="TPC-H Q17 shape: the correlated scalar-aggregate-per-group "
    "filter (l_quantity < 0.2 * avg quantity for that part) as an "
    "aggregate-then-self-join: one groupBy(l_partkey) pass computes "
    "each part's (count, sum_qty), lineitem joins back on the SAME key "
    "(the aggregate side's exchange is reused - no second shuffle of "
    "it), and the avg compare is division-free integer math "
    "(qty_e2 * 5 * n < sum_qty_e2 is exactly qty < 0.2 * avg). part "
    "scales with sf so it carries no broadcast hint (AQE decides); "
    "revenue is fixed-point cents. Driver-window "
    "neutral (local_oracle).",
    local_oracle="""
    WITH pa AS (
        SELECT l_partkey, count(*) AS n_li,
               CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS sum_qty_e2
        FROM lineitem GROUP BY 1
    )
    SELECT p.p_brand, count(*) AS n_small,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l.l_extendedprice) THEN NULL ELSE l.l_extendedprice END AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(TRY_CAST(CASE WHEN isnan(l.l_quantity) THEN NULL ELSE l.l_quantity END AS DECIMAL(18,2)) * 100 AS BIGINT)
          * 5 * pa.n_li < pa.sum_qty_e2
    GROUP BY 1
    """,
)
def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    qty_e2 = (F.col("l_quantity").try_cast(DEC) * 100).cast("long")
    pa = l.groupBy("l_partkey").agg(
        F.count("*").alias("n_li"),
        F.sum(qty_e2).cast("long").alias("sum_qty_e2"),
    )
    small = l.join(pa, on="l_partkey").filter(
        qty_e2 * 5 * F.col("n_li") < F.col("sum_qty_e2")
    )
    return (
        small.join(p, F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_small"),
            F.sum((F.col("l_extendedprice").try_cast(DEC) * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


@register(
    "user_reach_hll",
    None,
    doc="HLL++ distinct-count sketch (approx_count_distinct, rsd=0.02): "
    "the third member of the sketch family next to the KMV bottom-k "
    "(cross-engine-exact estimate) and the GK quantile sketch. "
    "approx_count_distinct is Spark's native mergeable HLL++ - the "
    "operator a 100 TB reach query actually ships because its state is "
    "a fixed few-KB register set per group regardless of cardinality "
    "(KMV's bottom-k costs O(k) values per group). Rows-only at the "
    "gate (DuckDB's approx_distinct is a different HLL "
    "implementation; estimates cannot hash-match) - the relative-error "
    "bound vs exact is pinned in tests/test_sketches.py.",
)
def user_reach_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("distinct_est"),
            F.countDistinct("user_id").alias("exact_distinct"),
        )
    )


@register(
    "user_spend_anomalies",
    """
    WITH c AS (
        -- cents must be NON-NULL, not merely value IS NOT NULL: a
        -- NaN/1e308 value survives IS NOT NULL but try_casts to NULL
        -- cents, and inside the frame count(*) would count it while
        -- sum() skips it - the exact frame lie this query's skip rule
        -- exists to prevent (round-10 promotion probe)
        SELECT event_id, user_id, ts,
               CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
        WHERE ts IS NOT NULL AND event_id IS NOT NULL
          AND TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END
                       AS DECIMAL(18,2)) IS NOT NULL
    ),
    w AS (
        SELECT event_id, user_id, cents,
               count(*)         OVER win AS n_prev,
               sum(cents)       OVER win AS sum_prev,
               sum(cents*cents) OVER win AS sumsq_prev
        FROM c
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, cents, n_prev,
           CAST(sum_prev AS BIGINT) AS sum_prev
    FROM w
    WHERE n_prev >= 5
      AND (cents * n_prev - sum_prev) * (cents * n_prev - sum_prev)
          > 9 * (n_prev * sumsq_prev - sum_prev * sum_prev)
    """,
    doc="Integer-exact moving-window anomaly detection - the engine's "
    "fraud-domain take on |x - mean| > 3*sigma: per user, each event "
    "compares against the trailing 10-event window (current row "
    "excluded; >= 5 priors required), with the z-score test cross-"
    "multiplied into pure integer cents arithmetic - "
    "(x*n - sum)^2 > 9*(n*sumsq - sum^2) is EXACTLY |x-mean| > 3*std "
    "(population), no division, no sqrt, no doubles - so the flagged "
    "set hash-matches the oracle exactly where a floating z-score "
    "could not. One window shuffle on user_id; per-row state is three "
    "running frame aggregates. Driver-window neutral (local_oracle).",
)
def user_spend_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corrupt observations (no cents value, or unplaceable in the
    # (ts, event_id) order) are skipped BEFORE the window - otherwise
    # count(*) counts them while sum() skips them and the z-test frame
    # silently lies; mirrors the streaming twin's skip exactly. The
    # skip must test the derived CENTS, not value IS NOT NULL: NaN and
    # 1e308 survive IS NOT NULL but try_cast to NULL cents (round-10
    # promotion probe).
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    w = e.select("event_id", "user_id", "ts", cents.alias("cents")).filter(
        F.col("cents").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "cents",
        F.count("*").over(win).alias("n_prev"),
        F.sum("cents").over(win).alias("sum_prev"),
        F.sum(F.col("cents") * F.col("cents")).over(win).alias("sumsq_prev"),
    )
    dev = F.col("cents") * F.col("n_prev") - F.col("sum_prev")
    var_n2 = (
        F.col("n_prev") * F.col("sumsq_prev")
        - F.col("sum_prev") * F.col("sum_prev")
    )
    return w.filter(
        (F.col("n_prev") >= 5) & (dev * dev > 9 * var_n2)
    ).select("event_id", "user_id", "cents", "n_prev", "sum_prev")


@register(
    "user_heavy_hitters_cms",
    None,
    doc="Count-min-sketch heavy hitters (operators/sketches.cms_sketch/"
    "cms_estimate, depth 4 x width 1024): frequency estimates for the "
    "top-20 users by event count, next to their exact counts. The "
    "sketch holds 4096 counters regardless of user cardinality and "
    "merges by addition - the bounded-state frequency operator of a "
    "streaming pipeline, where the exact groupBy this query carries "
    "for comparison would need per-key state. Registered with the md5 "
    "hash family so the SKETCH ITSELF is oracle-checked: every counter "
    "and every min-over-families estimate is an integer both engines "
    "compute identically (the xxhash64 default stays the production "
    "fast path; the CMS guarantees are additionally pinned in "
    "tests/test_sketches.py). Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH sketch AS (
        SELECT j, bucket, count(*) AS cnt FROM (
            SELECT u.j,
                   ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' ||
                                       CAST(e.user_id AS VARCHAR)), 1, 15)
                   )::BIGINT % 1024 AS bucket
            FROM events e, unnest([0, 1, 2, 3]) AS u(j)
        ) GROUP BY 1, 2
    ),
    exact_top AS (
        SELECT user_id, count(*) AS exact_count
        FROM events GROUP BY 1
        ORDER BY exact_count DESC, user_id LIMIT 20
    )
    SELECT t.user_id, t.exact_count, min(s.cnt) AS freq_est
    FROM exact_top t
    JOIN sketch s
      ON s.bucket = ('0x' || substr(md5(CAST(s.j AS VARCHAR) || ':' ||
                                        CAST(t.user_id AS VARCHAR)), 1, 15)
                    )::BIGINT % 1024
    GROUP BY 1, 2
    """,
)
def user_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    e = _t(spark, sf_dir, "events")
    items = e.select("user_id")
    sketch = cms_sketch(items, "user_id", hash_fn="md5")
    exact_top = (
        items.groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("user_id"))
        .limit(20)
    )
    est = cms_estimate(exact_top.select("user_id"), sketch, "user_id", hash_fn="md5")
    return exact_top.join(est, on="user_id").select(
        "user_id", "exact_count", "freq_est"
    )


@register(
    "value_decile_profile",
    """
    WITH c AS (
        SELECT event_id, event_type,
               CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
        WHERE TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END
                       AS DECIMAL(18,2)) IS NOT NULL
    ),
    d AS (
        SELECT event_type, cents,
               CAST(ntile(10) OVER (PARTITION BY event_type
                                    ORDER BY cents, event_id) AS BIGINT)
                   AS decile
        FROM c
    )
    SELECT event_type, decile, count(*) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents_sum,
           min(cents) AS cents_min, max(cents) AS cents_max
    FROM d GROUP BY 1, 2
    """,
    doc="Quantile binning for feature engineering: the per-(type, "
    "decile) profile of ntile(10) over the total order (cents, "
    "event_id) - the tie-break makes the standard ntile distribution "
    "(larger buckets first) identical across engines, so the profile "
    "is hash-exact. Round-14: computed from the (type, cents, count) "
    "histogram via position-range overlap with the 10 bucket "
    "boundaries instead of sorting every row in a 5-partition window "
    "(the proof that the aggregate is tie-order-independent is in the "
    "function comment; sf10 A/B -89%). Driver-window neutral "
    "(local_oracle).",
)
def value_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    # Round-14 plan change (guide §2.3; A/B in OPTIMIZATION_r14.md:
    # sf10 8.33s -> 0.96s, parity at every sf): the ntile(10) window
    # sorted every event row inside 5 event_type partitions - a 5-task
    # parallelism ceiling at any scale. The per-decile aggregate only
    # needs HOW MANY rows of each cents value land in each decile,
    # never which event_ids: ntile assigns positions [start_b, end_b]
    # to bucket b (sizes n div 10 + 1 for the first n%10 buckets), ties
    # occupy a contiguous position run whatever the event_id tie-break,
    # and the bucket split of a tie run moves the same VALUE either
    # side. So the profile is computed on the (type, cents, count)
    # histogram: running position ranges per value, a 10-bucket
    # boundary table per type, and a range-overlap explode gives each
    # (value, decile) its exact row count.
    c = e.select("event_type", cents.alias("cents")).filter(
        # a corrupt/missing value has no cents and therefore no decile
        # rank (engine NULL ordering inside ntile diverges)
        F.col("cents").isNotNull()
    )
    hist = c.groupBy("event_type", "cents").agg(F.count("*").alias("_c"))
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    hist = (
        hist.withColumn("_cum_end", F.sum("_c").over(w_ord))
        .withColumn("_n", F.sum("_c").over(w_all))
        .withColumn("_cum_start", F.col("_cum_end") - F.col("_c") + 1)
    )
    n_div = F.expr("_n div 10")
    n_rem = F.expr("_n % 10")
    buckets = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                ((b - 1) * n_div + F.least(F.lit(b - 1), n_rem) + 1).alias("s"),
                (b * n_div + F.least(F.lit(b), n_rem)).alias("e"),
            )
            for b in range(1, 11)
        ]
    )
    overlap = (
        hist.select(
            "event_type",
            "cents",
            "_cum_start",
            "_cum_end",
            F.explode(buckets).alias("bk"),
        )
        .filter(
            (F.col("bk.s") <= F.col("_cum_end"))
            & (F.col("bk.e") >= F.col("_cum_start"))
        )
        .select(
            "event_type",
            "cents",
            F.col("bk.b").cast("long").alias("decile"),
            (
                F.least(F.col("bk.e"), F.col("_cum_end"))
                - F.greatest(F.col("bk.s"), F.col("_cum_start"))
                + 1
            ).alias("_k"),
        )
    )
    return overlap.groupBy("event_type", "decile").agg(
        F.sum("_k").alias("n_events"),
        F.sum(F.col("cents") * F.col("_k")).cast("long").alias("cents_sum"),
        F.min("cents").alias("cents_min"),
        F.max("cents").alias("cents_max"),
    )


@register(
    "events_grouping_sets",
    None,
    doc="Explicit GROUPING SETS ((event_type), ()) with grouping() - "
    "the general grouping-sets form alongside the registry's rollup "
    "and cube queries, via the DataFrame groupingSets API (Spark 4). "
    "One pass produces per-type rows AND the grand total, with the "
    "grouping flag disambiguating a NULL group from the total row. "
    "Driver-window neutral (local_oracle).",
    local_oracle="""
    SELECT event_type,
           CAST(GROUPING(event_type) AS BIGINT) AS is_total,
           count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM events
    GROUP BY GROUPING SETS ((event_type), ())
    """,
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    return (
        e.select("event_type", cents.alias("_cents"))
        .groupingSets([["event_type"], []], "event_type")
        .agg(
            F.grouping("event_type").cast("long").alias("is_total"),
            F.count("*").alias("n_events"),
            F.sum("_cents").cast("long").alias("cents_sum"),
        )
    )


@register(
    "customer_order_distribution",
    """
    WITH co AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN (SELECT * FROM orders
                   WHERE o_orderpriority <> '1-URGENT') o
          ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    SELECT c_count, count(*) AS custdist
    FROM co GROUP BY 1
    """,
    doc="TPC-H Q13 shape: the count-of-counts histogram over a FILTERED "
    "left-outer join - how many customers placed exactly k non-urgent "
    "orders, INCLUDING the zero-order customers the filter semantics "
    "make visible only through the outer join (pre-filtering the fact "
    "side then left-joining is equivalent to the ON-clause predicate "
    "and lets the filter push into the orders scan). First aggregate "
    "keys on c_custkey - the join's own exchange is reused, no second "
    "shuffle - and the histogram re-agg is over at most "
    "max-orders-per-customer distinct keys, a few dozen rows. All "
    "integer counts, hash-exact. Driver-window neutral (local_oracle).",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    non_urgent = o.filter(F.col("o_orderpriority") != "1-URGENT").select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        c.select("c_custkey")
        .join(non_urgent, c["c_custkey"] == non_urgent["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "top_revenue_suppliers",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_extendedprice) THEN NULL ELSE l_extendedprice END AS DECIMAL(18,2))
                             * (1 - TRY_CAST(CASE WHEN isnan(l_discount) THEN NULL ELSE l_discount END AS DECIMAL(18,2)))
                             * 10000 AS BIGINT)) AS BIGINT) AS total_revenue_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_e4
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_e4 = (SELECT max(total_revenue_e4) FROM revenue)
    """,
    doc="TPC-H Q15 shape: the argmax-over-an-aggregated-view filter - "
    "suppliers whose quarterly revenue EQUALS the maximum quarterly "
    "revenue, ties included. The revenue view aggregates once on "
    "l_suppkey (shipdate filter pushed to the scan); the scalar max is "
    "a single-row aggregate of that view cross-joined back as a "
    "broadcast (Spark's scalar-subquery plan, written explicitly), so "
    "the view is computed once and the equality filter never "
    "re-shuffles it. Revenue fixed-pointed to e4 BIGINT, so the "
    "equality compare is exact - an interpolated double max could tie-"
    "break wrongly. Driver-window neutral (local_oracle).",
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev_e4 = (
        F.col("l_extendedprice").try_cast(DEC)
        * (1 - F.col("l_discount").try_cast(DEC))
        * 10000
    ).cast("long")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev_e4).cast("long").alias("total_revenue_e4"))
    )
    mx = revenue.agg(F.max("total_revenue_e4").alias("_mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue_e4") == F.col("_mx"))
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue_e4")
    )


@register(
    "user_event_setops",
    None,
    doc="Relational set operators as first-class plan nodes: users with "
    "a high-value purchase AND a high-value click but no serious "
    "error, written as INTERSECT then EXCEPT ALL over deduplicated "
    "user sets - "
    "exercising Spark's dedicated set-op physical plans (hash-"
    "aggregate-backed intersect, left-anti-shaped except) rather than "
    "re-deriving them from joins as the semi/anti-join queries do. "
    "Each branch prunes to the single user_id column before the "
    "set-op, so the exchanges carry 8 bytes/row. Driver-window "
    "neutral (local_oracle).",
    local_oracle="""
    SELECT user_id FROM (
        (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase' AND value > 100
         INTERSECT
         SELECT DISTINCT user_id FROM events
          WHERE event_type = 'click' AND value > 100)
        EXCEPT ALL
        SELECT DISTINCT user_id FROM events
         WHERE event_type = 'error' AND value > 200
    )
    """,
)
def user_event_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")

    def users(kind: str, min_value: float) -> DataFrame:
        # per-row double compare: deterministic cross-engine (no agg)
        return (
            e.filter((F.col("event_type") == kind) & (F.col("value") > min_value))
            .select("user_id")
            .distinct()
        )

    return (
        users("purchase", 100.0)
        .intersect(users("click", 100.0))
        .exceptAll(users("error", 200.0))
    )


@register(
    "events_props_variant",
    None,
    doc="Spark 4 VariantType path for semi-structured data: "
    "parse_json once into the binary variant encoding, then typed "
    "variant_get extraction - the open-format answer to repeated "
    "get_json_object calls, which re-parse the JSON string per path. "
    "With one path the two are equivalent; with k paths variant "
    "parses once where string extraction parses k times, and at "
    "100 TB the variant column is the one you'd persist (shredded, "
    "column-prunable). Same aggregate as events_props_json so the two "
    "plans' results must agree exactly. Driver-window neutral "
    "(local_oracle).",
    local_oracle="""
    SELECT k_value,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM (SELECT user_id,
                 -- mirrors Spark's try_cast(string -> long): ONLY an
                 -- integer literal casts (DuckDB's TRY_CAST would
                 -- ROUND '2.9' to 3 and plain CAST would THROW on
                 -- 'abc' / out-of-range - round-9 review findings);
                 -- json_valid guards malformed JSON, which THROWS in
                 -- DuckDB's json functions but nulls in Spark
                 -- jss mirrors Spark's cast-side trim exactly: every
                 -- char <= 0x20 (tabs, newlines, even NUL) PLUS DEL
                 -- 0x7F (Java isWhitespace covers neither but the
                 -- cast's UTF8String.trimAll does strip it - round-12
                 -- advice fix), NOTHING above (DuckDB's bare trim also
                 -- strips NBSP/U+3000, which Spark's cast does not -
                 -- round-11 property pin)
                 CASE WHEN jss SIMILAR TO '[+-]?[0-9]+'
                      THEN TRY_CAST(jss AS BIGINT) END AS k_value
          FROM (SELECT user_id,
                       regexp_replace(
                           json_extract_string(
                               CASE WHEN props IS NOT NULL
                                     AND json_valid(props)
                                    THEN props END, '$.k'),
                           '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g')
                           AS jss
                FROM events))
    WHERE k_value IS NOT NULL
    GROUP BY 1
    """,
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # try_parse_json: plain parse_json THROWS on malformed JSON - one
    # bad props string killed the whole query (round-9 corrupt-events
    # parity finding); try_parse_json yields NULL variant instead.
    # Extract as STRING then try_cast: the typed 'long' extraction
    # coerces 2.9 -> 2 and true -> 1, silently diverging from
    # events_props_json (whose results this query contractually
    # equals) and from any SQL oracle.
    # coalesce fallback to get_json_object (round-11 unicode-events
    # parity finding): the Variant spec REJECTS duplicate object keys,
    # so try_parse_json('{"k":1,"k":2}') is NULL while every string-
    # path parser here (Jackson get_json_object, DuckDB yyjson) takes
    # the FIRST value - the variant path silently DROPPED such rows.
    # The fallback fires only when the variant is unrepresentable
    # (coalesce short-circuits), keeping the parse-once fast path for
    # well-formed props and the events_props_json contract for the rest.
    k = F.coalesce(
        F.try_variant_get(
            F.try_parse_json(F.col("props")), "$.k", "string"
        ),
        F.get_json_object(F.col("props"), "$.k"),
    ).try_cast("long")
    return (
        e.select(k.alias("k_value"), "user_id")
        .filter(F.col("k_value").isNotNull())
        .groupBy("k_value")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "priority_order_counts_sql",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY 1
    """,
    doc="TPC-H Q4 shape through the SQL FRONT END: the registry's one "
    "query declared as raw Spark SQL over named DataFrame arguments "
    "(every other entry uses the DataFrame API; both compile to the "
    "same Catalyst plans, and an engine user must be able to bring "
    "plain SQL). The "
    "correlated EXISTS is the interesting part: Catalyst rewrites it "
    "to a left-semi join on l_orderkey with the correlated "
    "l_shipdate > o_orderdate predicate as the join condition - no "
    "per-row subquery execution, which is what EXISTS means at 100 TB. "
    "Date filter pushed to the orders scan. Driver-window neutral "
    "(local_oracle).",
)
def priority_order_counts_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    # named DataFrame arguments, not session temp views: a fixed view
    # name would be shared by every concurrent build in the session
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM {orders} o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM {lineitem} l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        """,
        orders=_t(spark, sf_dir, "orders"),
        lineitem=_t(spark, sf_dir, "lineitem"),
    )


@register(
    "user_trailing_hour_spend",
    None,
    doc="Time-based RANGE window frame: per event, the count and "
    "cents-exact spend of the SAME USER's trailing hour - "
    "``RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW``, the "
    "value-based frame that row-count frames (user_moving_spend) "
    "cannot express when events arrive irregularly. Spark's "
    "rangeBetween needs a numeric order key, so the frame runs over "
    "epoch MICROseconds (+-3.6e9) - exactly the resolution DuckDB's "
    "interval arithmetic uses, making frame membership identical "
    "engine-to-engine even at boundary timestamps; RANGE peers (equal "
    "ts) are included in both by definition. One window shuffle on "
    "user_id; running frame aggregates, no buffering. Driver-window "
    "neutral (local_oracle).",
    local_oracle="""
    SELECT event_id, user_id,
           CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT))
                OVER w AS BIGINT) AS cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def user_trailing_hour_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        cents.alias("cents"),
        F.count("*").over(w).cast("long").alias("n_1h"),
        F.sum(cents).over(w).cast("long").alias("cents_1h"),
    )


@register(
    "events_zorder_keys",
    None,
    doc="Z-order (Morton) clustering keys over (user_id, cents): the "
    "shift-mask interleave ladder behind the z-ordered writer "
    "(functions/zorder.py), as pure integer expressions both engines "
    "compute identically - the layout key a lakehouse Z-ORDER job "
    "sorts 100 TB by so parquet row groups prune on EITHER column. "
    "Top-level per-key row counts keep the result compact. "
    "Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH c AS (
        SELECT CAST(user_id & 2147483647 AS BIGINT) AS a,
               CAST(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT)
                    & 2147483647 AS BIGINT) AS b
        FROM events
    ),
    sa AS (
        SELECT a, b,
               ((a | (a << 16)) & 281470681808895) AS a1,
               ((b | (b << 16)) & 281470681808895) AS b1
        FROM c
    ),
    sb AS (
        SELECT a, b,
               ((a1 | (a1 << 8)) & 71777214294589695) AS a2,
               ((b1 | (b1 << 8)) & 71777214294589695) AS b2
        FROM sa
    ),
    sc AS (
        SELECT a, b,
               ((a2 | (a2 << 4)) & 1085102592571150095) AS a3,
               ((b2 | (b2 << 4)) & 1085102592571150095) AS b3
        FROM sb
    ),
    sd AS (
        SELECT a, b,
               ((a3 | (a3 << 2)) & 3689348814741910323) AS a4,
               ((b3 | (b3 << 2)) & 3689348814741910323) AS b4
        FROM sc
    ),
    se AS (
        SELECT a, b,
               ((a4 | (a4 << 1)) & 6148914691236517205) AS a5,
               ((b4 | (b4 << 1)) & 6148914691236517205) AS b5
        FROM sd
    )
    SELECT (a5 | (b5 << 1)) AS zkey, count(*) AS n_rows
    FROM se GROUP BY 1
    """,
)
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.functions.zorder import zorder_key

    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    return (
        e.select(zorder_key(F.col("user_id"), cents).alias("zkey"))
        .groupBy("zkey")
        .agg(F.count("*").alias("n_rows"))
    )


@register(
    "user_status_scd2",
    None,
    doc="SCD2 history build from a change feed - the warehouse shape "
    "that turns an event stream into validity intervals: per user, "
    "collapse consecutive same-status events to change points (lag "
    "compare), then each change point's interval runs to the next "
    "change (lead), open-ended + is_current on the last. Two window "
    "functions over ONE user_id partitioning - the second window "
    "reuses the first's sort and exchange. Timestamps, strings and "
    "flags only: hash-exact. Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_type,
               lag(event_type) OVER w AS prev_type
        FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, ts AS valid_from, event_type AS status
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, status, valid_from,
           lead(valid_from) OVER w AS valid_to,
           CASE WHEN lead(valid_from) OVER w IS NULL THEN 1 ELSE 0 END
               AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)
    """,
)
def user_status_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a change event missing a placement key cannot anchor a validity
    # interval: NULL ts has no timeline position, and a NULL event_id
    # at a timestamp tie makes the change-point detection depend on
    # engine NULL ordering (round-10 probe) - excluded on both sides
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            "ts",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            F.col("ts").alias("valid_from"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id",
        "status",
        "valid_from",
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "events_quality_report",
    None,
    doc="Declarative data-quality report (tools/expectations.py - the "
    "Deequ shape): five rules over events compiled into ONE "
    "aggregation pass (every rule is an aggregate expression; the "
    "whole report costs a single scan at any table size), unpivoted "
    "to a row per rule. Integer counts only, hash-exact - the quality "
    "report itself is oracle-checked. The positive(event_id) rule "
    "INTENTIONALLY fails (event ids start at 0): a report where every "
    "rule passes proves nothing about the failure path. Driver-window "
    "neutral (local_oracle).",
    local_oracle="""
    WITH agg AS (
        SELECT count(*) AS n_rows,
               count(*) FILTER (user_id IS NULL) AS v0,
               count(*) - count(DISTINCT event_id) AS v1,
               count(*) FILTER (value IS NULL OR value < 0
                                OR value > 1000000) AS v2,
               count(*) FILTER (event_type IS NULL OR event_type NOT IN
                   ('click', 'purchase', 'error', 'signup', 'view')) AS v3,
               count(*) FILTER (event_id IS NULL OR event_id <= 0) AS v4
        FROM events
    )
    SELECT r.rule, r.violations, agg.n_rows,
           CASE WHEN r.violations = 0 THEN 1 ELSE 0 END AS passed
    FROM agg, (
        SELECT 'not_null(user_id)' AS rule, v0 AS violations FROM agg
        UNION ALL SELECT 'unique(event_id)', v1 FROM agg
        UNION ALL SELECT 'between(value)', v2 FROM agg
        UNION ALL SELECT 'in_set(event_type)', v3 FROM agg
        UNION ALL SELECT 'positive(event_id)', v4 FROM agg
    ) r
    """,
)
def events_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.tools.expectations import (
        quality_report,
    )

    e = _t(spark, sf_dir, "events")
    return quality_report(
        e,
        [
            ("not_null", "user_id"),
            ("unique", "event_id"),
            ("between", "value", 0, 1_000_000),
            ("in_set", "event_type", ["click", "purchase", "error", "signup", "view"]),
            ("positive", "event_id"),
        ],
    )


@register(
    "user_cdc_state",
    None,
    doc="CDC apply (Debezium/Delta-CDF shape): the event feed read as a "
    "change stream - signup=INSERT, click/view/purchase=UPSERT, "
    "error=DELETE - materialized to final per-key state by "
    "last-writer-wins in (ts, event_id) order: one row_number window "
    "per user keeps the latest op, a filter drops keys whose latest op "
    "is the delete. ONE window shuffle regardless of ops-per-key; the "
    "same plan maintains a 100 TB keyed table from a change feed "
    "without ever storing more than the winning row per key "
    "downstream. Cents fixed-point keeps the state hash-exact. "
    "Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH ops AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'signup' THEN 'insert'
                    WHEN event_type = 'error' THEN 'delete'
                    ELSE 'upsert' END AS op,
               CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
        WHERE ts IS NOT NULL AND event_id IS NOT NULL
    ),
    ranked AS (
        SELECT user_id, ts, op, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM ops
    )
    SELECT user_id, op AS last_op, ts AS last_ts, cents AS last_cents
    FROM ranked
    WHERE rk = 1 AND op <> 'delete'
    """,
)
def user_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("upsert")
    )
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        # unplaceable change records (no position in the (ts, event_id)
        # total order) are skipped - the same contract as the streaming
        # twin cdc_apply_stream; value-neutral on the null-free testdata
        e.filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select(
            "user_id", "ts", "event_id", op.alias("op"), cents.alias("cents")
        )
        .withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("op") != "delete"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("ts").alias("last_ts"),
            F.col("cents").alias("last_cents"),
        )
    )


@register(
    "referential_integrity_report",
    None,
    doc="Cross-table data quality: orphaned-foreign-key counts for "
    "every edge of the star schema (lineitem->orders/part/supplier, "
    "orders->customer), each edge one anti-join against the DISTINCT "
    "key set of the parent (the anti-join probes a distinct-key "
    "build side - parent tables are never scanned twice at full "
    "width). The row-per-edge report is the multi-table complement of "
    "events_quality_report's single-table rules. All integers, "
    "hash-exact. Driver-window neutral (local_oracle).",
    local_oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS edge,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
               AS orphans
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    """,
)
def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def orphans(child, child_key, parent, parent_key, edge):
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(parent_key).distinct()
        n = c.join(
            p, c[child_key] == p[parent_key], "left_anti"
        ).agg(F.count("*").alias("orphans"))
        return n.select(F.lit(edge).alias("edge"), "orphans")

    edges = [
        orphans("lineitem", "l_orderkey", "orders", "o_orderkey",
                "lineitem.l_orderkey -> orders"),
        orphans("lineitem", "l_partkey", "part", "p_partkey",
                "lineitem.l_partkey -> part"),
        orphans("lineitem", "l_suppkey", "supplier", "s_suppkey",
                "lineitem.l_suppkey -> supplier"),
        orphans("orders", "o_custkey", "customer", "c_custkey",
                "orders.o_custkey -> customer"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


@register(
    "returnflag_melt_roundtrip",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS qty_e2
    FROM lineitem
    -- the pivot side enumerates exactly these two status columns, so a
    -- row with any OTHER (incl. NULL) linestatus cannot round-trip
    -- through the melt (round-9 corrupt-star parity finding)
    WHERE l_linestatus IN ('F', 'O')
    GROUP BY 1, 2
    -- after fillna(0), a pivot cell cannot distinguish "combo absent"
    -- from "present with NULL or zero sum" - groups whose guarded sum
    -- is NULL (all-corrupt quantities) or exactly 0 cannot round-trip
    -- and are dropped on BOTH sides (round-10 all-corrupt-group probe:
    -- without this HAVING, Spark silently deleted the group while the
    -- oracle emitted its NULL row)
    HAVING CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           IS NOT NULL
       AND CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           <> 0
    """,
    doc="Native unpivot (Spark 4 DataFrame.unpivot / melt): the "
    "returnflag pivot table melted back to long form - pivot and "
    "unpivot are inverse reshapes, so the melted rows must equal the "
    "plain groupBy aggregation the pivot started from (minus the "
    "fillna zeros the pivot fabricated, filtered out to make the "
    "inverse exact - which NECESSARILY also drops real groups whose "
    "sum is NULL or exactly 0: after fillna(0) those cells are "
    "indistinguishable from fabricated ones; the oracle's HAVING "
    "mirrors that inherent lossiness of the fillna-pivot roundtrip). "
    "Covers the official wide-to-long API the expectations module "
    "hand-rolls with stack(). Driver-window neutral (local_oracle).",
)
def returnflag_melt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    qty_e2 = (F.col("l_quantity").try_cast(DEC) * 100).cast("long")
    statuses = ["F", "O"]
    wide = (
        l.select("l_returnflag", "l_linestatus", qty_e2.alias("q"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", statuses)
        .agg(F.sum("q"))
        .fillna(0)
    )
    return (
        wide.unpivot(
            ids=["l_returnflag"],
            values=statuses,
            variableColumnName="l_linestatus",
            valueColumnName="qty_e2",
        )
        .filter(F.col("qty_e2") != 0)  # drop the pivot's fabricated zeros
        .select("l_returnflag", "l_linestatus", F.col("qty_e2").cast("long"))
    )


@register(
    "flat_sales_export",
    None,
    doc="Feature-store denormalization: the full star flattened in one "
    "pass - lineitem joined to orders, customer, customer-nation, "
    "region, supplier, supplier-nation and part (7 joins), then "
    "checksummed per (region, brand) to keep the proof compact. The "
    "fact-fact join (lineitem x orders) shuffles on its key. Only the "
    "FIXED-cardinality dims (nation=25, region=5) carry broadcast "
    "hints; customer/supplier/part grow linearly with sf (customer is "
    "~15B rows at 100 TB) so they carry NO hint - AQE broadcasts them "
    "while they fit and switches to shuffled joins at scale, which is "
    "the only plan contract that survives the 100 TB design point. "
    "Pinned in test_plan_hygiene. Driver-window neutral "
    "(local_oracle).",
    local_oracle="""
    SELECT r.r_name AS region, p.p_brand AS brand,
           count(*) AS n_rows,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l.l_extendedprice) THEN NULL ELSE l.l_extendedprice END AS DECIMAL(18,2))
                         * (1 - TRY_CAST(CASE WHEN isnan(l.l_discount) THEN NULL ELSE l.l_discount END AS DECIMAL(18,2)))
                         * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
           count(DISTINCT o.o_custkey) AS n_customers,
           count(DISTINCT l.l_suppkey) AS n_suppliers
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN region r   ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def flat_sales_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    rev_e4 = (
        F.col("l_extendedprice").try_cast(DEC)
        * (1 - F.col("l_discount").try_cast(DEC))
        * 10000
    ).cast("long")
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    sn = n.select(F.col("n_nationkey").alias("s_nk"))
    flat = (
        # orders/customer/supplier/part all scale with sf: no broadcast
        # hints (AQE sizes those joins); only nation/region are hinted
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r["r_regionkey"])
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(p, F.col("l_partkey") == p["p_partkey"])
    )
    # The two exact countDistincts are three aggregation branches over
    # the SAME flat join (scan/broadcast stages reused at runtime by
    # AQE), not one Expand(x3) aggregate that materializes every joined
    # fact row three times: plain stats, distinct (region, brand,
    # custkey) and distinct (region, brand, suppkey), each with map-side
    # partial aggregation, then unioned and grouped once more on the
    # group key (measurements in OPTIMIZATION_r15.md section 3).
    # Equivalence: count(key) at level 2 skips the NULL-key level-1 row
    # exactly as countDistinct ignores NULLs, and all three branches
    # aggregate the same join, so their group sets are identical and
    # each group's max() picks the one branch row that carries a
    # column. Grouping, unlike an equality join, keeps a NULL group key
    # (a part without a brand), as the oracle's GROUP BY does.
    gb = [F.col("r_name").alias("region"), F.col("p_brand").alias("brand")]
    base = flat.groupBy(*gb).agg(
        F.count("*").alias("n_rows"),
        F.sum(rev_e4).cast("long").alias("revenue_e4"),
    )
    cust = (
        flat.select(*gb, F.col("o_custkey"))
        .distinct()
        .groupBy("region", "brand")
        .agg(F.count("o_custkey").alias("n_customers"))
    )
    supp = (
        flat.select(*gb, F.col("l_suppkey"))
        .distinct()
        .groupBy("region", "brand")
        .agg(F.count("l_suppkey").alias("n_suppliers"))
    )

    cols = ("n_rows", "revenue_e4", "n_customers", "n_suppliers")
    return (
        base.unionByName(cust, allowMissingColumns=True)
        .unionByName(supp, allowMissingColumns=True)
        .groupBy("region", "brand")
        .agg(*(F.max(c).alias(c) for c in cols))
    )


@register(
    "value_hour_regression_stats",
    """
    WITH c AS (
        -- an observation missing EITHER coordinate must leave ALL the
        -- moments, not just the sums it is NULL in: count(*) counting
        -- a row that sum(x)/sum(xy) skip makes n inconsistent with the
        -- sums and silently biases the derived slope/intercept/r
        -- (round-10 promotion probe)
        SELECT event_type,
               CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CAST(hour(ts) AS BIGINT) AS y
        FROM events
        WHERE ts IS NOT NULL
          AND TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END
                       AS DECIMAL(18,2)) IS NOT NULL
    )
    SELECT event_type, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(x * y) AS BIGINT) AS sum_xy,
           CAST(sum(x * x) AS BIGINT) AS sum_x2,
           CAST(sum(y * y) AS BIGINT) AS sum_y2
    FROM c GROUP BY 1
    """,
    doc="Sufficient statistics for correlation/regression, per event "
    "type: n, Σx, Σy, Σxy, Σx², Σy² with x = cents and y = hour of "
    "day - ALL integer sums, so the export is hash-exact where a "
    "float corr() could never be (engines sum doubles in different "
    "orders). This is how distributed ML actually fits linear models: "
    "ship order-independent integer moments in ONE aggregation pass, "
    "derive slope/intercept/r on the driver in constant time. "
    "Driver-window neutral (local_oracle).",
)
def value_hour_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a corrupt observation (no cents, or no timestamp -> no hour) must
    # leave ALL the moments: n counting rows the sums skip biases the
    # driver-side slope/intercept/r derivation (round-10 probe). The
    # filter is on the derived coordinates, mirroring the oracle CTE.
    e = _t(spark, sf_dir, "events")
    x = (F.col("value").try_cast(DEC) * 100).cast("long")
    y = F.hour("ts").cast("long")
    c = e.select("event_type", x.alias("x"), y.alias("y")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    return c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_y2"),
    )


@register(
    "value_histogram",
    None,
    doc="Fixed-width histogram via width_bucket (50 bins over [0, 500) "
    "+ overflow bins 0/51): the single-pass distribution profile that "
    "precedes any schema-on-read numeric column at scale - one "
    "hash-agg shuffle of at most 52 rows, vs the sort a percentile "
    "would cost. DuckDB has no width_bucket, so the oracle applies "
    "the SQL-standard closed form (floor(v*nb/(hi-lo))+1 with "
    "under/overflow bins) - verified bin-identical to Spark's builtin "
    "over every SF's actual values. Driver-window neutral "
    "(local_oracle).",
    local_oracle="""
    SELECT CAST(CASE WHEN isnan(value) THEN NULL
                     WHEN value < 0 THEN 0
                     WHEN value >= 500 THEN 51
                     ELSE floor(value * 50 / 500) + 1 END AS BIGINT) AS bin,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.width_bucket(F.col("value"), F.lit(0), F.lit(500), F.lit(50))
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "event_burst_compaction",
    """
    WITH g AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS new_burst
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ),
    b AS (
        SELECT user_id, event_type, ts, event_id,
               sum(new_burst) OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS burst_id
        FROM g
    )
    SELECT user_id, event_type, CAST(burst_id AS BIGINT) AS burst_id,
           min(ts) AS first_ts, CAST(min(event_id) AS BIGINT) AS keeper_event,
           count(*) AS n_collapsed
    FROM b GROUP BY 1, 2, 3
    """,
    doc="Proximity dedup / burst compaction: repeated (user, type) "
    "events within 5 minutes of the PREVIOUS KEPT event collapse to "
    "their first occurrence - the telemetry compactor that turns "
    "retry storms into single facts. Burst boundaries are "
    "gaps-and-islands (gap > 5 min starts a burst; running sum of "
    "boundary markers = burst id), so 'relative to last kept' - which "
    "looks iterative - is two stacked windows on ONE (user, type) "
    "partitioning. Output: one row per burst with its size. "
    "Driver-window neutral (local_oracle).",
)
def event_burst_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no timestamp, no burst position (engine NULL ordering diverges)
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # unix_micros, NOT cast("long"): the long cast truncates to whole
    # seconds, so a gap of 5:00.000001 compared equal to the 5-minute
    # threshold and MERGED while the oracle's exact INTERVAL comparison
    # split (caught by tests/test_boundary_pins.py). Integer micros
    # keep the strict-> boundary exact on both sides.
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag(F.col("ts")).over(w)
    )
    new_burst = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 300 * 1_000_000), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("new_burst", new_burst)
        .withColumn("burst_id", F.sum("new_burst").over(wsum).cast("long"))
        .groupBy("user_id", "event_type", "burst_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.min("event_id").cast("long").alias("keeper_event"),
            F.count("*").alias("n_collapsed"),
        )
    )


@register(
    "purchase_attribution_linear",
    None,
    doc="Linear multi-touch attribution, integer-exact: every purchase "
    "splits its cents equally across the SAME USER's clicks in the "
    "preceding hour, remainder cents to the EARLIEST touch so credit "
    "sums reconcile to revenue TO THE CENT (floating splits never "
    "re-total). Shape: an interval join (purchase x prior clicks "
    "within the bound - the stream-stream join's batch twin) -> "
    "per-purchase touch count window -> div/pmod credit split -> "
    "per-click credit rollup. Purchases with no touch in the window "
    "fall out (unattributed), counted by the caller via anti join. "
    "Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS pts,
               CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ),
    touches AS (
        SELECT p.purchase_id, p.cents, c.click_id, c.cts,
               count(*) OVER (PARTITION BY p.purchase_id) AS n_touches,
               row_number() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.cts, c.click_id) AS touch_rank
        FROM p JOIN c
          ON p.user_id = c.user_id
         AND c.cts < p.pts
         AND c.cts >= p.pts - INTERVAL 1 HOUR
    ),
    credited AS (
        SELECT click_id,
               (cents - (((cents % n_touches) + n_touches) % n_touches))
                   // n_touches
               + CASE WHEN touch_rank = 1
                      THEN ((cents % n_touches) + n_touches) % n_touches
                      ELSE 0 END AS credit_cents
        FROM touches
    )
    SELECT click_id, CAST(sum(credit_cents) AS BIGINT) AS credit_cents,
           count(*) AS n_purchases_touched
    FROM credited GROUP BY 1
    """,
)
def purchase_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        cents.alias("cents"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
    )
    touches = p.join(
        c,
        on=[
            F.col("p_user") == F.col("c_user"),
            F.col("cts") < F.col("pts"),
            F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"),
        ],
    )
    wc = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("cts", "click_id")
    # exact floor-div + positive-mod remainder (cents are non-negative,
    # but the construction matches the repo-wide floor-div convention)
    base = F.expr("(cents - pmod(cents, n_touches)) div n_touches")
    rem = F.expr("pmod(cents, n_touches)")
    credited = (
        touches.withColumn("n_touches", F.count("*").over(wc))
        .withColumn("touch_rank", F.row_number().over(wr))
        .select(
            "click_id",
            (
                base + F.when(F.col("touch_rank") == 1, rem).otherwise(0)
            ).alias("credit_cents"),
        )
    )
    return credited.groupBy("click_id").agg(
        F.sum("credit_cents").cast("long").alias("credit_cents"),
        F.count("*").alias("n_purchases_touched"),
    )


@register(
    "value_winsorized_stats",
    None,
    doc="Winsorized (robust) statistics per event type: cents clamped "
    "into the type's exact [p10, p90] rank-based band, then "
    "integer-summed - the outlier-trimmed mean ingredients that "
    "survive cross-engine where a trimmed float mean cannot. "
    "Thresholds are EXACT percentiles (cume_dist <= q boundary "
    "values, the registry's standard rank-based path), computed in "
    "one window pass and joined back as a per-type broadcast; the "
    "clamp is elementwise; sums are BIGINT. Driver-window neutral "
    "(local_oracle).",
    local_oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
        WHERE TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END
                       AS DECIMAL(18,2)) IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, cents,
               cume_dist() OVER (PARTITION BY event_type
                                 ORDER BY cents) AS cd
        FROM c
    ),
    bounds AS (
        SELECT event_type,
               min(CASE WHEN cd >= 0.10 THEN cents END) AS lo,
               min(CASE WHEN cd >= 0.90 THEN cents END) AS hi
        FROM ranked GROUP BY 1
    )
    SELECT c.event_type, count(*) AS n,
           CAST(b.lo AS BIGINT) AS p10_cents,
           CAST(b.hi AS BIGINT) AS p90_cents,
           CAST(sum(greatest(b.lo, least(b.hi, c.cents))) AS BIGINT)
               AS winsorized_sum_cents
    FROM c JOIN bounds b ON c.event_type = b.event_type
    GROUP BY 1, 3, 4
    """,
)
def value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    # corrupt/missing values get no rank and no clamp slot (engine NULL
    # ordering inside cume_dist diverges; a NULL in the clamp would
    # float-ify the pandas int column on one side only)
    c = e.select("event_type", cents.alias("cents")).filter(
        F.col("cents").isNotNull()
    )
    # Round-14 plan change (guide §2.3): the cume_dist window used to
    # SORT every event row inside 5 event_type partitions (a 5-task
    # parallelism ceiling at any scale), then a second full-width pass
    # joined the raw rows back for the clamp. All rows sharing a cents
    # value share one cume_dist, and the clamped sum only needs
    # per-VALUE counts - so both passes now run over the (type, cents,
    # count) histogram: cume_dist(v) = count(<= v)/n computed by a
    # running sum over histogram rows (identical double division to
    # Spark's CumeDist, so the >= 0.10/0.90 boundary is bit-exact), and
    # n / winsorized_sum re-aggregated as sum(_c) / sum(clamp(v) * _c).
    hist = c.groupBy("event_type", "cents").agg(F.count("*").alias("_c"))
    w_incl = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cd = F.sum("_c").over(w_incl).cast("double") / F.sum("_c").over(
        Window.partitionBy("event_type")
    ).cast("double")
    ranked = hist.withColumn("cd", cd)
    bounds = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("cd") >= 0.10, F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("cd") >= 0.90, F.col("cents"))).alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents")))
    return (
        hist.join(F.broadcast(bounds), on="event_type")
        .groupBy(
            "event_type",
            F.col("lo").cast("long").alias("p10_cents"),
            F.col("hi").cast("long").alias("p90_cents"),
        )
        .agg(
            F.sum("_c").alias("n"),
            F.sum(clamped * F.col("_c")).cast("long").alias("winsorized_sum_cents"),
        )
        .select(
            "event_type", "n", "p10_cents", "p90_cents", "winsorized_sum_cents"
        )
    )


@register(
    "value_drift_bins",
    None,
    doc="Distribution drift ingredients (the PSI table): the value "
    "histogram computed separately for the stream's early and late "
    "halves - split at the exact midpoint of the observed time range "
    "(integer epoch-micros arithmetic, a two-row broadcast bound "
    "aggregate) - emitting per-bin (n_early, n_late) INTEGER counts. "
    "The population-stability-index fold (sum of (pa-pb)*ln(pa/pb)) "
    "is driver-side constant-time float math over these counts; "
    "shipping counts instead of the PSI keeps the export hash-exact "
    "and lets monitoring recompute any divergence metric (PSI, KL, "
    "chi-square) without another scan. Driver-window neutral "
    "(local_oracle).",
    local_oracle="""
    WITH bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid
        FROM events
    ),
    c AS (
        SELECT CAST(CASE WHEN value < 0 THEN 0
                         WHEN value >= 500 THEN 51
                         ELSE floor(value * 50 / 500) + 1 END AS BIGINT)
                   AS bin,
               CASE WHEN epoch_us(ts) <= b.mid THEN 1 ELSE 0 END AS early
        FROM events, bounds b
    )
    SELECT bin,
           CAST(sum(early) AS BIGINT) AS n_early,
           CAST(sum(1 - early) AS BIGINT) AS n_late
    FROM c GROUP BY 1
    """,
)
def value_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # integer midpoint (div, not float /: micros sums sit near the
    # 2^53 double-exactness cliff - keep the arithmetic in BIGINT)
    mid = e.agg(
        F.min(F.unix_micros("ts")).alias("_lo"),
        F.max(F.unix_micros("ts")).alias("_hi"),
    ).select(F.expr("(_lo + _hi) div 2").alias("mid"))
    binned = e.crossJoin(F.broadcast(mid)).select(
        F.when(F.col("value") < 0, 0)
        .when(F.col("value") >= 500, 51)
        .otherwise(F.floor(F.col("value") * 50 / 500) + 1)
        .cast("long")
        .alias("bin"),
        F.when(F.unix_micros("ts") <= F.col("mid"), 1).otherwise(0).alias("early"),
    )
    return binned.groupBy("bin").agg(
        F.sum("early").cast("long").alias("n_early"),
        F.sum(1 - F.col("early")).cast("long").alias("n_late"),
    )


@register(
    "user_spend_drawdown",
    None,
    doc="Per-user maximum drawdown of cumulative spend: running-peak "
    "minus running-total, maximized - NESTED running windows (a "
    "running max OVER a running sum) on one user_id partitioning, "
    "the risk-analytics window mechanic the simpler cumulative "
    "queries don't exercise. Cents arithmetic throughout; with "
    "non-negative spends the drawdown is trivially 0, so the series "
    "is SIGNED: purchases add, refund-like error events subtract - "
    "giving a real peak-to-trough number. One shuffle; both windows "
    "and the final aggregate reuse it. Driver-window neutral "
    "(local_oracle).",
    local_oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN -1 ELSE 1 END
               * CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS delta
        FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
    ),
    c1 AS (
        SELECT user_id, ts, event_id, sum(delta) OVER w AS bal
        FROM s
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    c AS (
        SELECT user_id, bal, max(bal) OVER w AS peak
        FROM c1
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id,
           CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS peak_cents
    FROM c GROUP BY 1
    """,
)
def user_spend_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a row missing either placement key has no position on the balance
    # timeline; the round-10 probe showed a NULL-ts row lands at
    # OPPOSITE ends of the cumulative order in Spark (nulls first) vs
    # DuckDB (nulls last), shifting peak and drawdown
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    delta = (
        F.when(F.col("event_type") == "error", -1).otherwise(1)
        * (F.col("value").try_cast(DEC) * 100).cast("long")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        e.select("user_id", "ts", "event_id", delta.alias("delta"))
        .withColumn("bal", F.sum("delta").over(w))
        .withColumn("peak", F.max("bal").over(w))
    )
    return c.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("bal"))
        .cast("long")
        .alias("max_drawdown_cents"),
        F.max("peak").cast("long").alias("peak_cents"),
    )


@register(
    "user_top_spend_days_ties",
    None,
    doc="Top spending day per user WITH TIES: rank() (not row_number) "
    "keeps every day tied at the maximum - the keep-all-ties top-k "
    "semantics the deterministic-tie-break queries deliberately avoid, "
    "here exercised on integer cents so tie detection is exact (float "
    "daily sums would tie or not depending on engine addition order). "
    "Day-grain aggregate then one window on the user partitioning. "
    "Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, CAST(day AS VARCHAR) AS day, cents
    FROM (SELECT *, rank() OVER (PARTITION BY user_id
                                 ORDER BY cents DESC) AS rk
          FROM daily) r
    WHERE rk = 1
    """,
)
def user_top_spend_days_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    daily = (
        e.select("user_id", F.to_date("ts").alias("day"), cents.alias("c"))
        .groupBy("user_id", "day")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("cents").desc())
    return (
        daily.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        # day as ISO string: pandas widens DATE to midnight timestamps
        # on one engine but not the other, so the hash compares strings
        .select("user_id", F.col("day").cast("string").alias("day"), "cents")
    )


@register(
    "nation_region_revenue_share",
    None,
    doc="Ratio-to-report: each nation's revenue as an integer permille "
    "of its REGION's total via a window sum over the region partition "
    "- the share-of-parent analytic where the denominator is a "
    "partition aggregate, not a scalar (nations_above_revenue_share "
    "covers the scalar-total form). Revenue first aggregates to "
    "nation grain (25 rows), so the window runs over a dimension-"
    "sized frame; permille = rev*1000 div region_total stays integer-"
    "exact. Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH nrev AS (
        SELECT n.n_name AS nation, r.r_name AS region,
               CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(l.l_extendedprice) THEN NULL ELSE l.l_extendedprice END AS DECIMAL(18,2))
                             * (1 - TRY_CAST(CASE WHEN isnan(l.l_discount) THEN NULL ELSE l.l_discount END AS DECIMAL(18,2)))
                             * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT nation, region, rev_e4,
           CAST((rev_e4 * 1000) // sum(rev_e4) OVER (PARTITION BY region)
                AS BIGINT) AS share_permille
    FROM nrev
    """,
)
def nation_region_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev_e4 = (
        F.col("l_extendedprice").try_cast(DEC)
        * (1 - F.col("l_discount").try_cast(DEC))
        * 10000
    ).cast("long")
    nrev = (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum(rev_e4).cast("long").alias("rev_e4"))
    )
    w = Window.partitionBy("region")
    return nrev.select(
        "nation",
        "region",
        "rev_e4",
        F.expr("rev_e4 * CAST(1000 AS BIGINT)")
        .alias("_num"),
    ).select(
        "nation",
        "region",
        "rev_e4",
        (F.col("_num") - F.pmod(F.col("_num"), F.sum("rev_e4").over(w)))
        .cast("long")
        .alias("_floored"),
        F.sum("rev_e4").over(w).alias("_den"),
    ).select(
        "nation",
        "region",
        "rev_e4",
        F.expr("_floored div _den").cast("long").alias("share_permille"),
    )


@register(
    "activity_dow_hour_heatmap",
    """
    SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow_mon0,
           CAST(hour(ts) AS BIGINT) AS hour,
           count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
    """,
    doc="Calendar seasonality profile: activity and cents by (ISO "
    "day-of-week, hour) - the load-shape heatmap capacity planning "
    "reads before sizing a cluster's autoscaling bands. dayofweek is "
    "the one calendar extractor the registry hadn't exercised; "
    "weekday() (0=Monday) is used because Spark's dayofweek() is "
    "Sunday-based while DuckDB's ISO dow is Monday-based - the "
    "convention mismatch every cross-engine calendar query must pick "
    "a side on explicitly. One hash-agg to <= 168 rows. "
    "Driver-window neutral (local_oracle).",
)
def activity_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").try_cast(DEC) * 100).cast("long")
    return (
        e.select(
            F.weekday("ts").cast("long").alias("dow_mon0"),
            F.hour("ts").cast("long").alias("hour"),
            cents.alias("c"),
        )
        .groupBy("dow_mon0", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("c").cast("long").alias("cents"),
        )
    )


@register(
    "null_safe_category_join",
    """
    WITH cat AS (
        SELECT nullif(event_type, 'error') AS category, count(*) AS n_events
        FROM events GROUP BY 1
    ),
    ref AS (
        SELECT * FROM (VALUES ('click', 10), ('purchase', 20),
                              ('signup', 30), ('view', 40),
                              (NULL, -1)) AS t(category, weight)
    )
    SELECT cat.category, cat.n_events, CAST(ref.weight AS BIGINT) AS weight
    FROM cat JOIN ref ON cat.category IS NOT DISTINCT FROM ref.category
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): error "
    "events get a NULL category (nullif), and the join to the "
    "category reference STILL matches the NULL row to the reference's "
    "NULL entry - the semantics a plain equi-join silently drops "
    "(NULL = NULL is NULL, and at 100 TB those dropped rows are an "
    "unnoticed data loss, not an error). EqualNullSafe keys also "
    "hash-partition normally, so the plan is a standard broadcast "
    "join, not a nested loop. Driver-window neutral (local_oracle).",
)
def null_safe_category_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cat = (
        e.select(F.nullif(F.col("event_type"), F.lit("error")).alias("category"))
        .groupBy("category")
        .agg(F.count("*").alias("n_events"))
    )
    ref = e.sparkSession.createDataFrame(
        [("click", 10), ("purchase", 20), ("signup", 30), ("view", 40),
         (None, -1)],
        "category string, weight long",
    )
    return cat.join(
        F.broadcast(ref), cat["category"].eqNullSafe(ref["category"])
    ).select(cat["category"], "n_events", F.col("weight").cast("long"))
