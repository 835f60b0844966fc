"""Relational analytics operators: projections, joins, aggregations.

These cover SURVEY.md §2.2 (projections/filters/row construction),
§2.3 (joins incl. broadcast enrichment — CommitLsnFixer.java:37-128's
batch shape), §2.4 (aggregations) re-expressed over the testdata star
schema, plus the join types the reference leaves to the planner
(semi/anti) because Catalyst gives them for free.

Scale notes per operator are inline. The shared principle: dims
(region/nation/customer/supplier/part) broadcast below the 64 MB
threshold; fact-fact joins shuffle on their key once and reuse that
partitioning for the following aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem.

    Pure map-side partial agg + tiny shuffle (few groups): the scan
    reads only the 7 referenced columns (check ReadSchema), the filter
    pushes into parquet, and the whole pipeline is one
    WholeStageCodegen span at any scale.
    """
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def regional_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Revenue per region/nation — 4-way join.

    lineitem⨝orders is the only fact-fact join (shuffle on orderkey);
    customer/nation/region chain in as broadcasts, so the whole dim
    side adds zero exchanges. Verified via .explain: one Exchange per
    fact side, BroadcastHashJoin for dims.
    """
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(
            region["r_name"].alias("r_name"), nation["n_name"].alias("n_name")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def top_customers(customer: DataFrame, orders: DataFrame, lineitem: DataFrame, n: int = 20) -> DataFrame:
    """Top-N customers by revenue (join + agg + global top-k).

    The ORDER BY ... LIMIT n compiles to TakeOrderedAndProject — a
    per-partition top-k then a driver-side merge of n·P rows, never a
    global sort. That is the 100 TB-safe top-k.
    """
    revenue = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .groupBy(orders["o_custkey"].alias("o_custkey"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        revenue.join(F.broadcast(customer), revenue["o_custkey"] == customer["c_custkey"])
        .select(
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("c_mktsegment"),
            F.col("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(n)
    )


def orders_with_returns(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Semi-join: orders having at least one returned line (l_returnflag='R').

    LEFT SEMI join — Catalyst keeps only the key column of the build
    side and stops probing at first match; far cheaper than
    join+distinct at scale.
    """
    returned = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti-join: customers with no in-progress ('P') order (LEFT ANTI).

    The filter on the right side lands *before* the join build, so the
    anti probe sees only the filtered keys — at scale that's the
    difference between broadcasting a sliver and shuffling everything.
    """
    pending = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return (
        customer.join(pending, customer["c_custkey"] == pending["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def part_supply_stats(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Per-brand/type supply stats — broadcast dim join + agg with
    distinct aggregation (count distinct suppliers)."""
    return (
        lineitem.join(F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"])
        .groupBy(part["p_brand"].alias("p_brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def order_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: orders having at least one line shipped more
    than 60 days after the order date, counted per priority — EXISTS
    realized as a LEFT SEMI join with a mixed-side condition."""
    cond = (orders["o_orderkey"] == lineitem["l_orderkey"]) & (
        lineitem["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(lineitem, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def group_sets_revenue(orders: DataFrame) -> DataFrame:
    """ROLLUP aggregation (status × priority hierarchy) — grouping sets
    are a single shuffle with Expand; free from Catalyst."""
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
    )


def numeric_quantiles(lineitem: DataFrame) -> DataFrame:
    """Per-group exact continuous quantiles (p25/p50/p75), built from a
    rank window + explicit linear interpolation ``lo + (hi-lo)*frac``
    rather than the built-in ``percentile``: the explicit expression
    tree is IEEE-deterministic, so an oracle running the same formula
    matches bit-for-bit (builtin `percentile` vs DuckDB `quantile_cont`
    disagree in the last ulp at .005 rounding boundaries).

    Ranks are defined over the NON-NULL values only (NULL prices are
    dropped before ranking, so ``n_items`` counts non-null prices).
    ``Window.partitionBy(group)`` hashes ALL rows of a group into ONE
    task — at bench scale that is fine (the whole query sits at the
    stage-latency floor: an r13 probe measured every restructure
    SLOWER at sf0.1 — bucketed rank 0.85→1.03 s, broadcast-n
    0.85→1.08 s, filter-split 0.85→0.85 s), but at 100 TB a per-group
    sort is a straggler by construction; there `approx_percentile`
    (t-digest, map-side combinable, bounded error) via
    :func:`numeric_quantiles_approx` is the path."""
    from pyspark.sql import Window

    b0 = lineitem.where(F.col("l_extendedprice").isNotNull()).select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    w = Window.partitionBy("l_returnflag").orderBy("v")
    wn = Window.partitionBy("l_returnflag")
    b = b0.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )

    def quantile(p: float) -> Column:
        pos_row = F.lit(p) * (F.col("n") - 1)  # per-row; n is constant per group
        lo = F.max(F.when(F.col("rn") == F.floor(pos_row) + 1, F.col("v")))
        hi = F.max(F.when(F.col("rn") == F.ceil(pos_row) + 1, F.col("v")))
        pos = F.lit(p) * (F.max("n") - 1)
        frac = pos - F.floor(pos)
        # floor(x*100+0.5)/100 instead of round(x, 2): interpolation at
        # frac=0.5 lands on exact .xx5 midpoints, where Spark's
        # BigDecimal HALF_UP and DuckDB's round() disagree; this form is
        # pure IEEE arithmetic, identical in any engine
        q = lo + (hi - lo) * frac
        return F.floor(q * 100 + F.lit(0.5)) / F.lit(100.0)

    return b.groupBy("l_returnflag").agg(
        quantile(0.25).alias("p25_price"),
        quantile(0.5).alias("p50_price"),
        quantile(0.75).alias("p75_price"),
        F.round(F.avg("v"), 2).alias("avg_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: the (large, skewed) left side gets a
    deterministic salt in [0, n_salts); the right side is replicated
    n_salts× via explode; the join key becomes (key, salt). A hot key's
    rows now spread across n_salts reducers instead of one straggler
    task. Result is row-identical to the plain join.

    AQE's skew-join splitting (spark.sql.adaptive.skewJoin) handles
    moderate skew automatically; explicit salting is for the pathological
    key that exceeds what post-shuffle splitting can rebalance, or when
    the join sits under an agg that must also spread (salt flows through
    the groupBy). Replication multiplies the right side's shuffle volume
    by n_salts — only salt when the right side is small relative to the
    skew it removes.

    Only ``inner``/``left`` are row-identical to the plain join: any
    right-preserving mode (right/full outer, right semi/anti) would emit
    each unmatched right row once per salt replica, so those are
    rejected rather than silently wrong.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "right-preserving modes would duplicate unmatched right rows "
            "once per salt replica"
        )
    salt = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    salted_left = left.withColumn("__salt", salt)
    replicated_right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_left.join(replicated_right, [on, "__salt"], how).drop("__salt")


def numeric_quantiles_approx(lineitem: DataFrame, accuracy: int = 10000) -> DataFrame:
    """The declared 100 TB path of :func:`numeric_quantiles`:
    ``approx_percentile`` (KLL/t-digest-style sketch) — one
    map-side-combinable aggregate, NO sort window, bounded error
    1/accuracy. Columns mirror the exact operator so the two are
    directly comparable; correctness is pytest-checked against the
    exact quantiles within sketch tolerance (not hash-checked — the
    sketch is engine-specific by design). NULL prices are ignored, as
    in the exact operator."""
    q = F.percentile_approx(
        F.col("l_extendedprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), accuracy
    )
    return lineitem.groupBy("l_returnflag").agg(
        F.round(q.getItem(0), 2).alias("p25_price"),
        F.round(q.getItem(1), 2).alias("p50_price"),
        F.round(q.getItem(2), 2).alias("p75_price"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.count("l_extendedprice").alias("n_items"),
    )


def table_profile(df: DataFrame, *, numeric_col: str, distinct_cols: list[str], null_col: str) -> DataFrame:
    """Dataset profiling: row count, per-column distinct counts, null
    count, numeric range/mean — the first query anyone runs on a new
    100 TB drop. One map-side-combinable aggregate over a single scan
    (countDistinct expands to expand+two-phase agg; at extreme scale
    swap for approx_count_distinct — same shape, sketch merge)."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        *[F.countDistinct(c).alias(f"n_{c}") for c in distinct_cols],
        F.sum(F.when(F.col(null_col).isNull(), 1).otherwise(0)).alias(f"null_{null_col}"),
        F.min(numeric_col).alias(f"min_{numeric_col}"),
        F.max(numeric_col).alias(f"max_{numeric_col}"),
        F.round(F.avg(numeric_col), 2).alias(f"avg_{numeric_col}"),
    ]
    return df.agg(*aggs)
