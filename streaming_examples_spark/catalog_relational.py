"""Catalog entries: relational analytics + window operators.

Covers SURVEY.md §2.2 P1-P7, §2.3 J2-J4 (+ the join types Catalyst
adds for free), §2.4 A2-A4, §2.5 W1-W2, §2.9 ordering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_examples_spark.catalog import register, t
from streaming_examples_spark.operators.analytics import (
    customers_without_orders,
    group_sets_revenue,
    numeric_quantiles,
    order_priority_counts,
    orders_with_returns,
    part_supply_stats,
    pricing_summary,
    regional_revenue,
    salted_join,
    top_customers,
)
from streaming_examples_spark.operators.denormalize import (
    denormalize_flat_stats,
    denormalize_orders_serialized,
)
from streaming_examples_spark.operators.windows import (
    event_ranks,
    fill_forward,
    latest_per_key,
    sessionize,
)


# --------------------------------------------------------------------------
# flagship: north-star denormalization (poc.md:14-27)
# --------------------------------------------------------------------------


@register(
    "denorm_orders",
    # the nested array<struct> form (entry() in __spark_entry__.py) is
    # unhashable by the driver's pandas canonicalizer, so the CATALOG
    # row emits the deterministic serialization of the same nested doc:
    # every line struct rendered to integer-cent strings, array sorted.
    # Any drift in array contents, order, or per-line values flips the
    # hash — the nested semantics are fully value-checked.
    oracle="""
    SELECT o.o_orderkey AS o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_custkey AS o_custkey,
           count(l.l_orderkey) AS n_lines,
           coalesce(string_agg(
             CAST(l.l_linenumber AS VARCHAR) || ',' || CAST(l.l_partkey AS VARCHAR)
               || ',' || CAST(CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT) AS VARCHAR)
               || ',' || CAST(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
             '|' ORDER BY l.l_linenumber, l.l_partkey, l.l_quantity, l.l_extendedprice
           ), '') AS lines_ser
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_custkey
    """,
    survey_ref="§2.3 J1/J4 + §2.4 A1/A2 ARRAY_AGG(ROW(...)) — value-hashed serialization of the nested doc",
)
def q_denorm_orders(spark, sf_dir):
    return denormalize_orders_serialized(
        t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem")
    )


@register(
    "denorm_order_stats",
    oracle="""
    SELECT o.o_orderkey AS o_orderkey, o.o_custkey AS o_custkey,
           count(l.l_orderkey) AS n_lines,
           round(coalesce(sum(l.l_quantity), 0), 2) AS sum_qty,
           round(coalesce(sum(l.l_extendedprice), 0), 2) AS sum_price
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    """,
    survey_ref="§2.3 J4 LEFT JOIN + §2.4 A1 (flat hash-checkable twin)",
)
def q_denorm_order_stats(spark, sf_dir):
    return denormalize_flat_stats(t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# projections / scalar functions (§2.2, §2.8)
# --------------------------------------------------------------------------


@register(
    "projection_events",
    oracle="""
    SELECT event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           user_id,
           upper(event_type) AS event_type_u,
           round(value, 2) AS value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           CASE WHEN value IS NULL THEN NULL
                WHEN value >= 100 THEN 'high' ELSE 'low' END AS value_band
    FROM events
    """,
    survey_ref="§2.2 P1-P5 + §2.8 scalar fns + JSONB access (§1.3)",
)
def q_projection_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        F.upper("event_type").alias("event_type_u"),
        F.round("value", 2).alias("value"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.when(F.col("value").isNull(), F.lit(None))
        .when(F.col("value") >= 100, F.lit("high"))
        .otherwise(F.lit("low"))
        .alias("value_band"),
    )


# --------------------------------------------------------------------------
# joins / aggregations (§2.3, §2.4)
# --------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ref="§2.4 aggregation (TPC-H Q1 shape)",
)
def q_pricing_summary(spark, sf_dir):
    return pricing_summary(t(spark, sf_dir, "lineitem"))


@register(
    "profile_quantiles",
    oracle="""
    WITH b AS (
      SELECT l_returnflag, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL)
    SELECT l_returnflag,
           floor((max(CASE WHEN rn = floor(0.25*(n-1))+1 THEN v END)
                 + (max(CASE WHEN rn = ceil(0.25*(n-1))+1 THEN v END)
                    - max(CASE WHEN rn = floor(0.25*(n-1))+1 THEN v END))
                 * (0.25*(max(n)-1) - floor(0.25*(max(n)-1)))) * 100 + 0.5) / 100.0 AS p25_price,
           floor((max(CASE WHEN rn = floor(0.5*(n-1))+1 THEN v END)
                 + (max(CASE WHEN rn = ceil(0.5*(n-1))+1 THEN v END)
                    - max(CASE WHEN rn = floor(0.5*(n-1))+1 THEN v END))
                 * (0.5*(max(n)-1) - floor(0.5*(max(n)-1)))) * 100 + 0.5) / 100.0 AS p50_price,
           floor((max(CASE WHEN rn = floor(0.75*(n-1))+1 THEN v END)
                 + (max(CASE WHEN rn = ceil(0.75*(n-1))+1 THEN v END)
                    - max(CASE WHEN rn = floor(0.75*(n-1))+1 THEN v END))
                 * (0.75*(max(n)-1) - floor(0.75*(max(n)-1)))) * 100 + 0.5) / 100.0 AS p75_price,
           round(avg(v), 2) AS avg_price,
           count(*) AS n_items
    FROM b GROUP BY l_returnflag
    """,
    survey_ref="training-data: numeric quantile profiling (rank window + explicit interpolation; approx_percentile at scale)",
)
def q_profile_quantiles(spark, sf_dir):
    return numeric_quantiles(t(spark, sf_dir, "lineitem"))


# numeric_quantiles_approx (the approx_percentile sketch path) is
# deliberately NOT a catalog entry: the sketch is engine-specific so it
# can only ever be a rows-only row, and the driver checks just the first
# 50 registered entries — the slot goes to an oracle-checkable operator.
# Accuracy vs the exact quantiles is asserted in tests/test_datapipe.py.


@register(
    "salted_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment AS c_mktsegment,
           round(sum(o.o_totalprice), 2) AS total_price,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_ref="scale: salted skew join (result-identical to plain equi-join)",
)
def q_salted_segment_revenue(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    customer = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    return (
        salted_join(orders, customer, "custkey", n_salts=8)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "regional_revenue",
    oracle="""
    SELECT r.r_name AS r_name, n.n_name AS n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    survey_ref="§2.3 J2 broadcast enrichment (batch shape)",
)
def q_regional_revenue(spark, sf_dir):
    return regional_revenue(
        t(spark, sf_dir, "region"),
        t(spark, sf_dir, "nation"),
        t(spark, sf_dir, "customer"),
        t(spark, sf_dir, "orders"),
        t(spark, sf_dir, "lineitem"),
    )


@register(
    "top_customers",
    oracle="""
    WITH revenue AS (
      SELECT o.o_custkey AS o_custkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey
    )
    SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
           c.c_mktsegment AS c_mktsegment, r.revenue AS revenue
    FROM revenue r JOIN customer c ON r.o_custkey = c.c_custkey
    ORDER BY r.revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
    survey_ref="§2.9 top-k ordering (TakeOrderedAndProject)",
)
def q_top_customers(spark, sf_dir):
    return top_customers(
        t(spark, sf_dir, "customer"),
        t(spark, sf_dir, "orders"),
        t(spark, sf_dir, "lineitem"),
        n=20,
    )


@register(
    "orders_with_returns",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderstatus
    """,
    survey_ref="§2.3 semi join (free in Catalyst)",
)
def q_orders_with_returns(spark, sf_dir):
    return orders_with_returns(t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem"))


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    GROUP BY c_mktsegment
    """,
    survey_ref="§2.3 anti join (free in Catalyst)",
)
def q_customers_without_orders(spark, sf_dir):
    return customers_without_orders(t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders"))


@register(
    "part_supply_stats",
    oracle="""
    SELECT p.p_brand AS p_brand,
           count(*) AS n_lines,
           count(DISTINCT l.l_suppkey) AS n_suppliers,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    survey_ref="§2.4 distinct aggregation + broadcast dim join",
)
def q_part_supply_stats(spark, sf_dir):
    return part_supply_stats(t(spark, sf_dir, "part"), t(spark, sf_dir, "lineitem"))


@register(
    "order_priority_counts",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    survey_ref="§2.3 EXISTS semi join with mixed condition (TPC-H Q4 shape)",
)
def q_order_priority_counts(spark, sf_dir):
    return order_priority_counts(t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem"))


@register(
    "rollup_revenue",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    survey_ref="§2.4 grouping sets (beyond reference; free in Catalyst)",
)
def q_rollup_revenue(spark, sf_dir):
    return group_sets_revenue(t(spark, sf_dir, "orders"))


@register(
    "set_ops_customers",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    survey_ref="§2.9 set ops (beyond reference; free in Catalyst)",
)
def q_set_ops_customers(spark, sf_dir):
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ords = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.intersect(ords)


# --------------------------------------------------------------------------
# window functions / upsert semantics (§2.4 A3, §2.5, §2.6)
# --------------------------------------------------------------------------


@register(
    "upsert_latest_events",
    oracle="""
    SELECT user_id, event_type, round(value, 2) AS value,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    survey_ref="§2.4 A3 last-value-per-key / §2.1 S3 upsert source semantics",
)
def q_upsert_latest_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    return latest_per_key(
        ev,
        key_cols=["user_id"],
        order_col="ts_us",
        value_cols=["event_type", "value", "ts_us"],
        tiebreak_col="event_id",
    )


@register(
    "fill_forward_events",
    # one row per event, BOTH W1 frames side by side: the unbounded ROWS
    # fill-forward and the exact 30-day RANGE frame.  Merged into one
    # catalog entry so both operators stay inside the driver's 50-query
    # correctness window (each remains an independent operator in
    # operators/windows.py with its own pytest coverage).
    oracle="""
    SELECT event_id, user_id,
           round(last_value(CASE WHEN event_type = 'view' THEN NULL ELSE value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled_value,
           round(last_value(CASE WHEN event_type = 'view' THEN NULL ELSE value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY epoch(ts)
                       RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2) AS filled_value_30d
    FROM events
    """,
    survey_ref="§2.5 W1 LAST_VALUE fill-forward (rows frame) + W1 exact RANGE INTERVAL 30 DAY frame",
)
def q_fill_forward_events(spark, sf_dir):
    from streaming_examples_spark.operators.windows import fill_forward_range

    ev = t(spark, sf_dir, "events")
    # 'view' events play the TOAST sentinel role: value treated missing
    masked = F.when(F.col("event_type") == "view", F.lit(None)).otherwise(F.col("value"))
    out = fill_forward(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        target=masked,
        out_name="_ff",
    )
    out = fill_forward_range(out, ["user_id"], "ts", masked, "_ff30", days=30)
    return out.select(
        "event_id",
        "user_id",
        F.round("_ff", 2).alias("filled_value"),
        F.round("_ff30", 2).alias("filled_value_30d"),
    )


@register(
    "event_ranks",
    oracle="""
    SELECT user_id, event_id, event_type,
           row_number() OVER w AS seq,
           round(value - coalesce(lag(value) OVER w, 0), 2) AS value_delta,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    survey_ref="§2.5 ranking/lag (beyond reference; required by A3)",
)
def q_event_ranks(spark, sf_dir):
    return event_ranks(t(spark, sf_dir, "events"))


@register(
    "asof_click_before_purchase",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') WHERE rn = 1
    )
    SELECT p.event_id, p.user_id, p.purchase_value,
           round(c.value, 2) AS click_value_asof
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    survey_ref="as-of join (operator Spark lacks; the tx pipeline's core scan generalized)",
)
def q_asof_click_before_purchase(spark, sf_dir):
    from streaming_examples_spark.operators.asof import asof_join
    from streaming_examples_spark.operators.windows import latest_per_key

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    # dedup clicks per (user, ts) so as-of ties are deterministic
    clicks = latest_per_key(
        ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value", "event_id"),
        key_cols=["user_id", "ts"],
        order_col="event_id",
        value_cols=["value"],
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
        suffix="_asof",
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_value",
        F.round("value_asof", 2).alias("click_value_asof"),
    )


@register(
    "range_join_purchase_error",
    oracle="""
    SELECT p.event_id AS p_event, e.event_id AS e_event, p.user_id,
           round(abs(epoch(p.ts) - epoch(e.ts)), 3) AS dt_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND abs(epoch(p.ts) - epoch(e.ts)) <= 3600.0
    """,
    survey_ref="range/interval join (bucketized — plan Spark won't synthesize itself)",
)
def q_range_join_purchase_error(spark, sf_dir):
    from streaming_examples_spark.operators.asof import range_join_buckets

    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event"), "user_id", F.col("ts").alias("p_ts")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_event"),
        F.col("user_id").alias("user_id_r"),
        F.col("ts").alias("e_ts"),
    )
    joined = range_join_buckets(
        p,
        e.withColumnRenamed("user_id_r", "user_id"),
        on=["user_id"],
        left_ts="p_ts",
        right_ts="e_ts",
        range_seconds=3600.0,
    )
    return joined.select(
        "p_event",
        "e_event",
        "user_id",
        F.round(
            F.abs(F.col("p_ts").cast("double") - F.col("e_ts").cast("double")), 3
        ).alias("dt_sec"),
    )


@register(
    "tumbling_window_counts",
    oracle="""
    SELECT CAST(epoch_us(time_bucket(INTERVAL 60 MINUTE, ts)) AS BIGINT) AS window_start_us,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ref="streaming windowed agg (withWatermark + window) — batch twin",
)
def q_tumbling_window_counts(spark, sf_dir):
    from streaming_examples_spark.streaming.windows import tumbling_counts

    ev = t(spark, sf_dir, "events")
    return tumbling_counts(ev, window_minutes=60, key_col="event_type")


# approx_count_distinct (HLL++) is deliberately NOT a catalog entry:
# sketches differ across engines (rows-only forever) and the driver
# checks only the first 50 registered entries. Error bounds are
# pytest-asserted in tests/test_datapipe.py.


@register(
    "sessionize_events",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
           floor(sum(value) * 100 + 0.5) / 100.0 AS session_value
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    survey_ref="session windows (streaming §2.6 batch twin)",
)
def q_sessionize_events(spark, sf_dir):
    out = sessionize(t(spark, sf_dir, "events"), gap_minutes=30.0)
    return out.select(
        "user_id",
        "session_seq",
        "n_events",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "session_value",
    )
