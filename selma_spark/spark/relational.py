"""Relational queries over the TPC-H-style tables.

The join/aggregate surface a user of a general analytics engine hits
constantly, expressed so Catalyst produces the plan you'd want at 100 TB:

* dimension joins BROADCAST the small side explicitly (nation/region/
  customer/part are classic broadcast dims; the fact tables stream
  through map-side hash joins with zero fact-table shuffle),
* rollups aggregate with map-side partial aggregation (one shuffle on
  the group keys),
* money sums are computed in DECIMAL (exact, associative — immune to
  float reduction-order nondeterminism across partitioned executions)
  and surfaced as strings for stable cross-engine comparison,
* top-k uses orderBy+limit, which Spark plans as TakeOrderedAndProject
  (no global sort materialization).

Plan shapes are pinned by tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(18,2)"
# result rows of the top-k queries; the oracles build LIMIT/rk from these
BRAND_TOPK = 10
PRIORITY_TOPK = 5


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: per (returnflag, linestatus),
    exact decimal sums of quantity / extended price / discounted price.
    One shuffle (the groupBy); partial aggregation happens map-side."""
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc_price = price * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(qty).cast("decimal(38,2)").cast("string").alias("sum_qty"),
            F.sum(price).cast("decimal(38,2)").cast("string").alias("sum_base_price"),
            F.sum(disc_price).cast("decimal(38,4)").cast("string").alias("sum_disc_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Revenue rollup through the dimension chain orders->customer->
    nation->region. customer/nation/region are broadcast (the fact
    table never shuffles for the joins; the only exchange is the final
    groupBy)."""
    j = (
        orders.join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        j.groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("revenue"),
        )
        .orderBy("r_name", "n_name")
    )


def brand_revenue_topk(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Top-BRAND_TOPK brands by discounted revenue: fact ⋈
    broadcast(part dim), map-side partial agg, TakeOrderedAndProject for
    the top-k (ties broken by brand for determinism)."""
    disc_price = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )
    agg = (
        lineitem.join(
            F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"]
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(disc_price).cast("decimal(38,4)").alias("_rev"),
        )
    )
    return (
        agg.orderBy(F.desc("_rev"), "p_brand")
        .limit(BRAND_TOPK)
        .select(
            "p_brand",
            "n_items",
            F.col("_rev").cast("string").alias("revenue"),
        )
    )


def revenue_rollup(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Multi-level ROLLUP through the same broadcast dimension chain:
    (region, nation) subtotals, per-region subtotals, and the grand
    total in ONE aggregation pass (Spark expands the grouping sets
    map-side — no second scan per level). Rolled-up levels surface as
    NULL group keys in both engines."""
    j = (
        orders.join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("revenue"),
        )
        # rolled-up levels surface as '(all)' instead of NULL: keeps the
        # output free of NULL group keys (engine NULL-ordering and
        # canonicalization differences) — '(all)' cannot collide with a
        # real region/nation name in this schema
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("r_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            "n_orders",
            "revenue",
        )
        .orderBy("r_name", "n_name")
    )


def funnel_steps(events: DataFrame) -> DataFrame:
    """Sequential funnel view -> click -> purchase per user: each step's
    timestamp is the earliest qualifying event STRICTLY AFTER the
    previous step. Three conditional min-aggregates chained by per-user
    joins — every shuffle is on user_id, so at scale the three
    aggregations co-partition and AQE collapses the tiny joins."""
    v = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        events.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
            ).alias("steps_reached"),
            # string timestamps with '' for unreached steps: NULL-free
            # output for stable cross-engine canonicalization
            F.col("t_view").cast("string").alias("t_view"),
            F.coalesce(F.col("t_click").cast("string"), F.lit("")).alias(
                "t_click"
            ),
            F.coalesce(F.col("t_purchase").cast("string"), F.lit("")).alias(
                "t_purchase"
            ),
        )
        .orderBy("user_id")
    )


def _six_hour_bucket(ts_col):
    """6-hour grid bucket from (day-of-month, hour) components — NTZ-safe
    (no epoch cast; TIMESTAMP_NTZ refuses numeric casts). Single-month
    corpus assumption documented in promo_range_join."""
    return (
        (F.dayofmonth(ts_col) - 1) * 4 + F.floor(F.hour(ts_col) / 6)
    ).cast("int")


def promo_range_join(events: DataFrame, intervals: DataFrame) -> DataFrame:
    """Range (interval-containment) join, Spark-first: event ts in
    [start_ts, end_ts). A naive range-condition join plans as a
    broadcast nested loop over ALL (event, interval) pairs — quadratic
    at corpus scale. The scalable shape buckets the time axis (6-hour
    grid), explodes each interval into the buckets it spans (intervals
    are few; the exploded table broadcasts), equi-joins on bucket, and
    refines with the exact range predicate — candidates are only the
    events sharing a bucket with an interval.

    The demo grid keys on (day-of-month, hour) because the corpus spans
    one month and TIMESTAMP_NTZ refuses epoch casts; a production grid
    keys on epoch seconds with the same explode/equi-join/refine shape.
    Intervals must not span a month boundary (their bucket sequence
    would break); the refine predicate keeps correctness exact for any
    candidate the bucketing produces."""
    # degenerate intervals (end_ts <= start_ts) match nothing under the
    # half-open predicate, but F.sequence would auto-step -1 through a
    # DESCENDING bucket list and silently explode spurious candidates
    # (ADVICE r3) — drop them before the explode
    iv = intervals.where(F.col("end_ts") > F.col("start_ts")).select(
        "promo_id",
        "start_ts",
        "end_ts",
        F.explode(
            F.sequence(
                _six_hour_bucket(F.col("start_ts")),
                _six_hour_bucket(F.expr("end_ts - INTERVAL 1 SECOND")),
            )
        ).alias("bucket"),
    )
    evb = events.select(
        "event_id", "ts", _six_hour_bucket(F.col("ts")).alias("bucket")
    )
    return (
        evb.join(F.broadcast(iv), "bucket")
        .where(
            (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
        )
        .select("event_id", "promo_id")
        .orderBy("event_id", "promo_id")
    )


def asof_last_view_before_purchase(events: DataFrame) -> DataFrame:
    """AS-OF join, Spark-first: each purchase is joined to the user's
    most recent view at-or-before the purchase timestamp. Spark has no
    native ASOF operator; the scalable re-expression is a UNION of both
    sides tagged by kind plus ONE user-partitioned running-max window —
    never a per-row range subquery or an inequality join (which Spark
    plans as a broadcast nested loop and which explodes at corpus
    scale). At equal timestamps the view sorts before the purchase, so
    `view.ts <= purchase.ts` semantics match DuckDB's native ASOF JOIN
    (the oracle) exactly."""
    from pyspark.sql.window import Window

    tagged = events.where(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("_k"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "_k", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_last = tagged.withColumn(
        "_last_view_ts", F.max(F.when(F.col("_k") == 0, F.col("ts"))).over(w)
    )
    return (
        with_last.where(F.col("_k") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("string").alias("purchase_ts"),
            F.coalesce(
                F.col("_last_view_ts").cast("string"), F.lit("")
            ).alias("last_view_ts"),
        )
        .orderBy("event_id")
    )


def priority_top_orders(orders: DataFrame) -> DataFrame:
    """Per-priority top-PRIORITY_TOPK orders by total price: a
    PARTITIONED window (hash exchange on o_orderpriority, never a single
    global sort); o_orderkey tie-break keeps the ranking total and
    reproducible."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= PRIORITY_TOPK)
        .select(
            "o_orderpriority",
            "rk",
            "o_orderkey",
            F.col("o_totalprice").cast(_DEC).cast("string").alias("total_price"),
        )
        .orderBy("o_orderpriority", "rk")
    )
