"""Relational query family over the TPC-H-ish testdata tables — exercises the
engine's join / aggregation / window / set-op / sort surface (SURVEY.md §2.3,
§2.4, §2.6, §2.7) at a scale where join strategy actually matters.

Money aggregates use exact integer cents (see catalog.py header): a double
SUM is summation-order-dependent, an integer SUM is not. Product terms stay
in scaled-integer space (price_cents × (100−disc_cents) is exact in 1e-4
currency units; adding the tax factor, 1e-6 units — both < 2^63 up to ~sf10).

Scale design notes (verified via .explain at sf0.1):
- dimension joins (region, nation, customer, supplier, part) are broadcast;
- fact-fact joins (orders ⋈ lineitem) shuffle on the key; AQE handles skew;
- top-k is orderBy+limit → TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.operators.joins import salted_join
from satsure_agri_datapipeline_spark.plans.catalog import cents, half_up, query, report_sort
from satsure_agri_datapipeline_spark.sources.tables import load_table


@query(
    "tpch_pricing_summary",
    """
    WITH c AS (
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_c,
               CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_c
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty_c) AS BIGINT) AS sum_qty_c,
           CAST(SUM(price_c) AS BIGINT) AS sum_base_price_c,
           CAST(SUM(price_c * (100 - disc_c)) AS BIGINT) AS sum_disc_price_e4,
           CAST(SUM(price_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT) AS sum_charge_e6,
           CAST(FLOOR(SUM(qty_c) * 100.0 / COUNT(*) + 0.5) AS BIGINT) AS avg_qty_e4,
           CAST(FLOOR(SUM(price_c) * 100.0 / COUNT(*) + 0.5) AS BIGINT) AS avg_price_e4,
           CAST(FLOOR(SUM(disc_c) * 100.0 / COUNT(*) + 0.5) AS BIGINT) AS avg_disc_e4,
           COUNT(*) AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape — wide multi-agg with filter pushdown; partial/final
    hash-agg split is Catalyst-automatic (SURVEY §2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = cents(F.col("l_quantity"))
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    tax_c = cents(F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            qty_c.alias("qty_c"),
            price_c.alias("price_c"),
            disc_c.alias("disc_c"),
            tax_c.alias("tax_c"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty_c").alias("sum_qty_c"),
            F.sum("price_c").alias("sum_base_price_c"),
            F.sum(F.col("price_c") * (100 - F.col("disc_c"))).alias("sum_disc_price_e4"),
            F.sum(
                F.col("price_c") * (100 - F.col("disc_c")) * (100 + F.col("tax_c"))
            ).alias("sum_charge_e6"),
            half_up(F.sum("qty_c") * 100.0 / n).alias("avg_qty_e4"),
            half_up(F.sum("price_c") * 100.0 / n).alias("avg_price_e4"),
            half_up(F.sum("disc_c") * 100.0 / n).alias("avg_disc_e4"),
            n.alias("count_order"),
        )
        .transform(report_sort, "l_returnflag", "l_linestatus")
    )


SEGMENT_REVENUE_SQL = """
    SELECT c.c_mktsegment,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS segment_revenue_c,
           COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """


def _segment_revenue_plan(o, c):
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("__rev"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("__rev").alias("segment_revenue_c"),
            F.sum("__n").alias("n_orders"),
            F.count(F.lit(1)).cast("long").alias("n_customers"),
        )
        .transform(report_sort, "c_mktsegment")
    )


@query("join_segment_revenue", SEGMENT_REVENUE_SQL)
def join_segment_revenue(spark, sf_dir):
    """J1 — equi join fact→dimension, with the AGGREGATE PUSHED BELOW THE
    JOIN: orders pre-aggregates per custkey (algebraic sums, map-side
    partials), so the custkey shuffle carries ≤ |customers| narrow rows
    instead of every order row, and the join is customer-sized on both
    sides. COUNT(DISTINCT o_custkey) collapses to COUNT(*) — the pre-agg
    relation has exactly one row per custkey. Inner-join semantics are
    preserved: custkeys missing from customer drop after either form.
    NO broadcast hint on customer: it is a GROWING table (SF×150k rows —
    100× scale measured the forced broadcast at 12.1 s vs DuckDB 1.2 s,
    r5); AQE still broadcasts it at runtime when it is actually small."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return _segment_revenue_plan(o, c)


MULTIWAY_REVENUE_SQL = """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    ORDER BY revenue_e4 DESC, nation
    """


def _multiway_revenue_plan(l, o, c, n, r):
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    cn = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name").isin("ASIA", "EUROPE"))
        .select("c_custkey", "n_name")
    )
    o2 = o.join(cn, o.o_custkey == cn.c_custkey).select("o_orderkey", "n_name")
    return (
        l.join(o2, l.l_orderkey == o2.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).alias("revenue_e4"), F.count(F.lit(1)).alias("n_items"))
        .transform(report_sort, F.desc("revenue_e4"), "nation")
    )


@query("join_multiway_revenue", MULTIWAY_REVENUE_SQL)
def join_multiway_revenue(spark, sf_dir):
    """TPC-H Q5 shape — 5-way join in DIMS-FIRST order, the 100 TB form of
    this plan (measured best of three formulations at 100× bench scale, r6:
    dims-first 4.2 s vs plain join tree 4.9 s vs staged-preagg 9.1 s).

    1. customer ⋈ broadcast(nation) ⋈ broadcast(region), region filter
       applied HERE — 60 % of customers drop before any fact is touched,
       leaving a narrow (c_custkey, n_name) relation.
    2. orders ⋈ that relation on custkey: the only custkey exchange
       carries orders' two relevant columns, and its output is a narrow
       (o_orderkey, n_name) relation at 40 % of |orders|.
    3. lineitem ⋈ that on orderkey — the single big exchange in the plan,
       and lineitem ships only (l_orderkey, rev) — then ONE final
       groupBy(n_name): 25 groups, map-side partials collapse fully, so
       the joined fact relation is never re-shuffled on a second key.

    The rejected alternatives teach the shape: the plain tree re-shuffles
    the wide lineitem⋈orders join on custkey (a second 60M-row exchange),
    and pre-aggregating lineitem per orderkey (r6 first attempt) pays a
    ~15M-group hash aggregate — near-unique keys, so partials don't
    compress and the aggregate costs more than the exchange it saves.
    customer GROWS with SF — no hint (the forced broadcast measured
    71.6 s at 100×, r5); nation/region are true fixed-size dims and keep
    theirs."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return _multiway_revenue_plan(l, o, c, n, r)


def _bucketed_tables(spark, sf_dir, names):
    """Serve ``names`` from the per-sf_dir bucketed layout, building it on
    first use (``sources/bucketed.py``) — independent of the opt-in env var,
    so the correctness gate exercises the layout unconditionally."""
    from satsure_agri_datapipeline_spark.sources.bucketed import (
        _table_name,
        ensure_bucketed_layout,
    )

    ensure_bucketed_layout(spark, sf_dir, tables=list(names))
    return [spark.table(_table_name(n)) for n in names]


@query("join_multiway_revenue_bucketed", MULTIWAY_REVENUE_SQL)
def join_multiway_revenue_bucketed(spark, sf_dir):
    """The SAME multiway plan served from the bucketed storage layout — the
    configuration that carries the headline 100×/1000× numbers (lineitem
    clustered on l_orderkey, orders/customer on custkey: the orderkey and
    custkey exchanges vanish). Oracle identical to the raw path, so the
    layout itself is hash-pinned by the correctness gate, not just
    row-identity-checked in pytest."""
    l, o, c = _bucketed_tables(spark, sf_dir, ["lineitem", "orders", "customer"])
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return _multiway_revenue_plan(l, o, c, n, r)


@query("join_segment_revenue_bucketed", SEGMENT_REVENUE_SQL)
def join_segment_revenue_bucketed(spark, sf_dir):
    """Segment revenue through the bucketed layout: orders is clustered on
    o_custkey, so the per-custkey pre-aggregate plans zero Exchange; the
    customer side shares the same bucket count for an exchange-free join.
    Same oracle as the raw path."""
    o, c = _bucketed_tables(spark, sf_dir, ["orders", "customer"])
    return _segment_revenue_plan(o, c)


@query(
    "join_anti_inactive_customers",
    """
    SELECT c.c_mktsegment, COUNT(*) AS inactive_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def join_anti_inactive_customers(spark, sf_dir):
    """J3 — left anti join (NOT EXISTS), the gap-detection primitive."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("inactive_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "join_semi_active_customers",
    """
    SELECT c.c_mktsegment, COUNT(*) AS active_customers
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def join_semi_active_customers(spark, sf_dir):
    """Left semi join (EXISTS) — free in Spark, absent in the reference."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("active_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "cross_join_domain",
    """
    SELECT r.r_name, s.o_orderstatus, COUNT(*) AS n
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def cross_join_domain(spark, sf_dir):
    """J2 — cross join for domain expansion (validation.py:261-272 pattern)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    s = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return (
        r.crossJoin(s)
        .groupBy("r_name", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("r_name", "o_orderstatus")
    )


@query(
    "window_top_order_per_customer",
    """
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS top_price_c
    FROM ranked WHERE rn = 1 ORDER BY o_custkey
    """,
)
def window_top_order_per_customer(spark, sf_dir):
    """W2/O — top-1 order per customer with deterministic tiebreak.

    Optimization r14 (guide §2.3 — aggregate before you shuffle): the r12
    form was ROW_NUMBER() OVER (PARTITION BY cust ORDER BY price DESC, key)
    + rn=1 filter — a Sort on every order and a Window node that ranks
    every order just to keep one row per customer. Top-1-per-group IS an
    aggregate: ``max(struct(price, -orderkey, orderkey))``. The saving is
    the removed sort comparator and Window node, not exchange compression:
    the ROW_NUMBER plan already had a ``WindowGroupLimit Partial`` below
    its exchange, so both forms ship about one row per customer per map
    task. (A struct-typed max has no mutable hash buffer, so both
    aggregate halves plan as SortAggregate — a group-key sort remains on
    each side.) Equivalence: o_orderkey is unique, so the struct max is
    unique; (price DESC, key ASC) == argmax of (price, -key); NULL prices
    lose under desc_nulls_last exactly as a NULL struct field loses under
    max; the key field never decides. The cents are derived from the
    winning price after the aggregate, so the struct carries no derivable
    field. Raced (rows asserted identical first, tools/race_window_top.py):
    sf0.1 0.189 → 0.169 s, 100× 1.705 → 1.266 s (−26%), faster in every
    paired round at both scales."""
    o = load_table(spark, sf_dir, "orders")
    top = F.max(
        F.struct(
            F.col("o_totalprice").alias("p"),
            (-F.col("o_orderkey")).alias("nk"),
            F.col("o_orderkey").alias("k"),
        )
    ).alias("t")
    return o.groupBy("o_custkey").agg(top).select(
        "o_custkey",
        F.col("t.k").alias("o_orderkey"),
        cents(F.col("t.p")).alias("top_price_c"),
    )


@query(
    "window_running_and_lag",
    """
    WITH c AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(SUM(price_c) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_spend_c,
           CAST(COALESCE(price_c - LAG(price_c) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0) AS BIGINT) AS delta_vs_prev_c,
           CAST(NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS price_quartile
    FROM c ORDER BY o_orderkey
    """,
)
def window_running_and_lag(spark, sf_dir):
    """Window surface beyond the reference (SURVEY §2.5 'not implemented'):
    running sum, lag delta, ntile — exposed as engine capabilities."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "price_c", cents(F.col("o_totalprice"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.sum("price_c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
                "running_spend_c"
            ),
            F.coalesce(
                F.col("price_c") - F.lag("price_c").over(w), F.lit(0)
            ).alias("delta_vs_prev_c"),
            F.ntile(4)
            .over(Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey"))
            .cast("long")
            .alias("price_quartile"),
        )
    )


@query(
    "window_price_band_stats",
    """
    WITH c AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders
    )
    SELECT o_orderkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS band_n,
           CAST(MAX(price_c) OVER w AS BIGINT) AS band_max_c,
           CAST(COALESCE(SUM(price_c) OVER w2, 0) AS BIGINT) AS above_band_c
    FROM c
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price_c
                 RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING),
           w2 AS (PARTITION BY o_orderpriority ORDER BY price_c
                  RANGE BETWEEN 100000 FOLLOWING AND 200000 FOLLOWING)
    ORDER BY o_orderkey
    """,
)
def window_price_band_stats(spark, sf_dir):
    """RANGE-BETWEEN frames with literal VALUE offsets (SURVEY §2.5 frame
    surface; fuzz family ``rframe``'s pinned catalog twin): per order,
    peers within ±$1000 of its price inside its priority class, plus a
    detached FOLLOWING-only frame ($1000, $2000] that can be EMPTY (NULL
    sum → coalesced). RANGE frames include ALL peers of the boundary
    values, so the result is deterministic with NO tiebreak column — the
    exact property ROWS frames lack; the frame is resolved by a running
    two-pointer over each sorted partition (one shuffle + sort, no
    per-row rescan). Distributed caveat at 100 TB: a single priority
    class is one window partition; this shape is for band analytics
    within bounded classes — use ``distributed_rank``'s bucketing ideas
    when partitions outgrow one task."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("price_c")
        .rangeBetween(-100_000, 100_000)
    )
    w2 = (
        Window.partitionBy("o_orderpriority")
        .orderBy("price_c")
        .rangeBetween(100_000, 200_000)
    )
    # row-per-order output: no report sort (the compare is order-insensitive;
    # a single-partition sort of |orders| rows would be the real bug here)
    return o.select(
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("band_n"),
        F.max("price_c").over(w).alias("band_max_c"),
        F.coalesce(F.sum("price_c").over(w2), F.lit(0)).alias("above_band_c"),
    )


@query(
    "set_ops_custkeys",
    """
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
         y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
    SELECT
        (SELECT COUNT(*) FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96) t) AS both_years,
        (SELECT COUNT(*) FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96) t) AS only_95,
        (SELECT COUNT(*) FROM (SELECT o_custkey FROM y95 UNION SELECT o_custkey FROM y96) t) AS either_year
    """,
)
def set_ops_custkeys(spark, sf_dir):
    """U — INTERSECT / EXCEPT / UNION DISTINCT (SURVEY §2.7)."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_custkey").distinct()
    y96 = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey").distinct()
    both = y95.intersect(y96).count()
    only95 = y95.exceptAll(y96).distinct().count()
    either = y95.union(y96).distinct().count()
    return spark.createDataFrame(
        [(both, only95, either)], "both_years long, only_95 long, either_year long"
    )


@query(
    "union_all_slices",
    """
    SELECT event_type, COUNT(*) AS n
    FROM (
        SELECT event_type FROM events WHERE value > 15
        UNION ALL
        SELECT event_type FROM events WHERE user_id % 2 = 0
    ) u
    GROUP BY event_type ORDER BY event_type
    """,
)
def union_all_slices(spark, sf_dir):
    """U1 — UNION ALL of two slices (ingestion concat pattern, ingestion.py:91)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("value") > 15).select("event_type")
    b = ev.where(F.col("user_id") % 2 == 0).select("event_type")
    return (
        a.unionByName(b)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "conditional_agg_priority",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS big_orders,
           CAST(FLOOR(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) * 10000.0 / COUNT(*) + 0.5) AS BIGINT) AS big_pct_e2
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def conditional_agg_priority(spark, sf_dir):
    """A4/A5 pattern — SUM(CASE WHEN)/COUNT percentage aggregation."""
    o = load_table(spark, sf_dir, "orders")
    big = (F.col("o_totalprice") > 150000).cast("long")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(big).alias("big_orders"),
            half_up(F.sum(big) * 10000.0 / F.count(F.lit(1))).alias("big_pct_e2"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "rollup_revenue",
    """
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def rollup_revenue(spark, sf_dir):
    """ROLLUP grouping sets (beyond-reference surface, SURVEY §2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("revenue_c"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "revenue_c",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "topk_orders",
    """
    SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_c
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders(spark, sf_dir):
    """O — ORDER BY + LIMIT top-k (TakeOrderedAndProject, no global sort)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", cents(F.col("o_totalprice")).alias("totalprice_c"))
        .limit(10)
    )


@query(
    "part_supplier_enrichment",
    """
    SELECT p.p_brand, s.s_name IS NOT NULL AS has_supplier_info,
           COUNT(*) AS n,
           CAST(FLOOR(SUM(CAST(ROUND(p.p_retailprice * 100) AS BIGINT)) * 100.0 / COUNT(*) + 0.5) AS BIGINT) AS avg_price_e4
    FROM part p
    LEFT JOIN supplier s ON p.p_partkey % 100 = s.s_suppkey - 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def part_supplier_enrichment(spark, sf_dir):
    """Left outer join preserving unmatched rows (J1 left-join semantics)."""
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    return (
        # supplier grows with SF — AQE picks broadcast while it fits
        p.join(s, p.p_partkey % 100 == s.s_suppkey - 1, "left")
        .groupBy("p_brand", F.col("s_name").isNotNull().alias("has_supplier_info"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            half_up(F.sum(cents(F.col("p_retailprice"))) * 100.0 / F.count(F.lit(1))).alias(
                "avg_price_e4"
            ),
        )
        .orderBy("p_brand", "has_supplier_info")
    )


@query(
    "cube_priority_status",
    """
    SELECT COALESCE(o_orderpriority, '(all)') AS priority,
           COALESCE(o_orderstatus, '(all)') AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    ORDER BY priority, status
    """,
)
def cube_priority_status(spark, sf_dir):
    """CUBE grouping sets — all four grouping combinations in one pass
    (Catalyst expands to a union of grouping sets; SURVEY §2.4)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("revenue_c"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "n_orders",
            "revenue_c",
        )
        .orderBy("priority", "status")
    )


@query(
    "exists_returned_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def exists_returned_orders(spark, sf_dir):
    """TPC-H Q4 shape — EXISTS correlated subquery as a left-semi join with
    a pushed filter on the probe side (SURVEY §2.3)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "outerjoin_order_distribution",
    """
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def outerjoin_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape — left outer join preserving zero-order customers,
    then a distribution over the grouped counts (two hash aggregates)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "ntile_price_quartiles",
    """
    WITH t AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
               NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
        FROM orders
    )
    SELECT quartile, COUNT(*) AS n,
           MIN(price_c) AS min_price_c, MAX(price_c) AS max_price_c
    FROM t GROUP BY quartile ORDER BY quartile
    """,
)
def ntile_price_quartiles(spark, sf_dir):
    """NTILE bucketing over a deterministic total order (tiebreak on
    orderkey), aggregated per quartile (SURVEY §2.5 rank-family surface)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            cents(F.col("o_totalprice")).alias("price_c"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("price_c").alias("min_price_c"),
            F.max("price_c").alias("max_price_c"),
        )
        .orderBy("quartile")
    )


@query(
    "pivot_sensor_type",
    """
    SELECT 'sensor_' || CAST(user_id AS VARCHAR) AS sensor_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS click_c,
           CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS error_c,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS purchase_c,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS signup_c,
           CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS view_c
    FROM events
    GROUP BY user_id
    ORDER BY sensor_id
    """,
)
def pivot_sensor_type(spark, sf_dir):
    """Pivot (long → wide): per-sensor value totals, one column per event
    type. The pivot values are DECLARED, not discovered — the implicit
    variant costs an extra distinct-scan job over the fact table before the
    real aggregation even starts. With the values known, the engine lowers
    the pivot to conditional aggregation: ONE hash aggregate / one shuffle,
    where ``df.pivot()`` would compile its generic two-phase plan — an
    Aggregate keyed (sensor, type) feeding a PivotFirst aggregate keyed
    (sensor), i.e. two shuffles (measured in test_plans.py)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.concat(F.lit("sensor_"), F.col("user_id").cast("string")).alias("sensor_id"),
        "event_type",
        cents(F.col("value")).alias("value_c"),
    )
    agg = [
        F.sum(F.when(F.col("event_type") == v, F.col("value_c"))).alias(f"{v}_c")
        for v in ["click", "error", "purchase", "signup", "view"]
    ]
    return base.groupBy("sensor_id").agg(*agg).orderBy("sensor_id")


@query(
    "grouping_sets_revenue",
    """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS gid,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    ORDER BY gid, priority, status
    """,
)
def grouping_sets_revenue(spark, sf_dir):
    """GROUPING SETS with grouping_id disambiguation — the general form
    behind rollup/cube (SURVEY §2.4 'not implemented' row). Spark expands
    the sets via a single Expand + hash aggregate: one scan, one shuffle,
    regardless of how many sets are requested."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
               SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS revenue_c,
               COUNT(*) AS n_orders
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, priority, status
        """
    )


@query(
    "corr_subquery_big_orders",
    """
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c
        FROM orders
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_big,
           CAST(SUM(price_c) AS BIGINT) AS revenue_c
    FROM o
    WHERE price_c * 2 > (SELECT SUM(price_c) FROM o o2 WHERE o2.o_custkey = o.o_custkey)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def corr_subquery_big_orders(spark, sf_dir):
    """Correlated scalar subquery: orders that alone carry more than half
    their customer's lifetime spend. Catalyst decorrelates this into an
    aggregate + equi-join on o_custkey (no per-row re-execution — the
    rewrite is what makes the shape viable at 100 TB, where a naive
    correlated loop is O(rows × customers)). The comparison stays in exact
    integer cents: price_c*2 > sum avoids a division."""
    o = load_table(spark, sf_dir, "orders")
    o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("price_c"),
    ).createOrReplaceTempView("__cs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_big,
               SUM(price_c) AS revenue_c
        FROM __cs_orders o
        WHERE price_c * 2 > (SELECT SUM(price_c) FROM __cs_orders o2
                             WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@query(
    "top_supplier_revenue",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS total_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_e4
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_e4 = (SELECT MAX(total_e4) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def top_supplier_revenue(spark, sf_dir):
    """TPC-H Q15 shape — aggregate 'view', global-max scalar subquery, then
    a dimension join. The max is a 1-row broadcast; the supplier dimension
    is broadcast too; only the lineitem scan + revenue aggregate shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select(
            "l_suppkey",
            (
                cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
            ).alias("rev_e4"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("rev_e4").alias("total_e4"))
    )
    max_rev = rev.agg(F.max("total_e4").alias("m"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_e4 == max_rev.m, "inner")
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))  # supplier grows
        .select("s_suppkey", "s_name", "total_e4")
        .orderBy("s_suppkey")
    )


@query(
    "percentile_order_price",
    """
    SELECT o_orderpriority,
           CAST(quantile_cont(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.25) * 4 AS BIGINT) AS p25_c4,
           CAST(quantile_cont(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.50) * 4 AS BIGINT) AS p50_c4,
           CAST(quantile_cont(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.75) * 4 AS BIGINT) AS p75_c4
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def percentile_order_price(spark, sf_dir):
    """Exact linear-interpolation percentiles per group. Determinism: the
    inputs are exact integer cents and p ∈ {.25, .5, .75}, so the
    interpolated value is an exact multiple of 0.25 — scaling by 4 yields an
    integer both engines compute exactly (no float-rounding ambiguity).
    At 100 TB swap F.percentile for percentile_approx (documented trade)."""
    o = load_table(spark, sf_dir, "orders")
    pc = cents(F.col("o_totalprice"))
    return (
        o.select("o_orderpriority", pc.alias("price_c"))
        .groupBy("o_orderpriority")
        .agg(
            (F.percentile("price_c", F.lit(0.25)) * 4).cast("long").alias("p25_c4"),
            (F.percentile("price_c", F.lit(0.50)) * 4).cast("long").alias("p50_c4"),
            (F.percentile("price_c", F.lit(0.75)) * 4).cast("long").alias("p75_c4"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "histogram_event_values",
    """
    SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_c
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def histogram_event_values(spark, sf_dir):
    """Fixed-width histogram — the one-pass binning primitive behind
    distribution profiling. Bucket id is FLOOR(v/width): a pure projection,
    so the whole query is scan → hash aggregate (one shuffle of ~n_buckets
    rows after partial aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("value").isNotNull())
        .groupBy(F.floor(F.col("value") / 50.0).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents(F.col("value"))).alias("sum_c"))
        .orderBy("bucket")
    )


@query(
    "calendar_monthly_orders",
    """
    SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS month_str,
           CAST(MAX(DAY(LAST_DAY(o_orderdate))) AS BIGINT) AS days_in_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN DAY(o_orderdate) > DAY(LAST_DAY(o_orderdate)) - 7
                         THEN 1 ELSE 0 END) AS BIGINT) AS last_week_orders,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def calendar_monthly_orders(spark, sf_dir):
    """Calendar-function surface (date_trunc/last_day/dayofmonth): monthly
    rollup with month length and a month-final-week share — the fiscal-
    calendar shape. One hash aggregate; the calendar math is pure
    projection, codegen'd."""
    o = load_table(spark, sf_dir, "orders")
    dim = F.dayofmonth(F.last_day("o_orderdate"))
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month_str"))
        .agg(
            F.max(dim).cast("long").alias("days_in_month"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.dayofmonth("o_orderdate") > dim - 7, 1).otherwise(0)
            ).alias("last_week_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("revenue_c"),
        )
        .orderBy("month_str")
    )


@query(
    "null_safe_battery_match",
    """
    WITH readings AS (
        SELECT 'sensor_' || CAST(user_id AS VARCHAR) AS sensor_id,
               CASE WHEN event_id % 10 = 0 THEN NULL ELSE 50.0 + value END AS battery_level,
               event_id
        FROM events
    ),
    a AS (SELECT * FROM readings WHERE event_id % 2 = 0),
    b AS (SELECT * FROM readings WHERE event_id % 2 = 1)
    SELECT a.sensor_id,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN a.battery_level IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pairs
    FROM a JOIN b
      ON a.sensor_id = b.sensor_id
     AND a.battery_level IS NOT DISTINCT FROM b.battery_level
    GROUP BY a.sensor_id
    ORDER BY a.sensor_id
    """,
)
def null_safe_battery_match(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    matches NULL exactly once per pair, unlike ``=`` which drops them.
    Still a hash-joinable equi-key — null-safe equality keeps the join in
    the hash family (nulls hash to a bucket) rather than degrading to a
    nested loop."""
    ev = load_table(spark, sf_dir, "events")
    readings = ev.select(
        F.concat(F.lit("sensor_"), F.col("user_id").cast("string")).alias("sensor_id"),
        F.when(F.col("event_id") % 10 == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(50.0) + F.col("value"))
        .alias("battery_level"),
        "event_id",
    )
    a = readings.where(F.col("event_id") % 2 == 0).alias("a")
    b = readings.where(F.col("event_id") % 2 == 1).alias("b")
    return (
        a.join(
            b,
            (F.col("a.sensor_id") == F.col("b.sensor_id"))
            & F.col("a.battery_level").eqNullSafe(F.col("b.battery_level")),
        )
        .groupBy(F.col("a.sensor_id").alias("sensor_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("a.battery_level").isNull(), 1).otherwise(0)
            ).alias("null_pairs"),
        )
        .orderBy("sensor_id")
    )


@query(
    "quantile_bucket_orders",
    """
    WITH t AS (SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c FROM orders),
    th AS (SELECT quantile_cont(price_c, 0.25) AS t1,
                  quantile_cont(price_c, 0.50) AS t2,
                  quantile_cont(price_c, 0.75) AS t3 FROM t),
    b AS (
        SELECT price_c,
               1 + CAST(price_c > t1 AS INT) + CAST(price_c > t2 AS INT)
                 + CAST(price_c > t3 AS INT) AS bucket
        FROM t, th
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
           MIN(price_c) AS min_price_c, MAX(price_c) AS max_price_c
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def quantile_bucket_orders(spark, sf_dir):
    """Distributed quantile bucketing (operators/sampling.py:
    quantile_buckets) — one aggregate for the thresholds + broadcast +
    map-side comparisons; no NTILE global sort. Thresholds at .25/.5/.75
    over integer cents are exact multiples of 0.25, so bucket assignment is
    engine-exact (same determinism argument as percentile_order_price)."""
    from satsure_agri_datapipeline_spark.operators.sampling import quantile_buckets

    o = load_table(spark, sf_dir, "orders").select(
        cents(F.col("o_totalprice")).alias("price_c")
    )
    b = quantile_buckets(o, "price_c", n_buckets=4)
    return (
        b.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("price_c").alias("min_price_c"),
            F.max("price_c").alias("max_price_c"),
        )
        .orderBy("bucket")
    )


@query(
    "set_ops_multiset",
    """
    WITH f AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
    SELECT
        (SELECT COUNT(*) FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM o) t) AS inter_all,
        (SELECT COUNT(*) FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM o) t) AS except_all
    """,
)
def set_ops_multiset(spark, sf_dir):
    """Multiset INTERSECT ALL / EXCEPT ALL (duplicate-preserving set ops —
    the §2.7 'not implemented' variants): per-row multiplicities are
    min(a,b) and max(a−b, 0) respectively, computed by Spark's dedicated
    intersectAll/exceptAll operators (one shuffle each on the row value)."""
    ords = load_table(spark, sf_dir, "orders")
    f = ords.where(F.col("o_orderstatus") == "F").select("o_orderpriority")
    o = ords.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    inter_all = f.intersectAll(o).count()
    except_all = f.exceptAll(o).count()
    return spark.createDataFrame(
        [(inter_all, except_all)], "inter_all long, except_all long"
    )


@query(
    "shipping_priority_topk",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_e4,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_e4 DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_topk(spark, sf_dir):
    """TPC-H Q3 shape — unshipped-order shipping priority: segment dim
    broadcast, both date filters pushed to the scans, fact-fact join
    shuffles on orderkey, then one hash aggregate and a
    TakeOrderedAndProject top-10 (no global sort)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        l.where(F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp"))
        .join(
            o.where(F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # filtered customer still scales with SF — AQE decides
        .join(c.where(F.col("c_mktsegment") == "BUILDING"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_e4"))
        .select("l_orderkey", "revenue_e4", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_e4"), "l_orderkey")
        .limit(10)
    )


@query(
    "join_salted_priority_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_c,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def join_salted_priority_revenue(spark, sf_dir):
    """Hot-key salted join (operators/joins.py salted_join, n_salts=8)
    oracle-checked against the plain unsalted join: spreading one join key
    over 8 shuffle partitions must not change a single row. This is the
    skew-mitigation path for keys too hot for AQE's partition splitting
    (one key = most of the fact table) when the right side exceeds the
    broadcast threshold."""
    l = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    joined = salted_join(l, o, on=["l_orderkey"], how="inner", n_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("revenue_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "events_json_props",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INT) AS max_k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_props(spark, sf_dir):
    """Semi-structured JSON property extraction (the §2.8 'JSON functions'
    surface): a declared-schema from_json parse — JVM-side, codegen'd, no
    UDF — then one hash aggregate. At scale prefer from_json with an
    explicit schema over schema_of_json inference (one pass, no sampling
    job), and push non-null filters on the parsed struct."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    ).where(F.col("p.k").isNotNull())
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("p.k").cast("long").alias("sum_k"),
            F.max("p.k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "join_full_outer_user_activity",
    """
    WITH clicks AS (
        SELECT user_id, COUNT(*) AS n_clicks FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ),
    purchases AS (
        SELECT user_id, COUNT(*) AS n_purchases FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(c.n_clicks, 0) AS n_clicks,
           COALESCE(p.n_purchases, 0) AS n_purchases
    FROM clicks c FULL OUTER JOIN purchases p ON c.user_id = p.user_id
    ORDER BY user_id
    """,
)
def join_full_outer_user_activity(spark, sf_dir):
    """FULL OUTER join (the remaining §2.3 join type): per-user click and
    purchase totals with COALESCE'd keys — users present on either side
    survive. Both inputs are pre-aggregated (user-bounded) before the join,
    so the outer shuffle carries counters, not raw events."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        clicks.join(purchases, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        )
        .orderBy("user_id")
    )


@query(
    "unpivot_lineitem_measures",
    """
    WITH long AS (
        SELECT 'l_discount' AS measure, l_discount AS val FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_quantity', l_quantity FROM lineitem
        UNION ALL
        SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT measure,
           CAST(SUM(CAST(ROUND(val * 100) AS BIGINT)) AS BIGINT) AS sum_c,
           COUNT(*) AS n
    FROM long GROUP BY measure ORDER BY measure
    """,
)
def unpivot_lineitem_measures(spark, sf_dir):
    """Wide→long UNPIVOT (melt) — the inverse of the declared-values pivot:
    four measure columns become (measure, val) rows via Spark's native
    unpivot (a codegen'd Expand node, one scan — not four self-unions),
    then one hash aggregate per measure."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.sum(cents(F.col("val"))).alias("sum_c"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("measure")
    )


@query(
    "window_rank_lead_orders",
    """
    SELECT o_custkey, o_orderkey,
           DENSE_RANK() OVER w AS price_rank,
           LEAD(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey
        ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC, o_orderkey
    )
    QUALIFY price_rank <= 3
    ORDER BY o_custkey, price_rank, o_orderkey
    """,
)
def window_rank_lead_orders(spark, sf_dir):
    """DENSE_RANK + LEAD in one window (the §2.5 'not implemented' rank
    family): top-3 priciest orders per customer with a pointer to the next
    order in rank sequence — one shuffle on o_custkey serves both
    functions. Rank keys are integer cents so ranking ties are
    engine-portable."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        cents(F.col("o_totalprice")).desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.dense_rank().over(w).alias("price_rank"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
        .where(F.col("price_rank") <= 3)
        .orderBy("o_custkey", "price_rank", "o_orderkey")
    )


@query(
    "array_agg_customer_orders",
    """
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS orderkeys
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def array_agg_customer_orders(spark, sf_dir):
    """Ordered ARRAY_AGG (collect_list + array_sort — collect_list alone is
    partition-order-nondeterministic, the sort makes it portable), rendered
    canonically for comparison. Per-group array state is bounded by orders
    per customer; for unbounded groups cap with slice() after the sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.array_join(
                F.array_sort(F.collect_list("o_orderkey")).cast("array<string>"),
                ",",
            ).alias("orderkeys"),
        )
        .orderBy("o_custkey")
    )


@query(
    "regexp_priority_classes",
    r"""
    SELECT CAST(regexp_extract(o_orderpriority, '^(\d+)', 1) AS INT)
               AS priority_class,
           COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY priority_class
    ORDER BY priority_class
    """,
)
def regexp_priority_classes(spark, sf_dir):
    """Regex capture-group extraction (the §2.8 'regex/string funcs'
    surface): parse the numeric class out of '1-URGENT'-style codes with a
    codegen'd regexp_extract, then aggregate — no UDF."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.regexp_extract("o_orderpriority", r"^(\d+)", 1)
            .cast("int")
            .alias("priority_class")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
        .orderBy("priority_class")
    )


@query(
    "orders_merge_upsert",
    """
    WITH base AS (
        SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ),
    changes AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, FALSE AS is_deleted
        FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        UNION ALL
        SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1.0, FALSE
        FROM base WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE
        FROM base WHERE o_orderkey % 193 = 0 AND o_orderkey % 97 <> 0
    ),
    merged AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM changes WHERE NOT is_deleted
        UNION ALL
        SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
        FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.o_orderkey = b.o_orderkey)
    )
    SELECT o_orderkey,
           o_orderstatus,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_c
    FROM merged ORDER BY o_orderkey
    """,
)
def orders_merge_upsert(spark, sf_dir):
    """CDC merge: a derived change batch (inserts = post-1997 orders,
    updates = keys % 97, deletes = keys % 193) applied onto the pre-1997
    snapshot with ``maintenance.merge_upsert`` — one anti-join + union,
    change side broadcastable (operators/maintenance.py)."""
    from satsure_agri_datapipeline_spark.operators import maintenance as mt

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    split = F.lit("1997-01-01").cast("timestamp")
    base = o.where(F.col("o_orderdate") < split).drop("o_orderdate")
    inserts = (
        o.where(F.col("o_orderdate") >= split)
        .drop("o_orderdate")
        .withColumn("is_deleted", F.lit(False))
    )
    updates = (
        base.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("is_deleted", F.lit(False))
    )
    deletes = base.where(
        (F.col("o_orderkey") % 193 == 0) & (F.col("o_orderkey") % 97 != 0)
    ).withColumn("is_deleted", F.lit(True))
    changes = inserts.unionByName(updates).unionByName(deletes)
    merged = mt.merge_upsert(base, changes, ["o_orderkey"], deleted_col="is_deleted")
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        cents(F.col("o_totalprice")).alias("totalprice_c"),
    ).orderBy("o_orderkey")


def _profile_col_sql(c: str) -> str:
    return f"""
        SELECT '{c}' AS column_name,
               COUNT(*) AS n_rows,
               COUNT(*) - COUNT({c}) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str
        FROM orders
    """


@query(
    "orders_profile",
    " UNION ALL ".join(
        _profile_col_sql(c)
        for c in [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ]
    )
    + " ORDER BY column_name",
)
def orders_profile(spark, sf_dir):
    """Generic column profiler (maintenance.profile_columns): ONE wide
    aggregate pass computes rows/nulls/distinct/min/max for every column,
    stacked to long format — vs the oracle's six separate scans."""
    from satsure_agri_datapipeline_spark.operators import maintenance as mt

    o = load_table(spark, sf_dir, "orders")
    return mt.profile_columns(
        o,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
    ).orderBy("column_name")


@query(
    "orders_snapshot_diff",
    """
    WITH before_s AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
    ),
    after_s AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 5.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 11 <> 0
    ),
    j AS (
        SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
               b.o_totalprice AS bp, a.o_totalprice AS ap,
               b.o_orderkey IS NOT NULL AS in_b,
               a.o_orderkey IS NOT NULL AS in_a
        FROM before_s b FULL JOIN after_s a ON b.o_orderkey = a.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN NOT in_a THEN 'delete'
                WHEN NOT in_b THEN 'insert'
                ELSE 'update' END AS change_type,
           CAST(ROUND(COALESCE(ap, bp) * 100) AS BIGINT) AS totalprice_c
    FROM j
    WHERE NOT in_a OR NOT in_b OR bp <> ap
    ORDER BY o_orderkey
    """,
)
def orders_snapshot_diff(spark, sf_dir):
    """CDC generation (maintenance.snapshot_diff): diff two derived order
    snapshots into insert/update/delete rows via ONE full-outer join with
    null-safe value comparison — the batch merge_upsert would then apply."""
    from satsure_agri_datapipeline_spark.operators import maintenance as mt

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    before = o.where(F.col("o_orderkey") % 7 != 0)
    after = o.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 5.0
        ).otherwise(F.col("o_totalprice")),
    )
    d = mt.snapshot_diff(before, after, ["o_orderkey"])
    return d.select(
        "o_orderkey",
        "change_type",
        cents(F.col("o_totalprice")).alias("totalprice_c"),
    ).orderBy("o_orderkey")


@query(
    "events_key_skew",
    """
    WITH counts AS (
        SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id
    ),
    tot AS (SELECT SUM(n_rows) AS t FROM counts),
    ranked AS (
        SELECT user_id, n_rows,
               CAST(FLOOR(n_rows * 10000.0 / tot.t + 0.5) AS BIGINT) AS share_bp,
               ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id) AS rank
        FROM counts, tot
    )
    SELECT user_id, n_rows, share_bp, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 20 ORDER BY rank
    """,
)
def events_key_skew(spark, sf_dir):
    """Shuffle-key skew diagnostic (joins.key_histogram): top-20 heaviest
    user_id keys with corpus share in basis points — the pre-flight before
    choosing salting / AQE skew handling for a join on that key."""
    from satsure_agri_datapipeline_spark.operators.joins import key_histogram

    ev = load_table(spark, sf_dir, "events")
    return key_histogram(ev, ["user_id"], top_n=20).orderBy("rank")


@query(
    "argmax_order_per_priority",
    """
    SELECT o_orderpriority,
           o_orderkey AS top_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS top_totalprice_c
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    ) WHERE rn = 1 ORDER BY o_orderpriority
    """,
)
def argmax_order_per_priority(spark, sf_dir):
    """Grouped argmax via ``max_by`` with a struct ordering key (deterministic
    tie-break) — a single hash-aggregate, vs the oracle's window+filter
    formulation: same semantics, two independent derivations. At scale the
    aggregate form wins: partial max_by composes map-side; the window form
    sorts every group."""
    o = load_table(spark, sf_dir, "orders")
    ord_key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by(F.col("o_orderkey"), ord_key).alias("top_orderkey"),
            cents(F.max(ord_key).getField("o_totalprice")).alias("top_totalprice_c"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "window_percent_rank_orders",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(FLOOR(percent_rank() OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
           ) * 1000000 + 0.5) AS BIGINT) AS pr_e6,
           CAST(FLOOR(cume_dist() OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
           ) * 1000000 + 0.5) AS BIGINT) AS cd_e6
    FROM orders ORDER BY o_orderkey
    """,
)
def window_percent_rank_orders(spark, sf_dir):
    """Relative-standing windows (percent_rank / cume_dist) per priority
    class — both are (rank-1)/(n-1)-style exact integer ratios scaled to e6,
    so cross-engine-deterministic despite the double intermediate."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        half_up(F.percent_rank().over(w) * 1000000).alias("pr_e6"),
        half_up(F.cume_dist().over(w) * 1000000).alias("cd_e6"),
    ).orderBy("o_orderkey")


@query(
    "not_in_null_semantics",
    """
    SELECT
        (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
            (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
             FROM orders)) AS n_raw,
        (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
            (SELECT o_custkey FROM orders WHERE o_orderstatus <> 'P')) AS n_filtered
    """,
)
def not_in_null_semantics(spark, sf_dir):
    """ANSI NOT IN three-valued-logic check, cross-engine: a NULL anywhere in
    the subquery makes NOT IN unsatisfiable (n_raw = 0 — the classic
    footgun), while the null-filtered variant is a real anti-join. Spark
    lowers the raw form to a null-aware anti-join (broadcast NAAJ); both
    engines must agree on both counts."""
    from satsure_agri_datapipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT
            (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
                (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
                 FROM orders)) AS n_raw,
            (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
                (SELECT o_custkey FROM orders WHERE o_orderstatus <> 'P')) AS n_filtered
        """
    )


@query(
    "cheapest_supplier_per_part",
    """
    WITH mins AS (
        SELECT l_partkey, MIN(l_extendedprice) AS m
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey, l.l_suppkey,
           CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_c
    FROM lineitem l JOIN mins ON l.l_partkey = mins.l_partkey
    WHERE l.l_extendedprice = mins.m
    ORDER BY l.l_partkey, l.l_suppkey
    """,
)
def cheapest_supplier_per_part(spark, sf_dir):
    """Aggregate-equality join-back (TPC-H Q2's core shape, on lineitem):
    per-part MIN price, then join back to recover ALL rows achieving it —
    returns every tied winner, which argmax (`max_by`) cannot. The per-part
    aggregate is dimension-sized and broadcast; double equality is safe
    because MIN is a selection, not arithmetic (identical bits both
    engines)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    mins = li.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("m"))
    return (
        # per-partkey aggregate scales with the part count — no hint; the
        # join is key-aligned with the groupBy, so at scale it shuffles once
        li.join(mins, "l_partkey")
        .where(F.col("l_extendedprice") == F.col("m"))
        .select(
            "l_partkey",
            "l_suppkey",
            cents(F.col("l_extendedprice")).alias("price_c"),
        )
        .orderBy("l_partkey", "l_suppkey")
    )


def _zorder_oracle() -> str:
    from satsure_agri_datapipeline_spark.operators.loading import zorder_key_sql

    zk = zorder_key_sql("user_id % 65536", "CAST(FLOOR(value) AS BIGINT) % 65536")
    return f"""
    SELECT event_id, CAST({zk} AS BIGINT) AS zkey
    FROM events WHERE event_id % 101 = 0 ORDER BY event_id
    """


@query("events_zorder_key", _zorder_oracle())
def events_zorder_key(spark, sf_dir):
    """Morton Z-order key (loading.zorder_key) over (user_id, floor(value)):
    the clustering key that makes 2-D range predicates prunable from parquet
    row-group stats. Exact integer bit arithmetic — identical cross-engine
    by construction (the oracle is generated from the same SQL builder, so
    this checks Spark's bitwise lowering against DuckDB's)."""
    from satsure_agri_datapipeline_spark.operators.loading import zorder_key

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_id") % 101 == 0)
        .select(
            "event_id",
            zorder_key(
                "user_id % 65536", "CAST(FLOOR(value) AS BIGINT) % 65536"
            ).cast("long").alias("zkey"),
        )
        .orderBy("event_id")
    )


@query(
    "orders_subtree_rollup",
    """
    WITH RECURSIVE chain(anc, price) AS (
        SELECT o_orderkey, o_totalprice FROM orders
        UNION ALL
        SELECT anc // 10, price FROM chain WHERE anc > 0
    )
    SELECT anc AS node,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS BIGINT) AS subtree_revenue_c
    FROM chain WHERE anc < 100
    GROUP BY anc ORDER BY anc
    """,
)
def orders_subtree_rollup(spark, sf_dir):
    """Recursive-CTE hierarchical rollup (Spark 4 ``WITH RECURSIVE``):
    every order key walks its ancestor chain ``key -> key div 10 -> ... -> 0``
    (a synthetic decimal-trie hierarchy) and revenue aggregates per subtree.
    Recursion depth is O(log10(max_key)) — bounded and scale-safe; each
    round is one narrow projection, and the aggregate is an ordinary
    hash-agg over the expanded chain."""
    from satsure_agri_datapipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE chain(anc, price) AS (
            SELECT o_orderkey, o_totalprice FROM orders
            UNION ALL
            SELECT anc div 10, price FROM chain WHERE anc > 0
        )
        SELECT anc AS node,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS BIGINT)
                   AS subtree_revenue_c
        FROM chain WHERE anc < 100
        GROUP BY anc ORDER BY anc
        """
    )


@query(
    "tpch_promo_revenue",
    """
    WITH j AS (
        SELECT CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS rev_e4,
               p.p_type
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-04-01'
    )
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) AS BIGINT)
               AS promo_rev_e4,
           CAST(SUM(rev_e4) AS BIGINT) AS total_rev_e4,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) * 10000
                // SUM(rev_e4) AS BIGINT) AS promo_share_bp
    FROM j
    """,
)
def tpch_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape — promo revenue share for a quarter: broadcast part
    dimension, shipdate range pushed to the lineitem scan, revenue kept in
    exact 1e-4 currency units so the share is an exact integer ratio."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    j = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(p, li.l_partkey == p.p_partkey)  # part grows with SF
        .select(rev.alias("rev_e4"), "p_type")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_e4")).otherwise(0))
    total = F.sum(F.col("rev_e4"))
    return j.agg(
        promo.cast("long").alias("promo_rev_e4"),
        total.cast("long").alias("total_rev_e4"),
        F.expr(
            "CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) * 10000"
            " div sum(rev_e4) AS BIGINT)"
        ).alias("promo_share_bp"),
    )


@query(
    "tpch_disjunctive_revenue",
    """
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_e4
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape — OR-of-ANDs over mixed-side predicates: the classic
    disjunctive-pushdown test. Catalyst extracts the common part-side
    disjunction (brand/size) below the join where possible and evaluates the
    residual on joined rows; the part dimension broadcasts either way."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        li.join(p, li.l_partkey == p.p_partkey)  # part grows with SF
        .where(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).cast("long").alias("revenue_e4"),
        )
    )


@query(
    "tpch_small_qty_revenue",
    """
    WITH avg_qty AS (
        SELECT l_partkey,
               CAST(FLOOR(AVG(CAST(ROUND(l_quantity * 100) AS BIGINT)) * 0.2 + 0.5)
                    AS BIGINT) AS qty_fence_e2
        FROM lineitem GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_c
    FROM lineitem l
    JOIN avg_qty a ON l.l_partkey = a.l_partkey
    WHERE CAST(ROUND(l.l_quantity * 100) AS BIGINT) < a.qty_fence_e2
    """,
)
def tpch_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape — lines below 20% of their part's average quantity:
    the correlated-average pattern, decorrelated into a per-part aggregate
    broadcast back onto the facts. The fence is computed in exact scaled
    integers (avg of exact cents, half-up) so the comparison is
    engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = cents(F.col("l_quantity"))
    fences = li.groupBy("l_partkey").agg(
        half_up(F.avg(qty_c) * 0.2).alias("qty_fence_e2")
    )
    return (
        li.join(fences, "l_partkey")  # per-partkey agg scales; no hint
        .where(cents(F.col("l_quantity")) < F.col("qty_fence_e2"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents(F.col("l_extendedprice"))).alias("revenue_c"),
        )
    )


@query(
    "orders_mom_growth",
    """
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    )
    SELECT strftime(month, '%Y-%m-%d') AS month_str, rev_c,
           COALESCE(CAST((rev_c - LAG(rev_c) OVER (ORDER BY month)) * 10000
                    // LAG(rev_c) OVER (ORDER BY month) AS BIGINT), 0) AS growth_bp
    FROM monthly ORDER BY month_str
    """,
)
def orders_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth: aggregate to a monthly series
    (exact cents), then a lag window over the AGGREGATE relation — the
    window's single partition holds one row per month, never raw orders;
    growth emitted as an exact integer basis-point ratio."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_c"))
    w = Window.orderBy("month")
    prev = F.lag("rev_c").over(w)
    return (
        monthly.withColumn("__prev", prev)
        .withColumn(
            "growth_bp",
            F.coalesce(
                F.expr("CAST((rev_c - __prev) * 10000 div __prev AS BIGINT)"),
                F.lit(0).cast("long"),
            ),
        )
        .select(
            F.date_format("month", "yyyy-MM-dd").alias("month_str"),
            "rev_c",
            "growth_bp",
        )
        .orderBy("month_str")
    )


@query(
    "orders_yoy_growth",
    """
    WITH monthly AS (
        SELECT EXTRACT(year FROM o_orderdate) AS yr,
               EXTRACT(month FROM o_orderdate) AS mon,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1, 2
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(mon AS BIGINT) AS mon, rev_c,
           COALESCE(CAST((rev_c - LAG(rev_c) OVER (PARTITION BY mon ORDER BY yr))
                    * 10000 // LAG(rev_c) OVER (PARTITION BY mon ORDER BY yr)
                    AS BIGINT), 0) AS yoy_bp
    FROM monthly ORDER BY yr, mon
    """,
)
def orders_yoy_growth(spark, sf_dir):
    """Year-over-year growth per calendar month: the seasonal companion to
    MoM — lag partitioned BY month ordered by year compares each month to
    the same month last year; window runs over the months×years aggregate,
    never raw orders; exact integer basis points."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mon"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_c"))
    w = Window.partitionBy("mon").orderBy("yr")
    return (
        monthly.withColumn("__prev", F.lag("rev_c").over(w))
        .withColumn(
            "yoy_bp",
            F.coalesce(
                F.expr("CAST((rev_c - __prev) * 10000 div __prev AS BIGINT)"),
                F.lit(0).cast("long"),
            ),
        )
        .select("yr", "mon", "rev_c", "yoy_bp")
        .orderBy("yr", "mon")
    )


# ---------------------------------------------------------------------------
# Sketch family — exact-regime oracle queries (VERDICT r3 item 5)
# ---------------------------------------------------------------------------
# Theta sketches are EXACT below their nominal-entries capacity (default
# 2^12 = 4096 retained hashes): the sketch holds every distinct hash, so
# theta_sketch_estimate returns the true distinct count, not an estimate.
# The events table has ≤1500 distinct user_ids per event_type at every bench
# SF, so these queries are SQL-checkable — upgrading the sketch family from
# tests-only to oracle-green while still exercising the real sketch algebra
# (agg → estimate / intersection / union / difference) that runs at 100 TB.


@query(
    "sketch_theta_distinct_exact",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sketch_theta_distinct_exact(spark, sf_dir):
    """Per-group Theta distinct counts in the exact regime: the sketch
    aggregate + estimate pipeline (operators/validation.py
    theta_group_sketches) vs plain COUNT(DISTINCT). Below capacity the two
    are equal by construction; above it the sketch answer degrades to
    ±~1.6% while COUNT(DISTINCT) shuffles every distinct value — the whole
    point of the family at scale."""
    from satsure_agri_datapipeline_spark.operators import validation as vl

    ev = load_table(spark, sf_dir, "events")
    sk = vl.theta_group_sketches(ev, "user_id", ["event_type"])
    return sk.select(
        "event_type",
        F.expr("CAST(theta_sketch_estimate(theta_sketch) AS BIGINT)").alias(
            "n_distinct"
        ),
    ).orderBy("event_type")


@query(
    "sketch_theta_overlap_exact",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click' AND value > 90),
         b AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase' AND value > 90)
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT) AS n_both,
           CAST((SELECT COUNT(*) FROM (SELECT user_id FROM a UNION
                                       SELECT user_id FROM b)) AS BIGINT) AS n_either,
           CAST((SELECT COUNT(*) FROM a ANTI JOIN b USING (user_id)) AS BIGINT)
               AS n_only_a
    """,
)
def sketch_theta_overlap_exact(spark, sf_dir):
    """Theta set algebra (intersection / union / difference) in the exact
    regime: 'users who clicked high-value AND purchased high-value' computed
    entirely from two KB-sized sketches (operators/validation.py
    theta_overlap) — the sketch replacement for a distinct self-join. The
    oracle computes the same five counts relationally."""
    from satsure_agri_datapipeline_spark.operators import validation as vl

    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 90)
    sk = vl.theta_group_sketches(ev, "user_id", ["event_type"])
    ov = vl.theta_overlap(sk, "event_type", "click", "purchase")
    return ov.select(
        *[F.col(c).cast("long").alias(c) for c in ov.columns]
    )


@query(
    "sketch_kll_exact_quantiles",
    """
    WITH vals AS (SELECT value FROM events
                  WHERE user_id = 1 AND event_type = 'click'),
         ranked AS (SELECT value, CUME_DIST() OVER (ORDER BY value) AS cd
                    FROM vals)
    SELECT (SELECT MIN(value) FROM ranked WHERE cd >= 0.5)  AS p50,
           (SELECT MIN(value) FROM ranked WHERE cd >= 0.95) AS p95,
           (SELECT MIN(value) FROM ranked WHERE cd >= 0.99) AS p99
    """,
)
def sketch_kll_exact_quantiles(spark, sf_dir):
    """KLL quantiles in the exact regime: one user's value series (≪ k=200,
    so the sketch retains every value and get_quantile is exact under the
    INCLUSIVE search criterion — the DataSketches default). The oracle
    restates the inclusive rank rule relationally: the smallest value whose
    CUME_DIST reaches the probe. Above capacity the same pipeline degrades
    to ~1.2% rank error instead of blowing up a global sort — the 100 TB
    path (operators/validation.py kll_group_sketches /
    kll_merged_quantiles)."""
    from satsure_agri_datapipeline_spark.operators import validation as vl

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") == 1) & (F.col("event_type") == "click")
    )
    sk = vl.kll_group_sketches(ev, "value", ["event_type"], k=200)
    return vl.kll_merged_quantiles(sk, probes=[0.5, 0.95, 0.99])


@query(
    "orders_distributed_rank",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey)
                AS BIGINT) AS rank
    FROM orders
    """,
)
def orders_distributed_rank(spark, sf_dir):
    """Exact per-priority price ranking via the two-phase value-bucketed
    distributed_rank (operators/joins.py) — checked against the plain
    ROW_NUMBER window it replaces. With ~5 priorities, the window form
    funnels 1/5 of the table through single tasks; the bucketed form's
    largest window partition is ~1/64 of the data regardless of group
    count or skew."""
    from satsure_agri_datapipeline_spark.operators.joins import distributed_rank

    o = load_table(spark, sf_dir, "orders")
    ranked = distributed_rank(
        o,
        "o_totalprice",
        group_cols=["o_orderpriority"],
        tiebreak_cols=["o_orderkey"],
    )
    return ranked.select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("price_c"),
        "rank",
    )


@query(
    "orders_scalable_ntile",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey)
                AS BIGINT) AS tile
    FROM orders
    """,
)
def orders_scalable_ntile(spark, sf_dir):
    """Exact NTILE(4) quartiles per priority without a per-group window:
    distributed_ntile = distributed_rank + closed-form tile from broadcast
    group counts (operators/joins.py). Checked against the plain NTILE
    window — same caveat as orders_distributed_rank: the window form
    serializes each of the ~5 priority groups through one task."""
    from satsure_agri_datapipeline_spark.operators.joins import distributed_ntile

    o = load_table(spark, sf_dir, "orders")
    out = distributed_ntile(
        o,
        4,
        "o_totalprice",
        group_cols=["o_orderpriority"],
        tiebreak_cols=["o_orderkey"],
    )
    return out.select("o_orderkey", "o_orderpriority", "tile")


@query(
    "orders_expectations",
    """
    SELECT 'not_null:o_custkey' AS check_name,
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
               AS violations,
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) = 0 AS passed
    UNION ALL
    SELECT 'accepted_values:o_orderstatus',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderstatus NOT IN ('O','F','P')
                    OR o_orderstatus IS NULL) AS BIGINT),
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('O','F','P')
               OR o_orderstatus IS NULL) = 0
    UNION ALL
    SELECT 'in_range:o_totalprice',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice IS NOT NULL
                   AND (o_totalprice < 0 OR o_totalprice > 1000000)) AS BIGINT),
           (SELECT COUNT(*) FROM orders
            WHERE o_totalprice IS NOT NULL
              AND (o_totalprice < 0 OR o_totalprice > 1000000)) = 0
    UNION ALL
    SELECT 'unique:o_orderkey',
           CAST(COALESCE((SELECT SUM(n - 1) FROM
                 (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
                  HAVING COUNT(*) > 1)), 0) AS BIGINT),
           COALESCE((SELECT SUM(n - 1) FROM
                 (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
                  HAVING COUNT(*) > 1)), 0) = 0
    UNION ALL
    SELECT 'referential:o_custkey->c_custkey',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
    ORDER BY check_name
    """,
)
def orders_expectations(spark, sf_dir):
    """Declarative constraint suite over orders (operators/validation.py
    check_expectations): three row-local checks share ONE aggregate scan;
    uniqueness is one groupBy; referential integrity one broadcast
    anti-join vs customer. The oracle restates each expectation as an
    independent subquery."""
    from satsure_agri_datapipeline_spark.operators.validation import (
        check_expectations,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return check_expectations(
        o,
        not_null=["o_custkey"],
        unique=[["o_orderkey"]],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        in_range={"o_totalprice": (0.0, 1_000_000.0)},
        referential=[("o_custkey", c, "c_custkey")],
    ).orderBy("check_name")
