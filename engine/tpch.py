"""TPC-H queries over the corpus tables (``tpch_`` keys); the
``_adapted`` keys keep the query's shape on the columns the corpus has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load


@query(
    "tpch_q3_shipping",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): segment-filtered customers' orders not
    yet shipped at the cutoff, top-10 by revenue.

    Plan shape at 100 TB: both date filters push to the parquet scans;
    customer (smallest side post-filter) broadcasts into orders, and the
    orders⋈lineitem join shuffles on orderkey only for rows surviving the
    pushed filters. Top-10 is TakeOrderedAndProject — per-partition heap,
    no global sort."""
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan→filter→global-agg.

    The canonical pushdown benchmark: all four predicates reach the parquet
    reader (PushedFilters), the projection reads 3 columns, and the aggregate
    is a two-phase partial/final with no grouping key — the minimum-shuffle
    plan (one row per partition exchanged)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q14_promo_share",
    oracle="""
    SELECT round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS promo_rev,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional-aggregate share over a
    fact⋈dim join. part is the dim side → broadcast; the date filter pushes
    to the lineitem scan so only one quarter of the fact table is read."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    part = load(spark, sf_dir, "part")
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(F.sum(promo), 2).alias("promo_rev"),
        F.round(F.sum(rev), 2).alias("total_rev"),
        F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share_pct"),
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose line quantities sum
    past a threshold, re-joined to customer detail, top-20 by price.

    Plan shape: the HAVING pre-aggregate runs FIRST on lineitem alone
    (partial+final on l_orderkey), and its tiny survivor set drives a
    left-semi join back into the fact tables — at 100 TB this ordering is
    the difference between shuffling the whole join product and shuffling
    only qualifying orders. Spark expresses the semi join directly; the
    final top-20 is TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    cust = load(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"), "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "tpch_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary): the canonical scan-heavy aggregate — one
    pushed date filter, 8 aggregates over 2 grouping columns.

    100 TB: THE map-side-combine showcase. Cardinality collapses from n rows
    to ~6 groups in the partial agg, so the shuffle moves ~6 rows per task
    regardless of input size; runtime is scan-bound and scales linearly with
    bytes read. Only l_* columns in the projection reach the reader
    (ReadSchema prunes the rest)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue by nation where the customer
    and the line's supplier share a nation, region- and date-filtered.

    100 TB: region⋈nation⋈supplier collapses to a broadcast (≤ thousands of
    rows after the region cut), customer broadcasts too (filtered by nothing
    but still ~1.5% of lineitem's bytes); the only repartition-scale shuffles
    are lineitem⋈orders on orderkey and the final ~25-group agg. The
    c_nationkey = s_nationkey equality rides the same joined row — no extra
    join, just a post-join filter Catalyst folds into the join condition."""
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(sn),
            (li.l_suppkey == sn.s_suppkey) & (cust.c_nationkey == sn.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "tpch_q7_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey  = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey  = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between a nation
    pair by ship year. The nation-pair disjunction is applied AFTER both
    nation joins on the same row — Catalyst pushes each half of the OR to the
    earliest join where its columns are bound.

    100 TB: nation (25 rows, twice) and supplier/customer broadcast; lineitem
    ⋈ orders is the one big shuffle; year() keeps the group count at
    2 pairs × ~3 years so the agg is map-side-collapsed."""
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-12-31").cast("timestamp_ntz")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").between(lo, hi))
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q10_returned",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue lost
    to returns in one quarter. Deterministic across engines: revenue is the
    rounded sort key with c_custkey as tie-break.

    100 TB: both date bounds and the returnflag filter push to the scans
    (returnflag is low-cardinality — dictionary-encoded row groups drop
    whole pages); customer+nation broadcast; TakeOrderedAndProject keeps a
    20-row heap per partition instead of a global sort."""
    lo = F.lit("1996-10-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q13_cust_dist",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_cust_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order distribution): histogram of per-customer
    order counts, keeping zero-order customers via the left join (count of a
    NULL key is 0 — the adapted filter lives in the JOIN condition, not
    WHERE, exactly because moving it would drop those customers).

    100 TB: shuffle 1 on custkey (join + first agg share the partitioning —
    Catalyst reuses the exchange), shuffle 2 moves one row per distinct
    count (~tens). The double-agg shape is the canonical distribution
    query; no row explosion anywhere."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the disjunctive-predicate benchmark.
    The three OR arms each mix part-side and lineitem-side columns.

    100 TB: Catalyst factors per-side implications out of the OR — part gets
    `p_brand IN (...) AND p_size BETWEEN 1 AND 35`, lineitem gets
    `l_quantity BETWEEN 1 AND 30` — both pushed to the scans BEFORE the join,
    so the join sees orders-of-magnitude fewer rows; the full disjunction
    re-applies post-join. Part (filtered) broadcasts; single-row output."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(
            arm("Brand#3", 15, 1, 11)
            | arm("Brand#12", 25, 10, 20)
            | arm("Brand#21", 35, 20, 30)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "tpch_q22_idle_balance",
    oracle="""
    SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT right(c_name, 2) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def tpch_q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted twice: no c_phone column
    in the corpus, so the country code is the last 2 digits of c_name; and
    the anti-join is scoped to RECENT orders (none since 2000-07) — at ~10
    orders/customer an unscoped NOT EXISTS matches nobody (P ≈ e^-10), the
    vacuous-key class round 1's verdict flagged on join_asof_forward.

    100 TB: the scalar avg is one scan collapsed to one row and broadcast
    into the filter; the NOT EXISTS is a left-anti join on custkey (orders
    pre-filtered by the pushed date bound and projected to the key column
    only); final agg groups on ~100 codes, map-side collapsed."""
    cust = load(spark, sf_dir, "customer")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(F.expr("right(c_name, 2)").alias("cntrycode"), "c_acctbal")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "tpch_q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), ADAPTED: the official predicate is
    l_commitdate < l_receiptdate (late receipt); the corpus carries neither,
    so the EXISTS tests l_shipdate > o_orderdate (shipped after ordering) —
    same correlated-EXISTS shape, one quarter of orders.

    100 TB: EXISTS compiles to a LEFT SEMI join on orderkey — lineitem is
    pre-filtered to the key+date columns, orders to one quarter (pushed scan
    filter), and the semi join short-circuits per key; final agg is ~5 groups
    map-side collapsed."""
    lo, hi = "1997-01-01", "1997-04-01"
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    WITH rev AS (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN part     ON l_partkey = p_partkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM rev GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), ADAPTED: NATION_3's share of ECONOMY
    part revenue sold to AMERICA-region customers, by order year (official
    text fixes BRAZIL/AMERICA/'ECONOMY ANODIZED STEEL'; the corpus's nation
    names and single-word p_type substitute 1:1 — the share-of-group
    conditional-aggregate shape is untouched).

    100 TB: the five dimension joins (customer, nation x2, region, supplier,
    part) all broadcast — only lineitem⋈orders shuffles at fact scale; the
    CASE/sum ratio needs no second pass, one hash agg on ~2 year groups."""
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    cust = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = load(spark, sf_dir, "supplier")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    cn = cust.join(F.broadcast(n1), cust.c_nationkey == n1.n_nationkey).join(
        F.broadcast(region), n1.n_regionkey == region.r_regionkey
    )
    sn = supp.join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
    ) / F.sum("volume")
    return (
        rev.groupBy("o_year")
        .agg(F.round(share, 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "tpch_q9_profit_rollup",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - 0.4 * p_retailprice * l_quantity), 2) AS sum_profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_profit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), ADAPTED: profit per supplier nation
    per year over parts whose name matches a pattern. The official cost term
    is ps_supplycost (partsupp is absent), so unit cost substitutes
    0.4 * p_retailprice — the join graph (fact ⋈ orders ⋈ supplier ⋈ nation
    ⋈ part with a LIKE filter) and the rollup shape are Q9's.

    100 TB: part is filtered by the LIKE before its (broadcast) join;
    supplier+nation broadcast; lineitem⋈orders is the one fact shuffle and
    the agg collapses to nations x years ≈ 175 groups."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.4 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with max quarterly revenue —
    the agg-view + scalar-max-subquery shape, ties kept exactly as the
    official query does (= max, not LIMIT 1). Rounds the revenue BEFORE the
    max comparison on both engines so float ties agree bit-for-bit.

    100 TB: one pushed date filter + suppkey agg (map-side combine to
    ~|suppliers| rows); the scalar max is a 1-row broadcast joined back as a
    filter; supplier join broadcasts the agg side (it is ≤ |suppliers|)."""
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-04-01").cast("timestamp_ntz")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = load(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(revenue), supp.s_suppkey == F.col("supplier_no"))
        .join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'STANDARD' AND p_size IN (1, 5, 9)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), ADAPTED: how many distinct
    suppliers ship each (brand, type, size) combination, excluding one brand
    and one type — official text counts ps_suppkey from partsupp and
    anti-joins a complaints subquery; with no partsupp table the
    supplier-per-part relation is taken from lineitem's actual shipments.
    The NOT-pattern filters and distinct-count rollup shape are Q16's.

    100 TB: part is filtered then broadcast into the fact; distinct-count
    shuffles (brand,type,size,suppkey) pairs once — partial dedup map-side —
    then counts per group; output is bounded by the dimension cross product,
    not the fact."""
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "STANDARD")
        & (F.col("p_size").isin(1, 5, 9))
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#2'
      AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost if orders under
    half a part's average quantity were dropped, for one brand (official adds
    p_container, which the corpus lacks; the correlated-average filter — the
    query's point — is intact).

    100 TB: the correlated scalar subquery decorrelates to a per-partkey avg
    (map-side combinable) joined back on partkey. The avg is computed over
    the BRAND-filtered fact only — semantically identical because the filter
    is on the join's part side, and ~25x less data than the official
    all-parts decorrelation. Both joins broadcast the small side."""
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_q = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(F.broadcast(avg_q), F.col("l_partkey") == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q2_min_cost_adapted",
    oracle="""
    WITH uc AS (SELECT l_partkey, l_suppkey,
                       min(l_extendedprice / l_quantity) AS unit_cost
                FROM lineitem GROUP BY 1, 2),
    eu AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
           FROM supplier s
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'EUROPE'),
    best AS (SELECT uc.l_partkey, min(unit_cost) AS mc
             FROM uc JOIN eu ON uc.l_suppkey = eu.s_suppkey
             GROUP BY 1)
    SELECT eu.s_acctbal, eu.s_name, eu.n_name, uc.l_partkey AS p_partkey,
           uc.unit_cost
    FROM uc
    JOIN eu ON uc.l_suppkey = eu.s_suppkey
    JOIN best ON best.l_partkey = uc.l_partkey AND uc.unit_cost = best.mc
    ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape, adapted (no partsupp table in this corpus): the
    minimum-cost European supplier for each part, with supply cost derived
    as each (part, supplier)'s best observed unit price from lineitem.
    The essence of Q2 survives intact — a correlated minimum (part's best
    cost among region-qualified suppliers) re-joined on equality, the
    region-filtered supplier dimension chain, and the Q2 ORDER BY
    (acctbal DESC, nation, supplier, part) LIMIT 100. The cost equality
    join is exact: min() selects an actual division result, bit-identical
    in both engines.

    100 TB: the unit-cost agg collapses lineitem to |part×supplier| rows
    map-side; the correlated min is a second agg over that (already
    reduced) relation; suppliers/nations/regions broadcast."""
    uc = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    uce = uc.join(F.broadcast(eu), uc.l_suppkey == eu.s_suppkey)
    best = uce.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("mc")
    )
    return (
        uce.join(
            best,
            (uce.l_partkey == best.bk) & (uce.unit_cost == best.mc),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "unit_cost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q12_late_shipping_adapted",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q12_late_shipping_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape, adapted (no l_shipmode/commitdate/receiptdate):
    late shipments — lines shipped more than 60 days after their order
    date — classified per return-flag class (standing in for ship mode)
    into priority buckets via Q12's signature conditional-count pair.
    The join + date-arithmetic predicate + CASE-bucketed aggregation is
    exactly Q12's plan shape.

    100 TB: the date predicate applies at the join (pruning before the
    agg); the conditional counts partial-aggregate map-side."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@query(
    "tpch_q21_waiting_adapted",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    SELECT s.s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def tpch_q21_waiting_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape, adapted (lateness = shipped >60 days after order
    date, in lieu of receipt/commit dates): suppliers who were the SOLE
    late supplier on a finalized multi-supplier order — Q21's signature
    double correlation (EXISTS another supplier on the order, NOT EXISTS
    another LATE supplier), top-20 by wait count. Executed as a left-semi
    plus a left-anti join on the order key with supplier-inequality
    residuals — the decorrelated plan Q21 is famous for forcing.

    100 TB: both correlations are order-keyed semi/anti joins (hash
    shuffles on l_orderkey); the 'late' relation is filtered before any
    correlation, so the anti join probes only late lines."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    others = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    ).alias("l2")
    has_other = l1.join(
        others,
        (F.col("l1.l_orderkey") == F.col("ok2"))
        & (F.col("l1.l_suppkey") != F.col("sk2")),
        "left_semi",
    )
    other_late = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    ).alias("l3")
    sole_late = has_other.join(
        other_late,
        (F.col("l1.l_orderkey") == F.col("ok3"))
        & (F.col("l1.l_suppkey") != F.col("sk3")),
        "left_anti",
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(s), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "tpch_q11_important_stock_adapted",
    oracle="""
    WITH g AS (SELECT l.l_partkey, round(sum(l.l_extendedprice), 2) AS val
               FROM lineitem l
               JOIN supplier s ON l.l_suppkey = s.s_suppkey
               JOIN nation n ON s.s_nationkey = n.n_nationkey
               JOIN region r ON n.n_regionkey = r.r_regionkey
               WHERE r.r_name = 'EUROPE'
               GROUP BY 1)
    SELECT l_partkey AS p_partkey, val
    FROM g WHERE val > 1.5 * (SELECT round(avg(val), 6) FROM g)
    ORDER BY val DESC, p_partkey
    """,
)
def tpch_q11_important_stock_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape, adapted (no partsupp: part value = total European
    lineitem revenue instead of availqty × supplycost): parts whose
    region-scoped value exceeds a scalar-subquery threshold — Q11's
    signature group-vs-global-aggregate HAVING. Threshold = 1.5× the
    mean per-part value (the spec's fraction-of-total constant is
    SF-dependent; the mean multiple stays non-vacuous at every SF).
    Both val (round 2) and the mean (round 6) are rounded on both
    engines before the strict > compare, so the cut is deterministic
    despite order-dependent double sums.

    100 TB: one agg collapses lineitem per part (map-side partial), the
    scalar threshold is a one-row broadcast, and the filter runs over the
    already-collapsed relation — Q11's plan exactly."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    g = (
        li.join(F.broadcast(eu), li.l_suppkey == eu.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("val"))
    )
    thr = g.agg(F.round(F.avg("val"), 6).alias("m"))
    return (
        g.join(F.broadcast(thr))
        .filter(F.col("val") > 1.5 * F.col("m"))
        .select(F.col("l_partkey").alias("p_partkey"), "val")
        .orderBy(F.col("val").desc(), "p_partkey")
    )


@query(
    "tpch_q20_excess_supplier_adapted",
    oracle="""
    WITH tot AS (SELECT l_partkey, sum(l_quantity) AS tq
                 FROM lineitem GROUP BY 1),
    sup AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
            FROM lineitem GROUP BY 1, 2),
    dom AS (SELECT DISTINCT sup.l_suppkey
            FROM sup JOIN tot ON sup.l_partkey = tot.l_partkey
            WHERE sup.sq > 0.15 * tot.tq)
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM dom WHERE dom.l_suppkey = s.s_suppkey)
    ORDER BY s.s_name
    """,
)
def tpch_q20_excess_supplier_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape, adapted (no partsupp availqty: 'excess' = the
    supplier shipped more than 15% of some part's total shipped
    quantity): the nested semi-join chain — per-(part, supplier)
    aggregate, correlated comparison against the per-part total, then a
    semi join lifting the qualifying suppliers into the dimension scan.
    Quantities are integral-valued doubles, so the 0.15 threshold
    compare is exact arithmetic on both engines (no rounding needed).

    100 TB: two cascaded aggs on lineitem (partial map-side) + one
    hash-partitioned join on part; the final supplier probe is a
    left-semi against a relation already collapsed to |suppliers|."""
    li = load(spark, sf_dir, "lineitem")
    tot = li.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("l_quantity").alias("tq")
    )
    sup = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("sq"))
    dom = (
        sup.join(tot, sup.l_partkey == tot.tk)
        .filter(F.col("sq") > 0.15 * F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    return (
        s.join(dom, s.s_suppkey == dom.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
