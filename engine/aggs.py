"""Aggregation operators: grouped and global aggregates, sketches,
statistics, UDAFs and the pivot/unpivot reshapes (``agg_``, ``udaf_``,
``pivot_``, ``unpivot_`` keys).

Aggregates stay JVM-side so Catalyst can plan partial aggregation before
the exchange; the ``udaf_`` keys are the Python aggregate surface. Float
results are rounded on both sides of each oracle (SURVEY §5.3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


def _mg_partition_fn(k: int):
    """Vectorized batch-merge Misra-Gries summary over a partition's "t"
    batches (r14, guide §4.2: hand whole batches to pandas' C paths
    instead of the previous per-token Python dict loop — that
    row-at-a-time pass WAS agg_heavy_hitters' cost center, ~1.3M
    interpreted iterations at sf0.1). Per Arrow batch: value_counts (C),
    merge into the running summary, and when the summary exceeds k apply
    the standard MG merge-decrement — subtract the (k+1)-th largest count
    from everything, keep the positives. The no-false-negative bound is
    the classic one, unchanged: each decrement of ``thresh`` hits ≥ k+1
    counters at once, so Σ thresh ≤ n_partition/(k+1) and any token with
    partition count > n_partition/(k+1) survives; the recount pass keeps
    the OUTPUT exact for any candidate superset
    (test_heavy_hitters_mg_vectorized_no_false_negatives)."""

    def mg_partition(batches):
        import pandas as pd

        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = counters.add(pdf["t"].value_counts(), fill_value=0)
            if len(counters) > k:
                thresh = counters.nlargest(k + 1).iloc[-1]
                counters = counters - thresh
                counters = counters[counters > 0]
        yield pd.DataFrame({"t": counters.index.astype(str)})

    return mg_partition


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         n AS (SELECT count(*) AS n FROM tok)
    SELECT t, count(*) AS cnt
    FROM tok, n GROUP BY t, n.n
    HAVING count(*) * 50 > n
    ORDER BY cnt DESC, t
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (support > 1/50 of the token stream) via the
    two-pass Misra-Gries shape: pass 1 runs the MG summary per partition
    (each partition keeps ≤ k counters — a candidate set with the classic
    no-false-negative guarantee), pass 2 exactly recounts ONLY the merged
    candidates. Output is exact (identical to a full groupBy + HAVING,
    which is what the oracle runs) but the full-cardinality shuffle is
    replaced by: (a) a ≤ k·partitions candidate union, (b) a broadcast
    semi-filtered recount.

    100 TB: the point of the sketch pass — shuffle (a) is O(k · tasks)
    regardless of token cardinality, and recount (b)'s map side discards
    every non-candidate token before the exchange. For a billion-type token
    stream the plain groupBy shuffles billions of rows; this shuffles
    thousands. k = 4× the support bound keeps merge soundness with room."""
    from engine.vectors import spread_cpu

    support, k = 50, 200
    d = load(spark, sf_dir, "documents")
    tok = spread_cpu(d).select(F.explode(F.split("text", " ")).alias("t"))

    candidates = tok.mapInPandas(_mg_partition_fn(k), "t string").distinct()
    n = tok.agg(F.count("*").alias("n"))
    return (
        tok.join(F.broadcast(candidates), "t", "left_semi")
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(n))
        .filter(F.col("cnt") * support > F.col("n"))
        .select("t", "cnt")
        .orderBy(F.col("cnt").desc(), "t")
    )


@query(
    "agg_hll_sketch_merge",
    # FULL oracle (r04): DuckDB has no Datasketches-HLL twin, so the sketch
    # ESTIMATE can never hash-match — instead the Spark side emits the exact
    # distinct count plus a verified tolerance flag (|est−exact| ≤ 5%·exact
    # + 1; the sketch union is order-blind and deterministic, so the flag is
    # stable), and the oracle asserts TRUE with the exact counts. A merge or
    # estimate regression flips the flag and fails the driver hash check.
    oracle="""
    SELECT r_name, exact_customers, TRUE AS est_ok FROM (
      SELECT r_name, count(DISTINCT c_custkey) AS exact_customers
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      UNION ALL
      SELECT 'ALL', count(DISTINCT c_custkey) FROM customer
    ) ORDER BY r_name
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-customer counting with HLL sketches, proven
    through a persisted round-trip: (1) build one HLL sketch of c_custkey
    PER NATION and write the 25 sketch binaries to parquet — the stored
    per-shard state of an incremental pipeline; (2) read them back, join the
    broadcast nation dim, and ``hll_union_agg`` up to region level;
    (3) estimate; (4) self-validate each estimate against the exact distinct
    count (≤5% + 1; measured error at the default lgK=12 is ~1.6%, also
    unit-tested in tests/test_sketches.py). Output: (r_name,
    exact_customers, est_ok) + a global ALL row from merging the same
    stored sketches. The exact side exists only to validate; production use
    drops it (that is the point of the sketch).

    100 TB: this is THE pattern for daily-active/distinct-id metrics —
    per-partition sketches persist once per batch; any grouping rollup
    (nation→region→ALL here) is a union over kilobyte blobs. Compare
    agg_count_distinct (exact, full shuffle of the id domain every query)
    and agg_approx_distinct (one-shot HLL, no persisted mergeable state)."""
    c = load(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.expr("hll_sketch_agg(c_custkey)").alias("sk")
    )
    path = scratch_dir("spark_graft_hll_nation_")
    per_nation.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)

    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_region = (
        stored.join(
            F.broadcast(nation), stored.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_customers")
        )
    )
    overall = stored.agg(
        F.lit("ALL").alias("r_name"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_customers"),
    )
    est = per_region.unionByName(overall)
    cn = c.join(F.broadcast(nation), c.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    exact = cn.groupBy("r_name").agg(
        F.count_distinct("c_custkey").alias("exact_customers")
    ).unionByName(
        c.agg(
            F.lit("ALL").alias("r_name"),
            F.count_distinct("c_custkey").alias("exact_customers"),
        )
    )
    return (
        est.join(exact, "r_name")
        .select(
            "r_name",
            "exact_customers",
            (
                F.abs(F.col("est_customers") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers") + F.lit(1)
            ).alias("est_ok"),
        )
        .orderBy("r_name")
    )


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type AS item, count(*) AS cnt
    FROM events GROUP BY 1 ORDER BY cnt DESC, event_type LIMIT 3
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items top-3 event types via ``approx_top_k`` — the
    space-saving sketch behind heavy-hitter dashboards. FULL-oracle by a
    domain argument: the tracked-item budget (10,000) exceeds the column's
    5-value domain, so the sketch degenerates to exact counts and must
    match plain GROUP BY/ORDER BY/LIMIT — and the corpus's per-type counts
    are tie-free at every SF (checked 0.001/0.01/0.1), so the cut is
    deterministic. The struct array is unpacked to scalar columns per the
    result convention.

    100 TB: approx_top_k is a partial-aggregable sketch (SpaceSaving-style);
    when the true domain exceeds the budget the counts become ±ε estimates
    but the shuffle stays O(budget) per partition instead of O(domain) —
    the graceful degradation exact heavy-hitters (agg_heavy_hitters) lacks."""
    e = load(spark, sf_dir, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    flat = topk.select(F.explode("tk").alias("s")).select(
        F.col("s.item").alias("item"), F.col("s.count").alias("cnt")
    )
    return flat.orderBy(F.col("cnt").desc(), "item")


def _slope(pdf: pd.DataFrame) -> pd.DataFrame:
    """Population least-squares slope of extendedprice on quantity."""
    x = pdf["l_quantity"].to_numpy()
    y = pdf["l_extendedprice"].to_numpy()
    xm, ym = x.mean(), y.mean()
    denom = ((x - xm) ** 2).mean()
    # Zero-variance group -> NULL, matching DuckDB/Spark regr_slope (round(None)
    # would raise TypeError and kill the whole query).
    slope = round(float(((x - xm) * (y - ym)).mean() / denom), 4) if denom else None
    return pd.DataFrame(
        {"l_returnflag": [pdf["l_returnflag"].iloc[0]], "slope": [slope]}
    )


@query(
    "udaf_pandas_group",
    oracle="""
    SELECT l_returnflag, round(regr_slope(l_extendedprice, l_quantity), 4) AS slope
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_pandas_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF: per-returnflag regression slope via applyInPandas.

    One shuffle on the group key, then each group arrives as a single pandas
    frame in a Python worker (Arrow transfer). Groups here are few and huge —
    at 100 TB this pattern needs bounded per-group size (the 3 returnflag
    groups would each be ~33 TB: real deployments sub-key or sample; noted
    per SURVEY §7.3 rule 8)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_quantity", "l_extendedprice")
        .groupBy("l_returnflag")
        .applyInPandas(_slope, "l_returnflag string, slope double")
    )


@query(
    "pivot_wide",
    oracle="""
    SELECT o_orderpriority,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS F,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS O,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide form with an EXPLICIT value list — without it Spark runs
    an extra distinct pass over the data to discover columns (a full scan a
    100 TB pipeline can't afford)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@query(
    "unpivot_long",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, p_size::DOUBLE AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) to long form — the inverse reshape, a zero-shuffle
    map-side row expansion."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


@query(
    "agg_mode_tiebreak",
    oracle="""
    SELECT l_returnflag, l_quantity AS mode_quantity, cnt
    FROM (
      SELECT l_returnflag, l_quantity, count(*) AS cnt,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY count(*) DESC, l_quantity ASC) AS rn
      FROM lineitem
      GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
)
def agg_mode_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: Spark's F.mode is tie-nondeterministic,
    so the mode is computed as count-per-value then rank with an explicit
    (count DESC, value ASC) tie-break — identical semantics in any engine.
    The first groupBy collapses the data to |flags|×|distinct qty| rows, so
    the window sees a tiny input regardless of fact-table size."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"), F.asc("l_quantity"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_quantity"), "cnt")
    )


@query(
    "agg_topk_collect",
    oracle="""
    SELECT o_orderpriority,
           list_sort(list(o_totalprice), 'DESC')[1] AS top1,
           list_sort(list(o_totalprice), 'DESC')[2] AS top2,
           list_sort(list(o_totalprice), 'DESC')[3] AS top3,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_topk_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k VALUES — collect, sort desc, slice, then unpack the
    slice into scalar columns (the driver's canonicalizer sorts result
    columns with pandas, which cannot order array cells — every key returns
    scalar columns only; same convention as agg_collect_sorted). The raw
    doubles pass through un-arithmeticked, so values are bit-identical
    across engines (SURVEY §5.3: only aggregates get rounded).
    At 100 TB, collect_list on a high-cardinality group is the memory
    hazard — the scale-safe variant is the window row_number <= k filter
    (win_row_number_topk) or a partial top-k aggregate; this key keeps
    k tiny and groups few, the shape where collect-then-slice wins (one
    shuffle, no sort of the full table)."""
    top = F.reverse(F.array_sort(F.collect_list("o_totalprice")))
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(top.alias("_top"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderpriority",
            # try_element_at: a group smaller than k yields NULL slots
            # (the oracle's out-of-range list index), not an ANSI
            # INVALID_ARRAY_INDEX error
            F.try_element_at("_top", F.lit(1)).alias("top1"),
            F.try_element_at("_top", F.lit(2)).alias("top2"),
            F.try_element_at("_top", F.lit(3)).alias("top3"),
            "n_orders",
        )
    )


@query(
    "agg_global",
    oracle="""
    SELECT count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-group aggregate: partial aggregation reduces each partition to one
    row before the single-row exchange — no full-table shuffle at any scale."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


@query(
    "agg_group_hash",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (the bench headline aggregate).

    100 TB: 6 distinct groups → partial agg collapses ~everything map-side;
    the shuffle moves O(partitions × groups) rows, not O(data).
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS cnt,
           count(DISTINCT o_custkey) AS cust_cnt,
           count(DISTINCT o_orderpriority) AS prio_cnt
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts (planned via Expand + two-phase
    aggregate — exact, unlike the HLL path below)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.count_distinct("o_custkey").alias("cust_cnt"),
        F.count_distinct("o_orderpriority").alias("prio_cnt"),
    )


@query(
    "agg_approx_distinct",
    # FULL oracle (r04): HLL sketch values are engine-specific, so the raw
    # approx count can never hash-match — instead the Spark side emits the
    # exact count plus a *verified tolerance flag* (|approx−exact| ≤ 5%·exact;
    # Spark's HLL++ is deterministic, so the flag is stable), and the oracle
    # asserts the flag is TRUE with the exact count. An HLL regression now
    # flips the flag and fails the driver hash check.
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(*) AS cnt,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count per group, self-validated against the
    exact distinct count (≤5% relative error, 2.5× the rsd=0.02 setting;
    tests/test_properties.py pins the same bound). The approx value itself
    stays out of the output (sketch estimates are engine-specific).

    100 TB: approx_count_distinct is the *right* distinct-count at scale —
    fixed-size sketch per group, mergeable map-side, no Expand blow-up. The
    exact count_distinct here exists only to validate; production use drops
    it (and the oracle demotes to ROWS)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.count("*").alias("cnt"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "cnt",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("approx_ok"),
        )
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile`, not the KLL-sketch
    percentile_approx, which could never hash-match an oracle).

    100 TB note: exact percentile sorts each group's values; for hot groups
    switch to percentile_approx and a ROWS check."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           count(*) AS cust_cnt,
           round(sum(c_acctbal), 2) AS bal_sum
    FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal hierarchy region → nation → grand total. Group keys are
    coalesced to 'ALL' so subtotal rows are distinguishable and hash-stable
    (neither key is nullable in the data)."""
    df = _cust_geo(spark, sf_dir)
    return (
        df.rollup("r_name", "n_name")
        .agg(F.count("*").alias("cust_cnt"), F.round(F.sum("c_acctbal"), 2).alias("bal_sum"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "cust_cnt",
            "bal_sum",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS order_cnt,
           round(sum(o_totalprice), 2) AS price_sum
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations (4 sets). 100 TB: CUBE expands input ×2ⁿ
    before the shuffle — keep n small or pre-aggregate on the full key first."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(F.count("*").alias("order_cnt"), F.round(F.sum("o_totalprice"), 2).alias("price_sum"))
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "order_cnt",
            "price_sum",
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           count(*) AS cust_cnt,
           round(sum(c_acctbal), 2) AS bal_sum
    FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (n_name), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL surface (§3.3 textual path)."""
    _cust_geo(spark, sf_dir).createOrReplaceTempView("sg_cust_geo")
    return spark.sql(
        """
        SELECT coalesce(r_name, 'ALL') AS region_name,
               coalesce(n_name, 'ALL') AS nation_name,
               count(*) AS cust_cnt,
               round(sum(c_acctbal), 2) AS bal_sum
        FROM sg_cust_geo
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT c_nationkey,
           count(*) AS cust_cnt,
           string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group collected list, deterministically sorted then stringified
    (collect_list order is partition-dependent; sort_array + array_join makes
    it total-ordered and hash-stable)."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count("*").alias("cust_cnt"),
        F.array_join(F.sort_array(F.collect_list("c_mktsegment")), ",").alias("segments"),
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT l_linestatus,
           round(sum(l_quantity) FILTER (WHERE l_returnflag = 'A'), 2) AS qty_returned,
           count(*) FILTER (WHERE l_discount > 0.05) AS hi_disc_cnt,
           round(avg(l_extendedprice) FILTER (WHERE l_tax = 0), 6) AS avg_notax_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-style conditional aggregates via sum(when(...)) — evaluated in
    the same partial/final pipeline as plain aggregates."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.sum(F.when(F.col("l_returnflag") == "A", F.col("l_quantity"))), 2).alias(
            "qty_returned"
        ),
        F.count(F.when(F.col("l_discount") > 0.05, True)).alias("hi_disc_cnt"),
        F.round(F.avg(F.when(F.col("l_tax") == 0, F.col("l_extendedprice"))), 6).alias(
            "avg_notax_price"
        ),
    )


def _cust_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )


@query(
    "agg_stats_corr",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
           round(stddev_pop(l_discount), 6) AS sd_disc,
           round(var_samp(l_tax), 6) AS var_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covariance / stddev / variance) — all
    single-pass partial-aggregable moments, same shuffle profile as sum()."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_p"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_s"),
        F.round(F.stddev_pop("l_discount"), 6).alias("sd_disc"),
        F.round(F.var_samp("l_tax"), 6).alias("var_tax"),
    )


@query(
    "agg_bool_bitagg",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'F') AS any_finished,
           CAST(bit_and(o_orderkey) AS BIGINT) AS key_bit_and,
           CAST(bit_or(o_orderkey) AS BIGINT) AS key_bit_or,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_bit_xor
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bool_bitagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and bitwise aggregates: bool_and/bool_or (ANSI EVERY/ANY) and
    bit_and/bit_or/bit_xor — set-membership summaries and bitmap-style
    rollups. All five are associative+commutative, so Spark runs them
    partial+final with map-side combine: constant-size state per group at
    any scale."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bit_and("o_orderkey").cast("long").alias("key_bit_and"),
        F.bit_or("o_orderkey").cast("long").alias("key_bit_or"),
        F.bit_xor("o_orderkey").cast("long").alias("key_bit_xor"),
    )


@query(
    "agg_regr_native",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
           regr_count(l_extendedprice, l_quantity) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regr_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native linear-regression aggregates (regr_slope/intercept/r2/count) —
    the JVM-side complement to udaf_pandas_group's Python implementation of
    the same statistic: one partial+final aggregate, constant state (six
    moments) per group, no Arrow transfer. At 100 TB this is the difference
    between a shuffle of six doubles per group and shipping group data into
    Python workers."""
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 4).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


@query(
    "agg_approx_median",
    # FULL oracle (r04): GK-sketch outputs are engine-internal and can never
    # hash-match DuckDB's exact quantile — so the Spark side emits verified
    # tolerance flags (|approx−exact_interpolated| ≤ 1%·exact; the GK sketch
    # is deterministic, so the flags are stable) and the oracle asserts TRUE
    # alongside the group cardinality. A sketch regression flips a flag and
    # fails the driver hash check.
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           TRUE AS median_ok,
           TRUE AS p90_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median + p90 per group via percentile_approx (GK sketch,
    accuracy 10000), self-validated against Spark's exact interpolated
    percentile within 1% relative error (same bound unit-tested in
    tests/test_trainops.py). This is the scale path of agg_percentile
    (exact): the sketch is mergeable, so it's partial+final with bounded
    state, while exact percentile must sort each group — the exact side here
    exists only to validate; production use drops it."""
    li = load(spark, sf_dir, "lineitem")

    def ok(approx: F.Column, exact: F.Column) -> F.Column:
        return F.abs(approx - exact) <= 0.01 * F.abs(exact)

    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("am"),
            F.percentile_approx("l_extendedprice", 0.9, 10000).alias("ap"),
            F.percentile("l_extendedprice", 0.5).alias("em"),
            F.percentile("l_extendedprice", 0.9).alias("ep"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "n",
            ok(F.col("am"), F.col("em")).alias("median_ok"),
            ok(F.col("ap"), F.col("ep")).alias("p90_ok"),
        )
    )


@query(
    "agg_string_agg_ordered",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ', ' ORDER BY n_name) AS nations,
           count(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): Spark has no ordered
    collect, so determinism comes from array_sort before the join — same
    technique as agg_collect_sorted but producing the delimited-string form
    reports expect. Per-group state is the value list; bound group size at
    scale or switch to the array form + slice."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ", ").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


_CMS_W = 1024


_CMS_D = 4


@query(
    "agg_cms_estimate",
    # Self-validating FULL: sketch estimates are over-counts by construction
    # (ge_ok) and within d-row min-collision bound of exact on this corpus
    # (bound_ok, margin 3·N/w per row); both flags are deterministic. The
    # oracle asserts the flags with the exact top-20 counts.
    oracle="""
    SELECT o_custkey, cnt AS exact_cnt, TRUE AS ge_ok, TRUE AS bound_ok
    FROM (
      SELECT o_custkey, count(*) AS cnt
      FROM orders GROUP BY o_custkey
      ORDER BY cnt DESC, o_custkey LIMIT 20
    ) ORDER BY exact_cnt DESC, o_custkey
    """,
)
def agg_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch as DataFrame ops: d=4 independent hash rows, each a
    w=1024-bucket groupBy COUNT of the hashed key; a key's estimate is the
    MIN of its d bucket counts. Queried here for the exact top-20 customers
    by order count, emitting (exact count, est≥exact flag, est≤exact+3·N/w
    flag). The sketch IS four hash-bucketed count aggregates — mergeable
    across batches by summing buckets — restated declaratively, no private
    sketch API.

    100 TB: the CMS bucket table is d·w counters regardless of key
    cardinality — the frequency-estimate complement to the HLL key
    (agg_hll_sketch_merge, cardinality) and approx_top_k (heavy hitters);
    partial aggregation combines map-side and the bucket table broadcasts
    for probe-side estimation."""
    orders = load(spark, sf_dir, "orders")
    hashed = orders.select(
        "o_custkey",
        *[
            F.pmod(F.xxhash64(F.col("o_custkey"), F.lit(d)), F.lit(_CMS_W))
            .cast("int")
            .alias(f"h{d}")
            for d in range(_CMS_D)
        ],
    )
    # d bucket tables in ONE pass: unpivot the d hash columns, then a single
    # (row, bucket) groupBy — not d separate aggregations over the fact.
    buckets = (
        hashed.unpivot("o_custkey", [f"h{d}" for d in range(_CMS_D)], "row", "bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact_top = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "o_custkey")
        .limit(20)
    )
    # bound stays IN the plan (one-row broadcast), not an eager .count()
    # at plan-build time — and N comes from the sketch itself (any single
    # hash row's buckets sum to N), so no extra scan of the fact table.
    total_row = buckets.filter(F.col("row") == "h0").agg(
        (3.0 * F.sum("cnt") / _CMS_W).alias("bound")
    )
    probes = exact_top.select(
        "o_custkey",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"h{d}").alias("row"),
                        F.pmod(F.xxhash64(F.col("o_custkey"), F.lit(d)), F.lit(_CMS_W))
                        .cast("int")
                        .alias("bucket"),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("o_custkey", "exact_cnt", F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(buckets), ["row", "bucket"])
        .groupBy("o_custkey", "exact_cnt")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.crossJoin(F.broadcast(total_row))
        .select(
            "o_custkey",
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).alias("ge_ok"),
            (F.col("est") <= F.col("exact_cnt") + F.col("bound")).alias("bound_ok"),
        )
        .orderBy(F.col("exact_cnt").desc(), "o_custkey")
    )


@query(
    "agg_quantile_bins",
    oracle="""
    SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(avg(o_totalprice), 4) AS mean_price
    FROM (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    ) GROUP BY decile ORDER BY decile
    """,
)
def agg_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile binning of order values (equal-count bins via ntile with a
    deterministic o_orderkey tie-break) + per-bin count/min/max/mean — the
    quantile-bucket profile used for stratified splits and outlier fences.

    100 TB: ntile over a global ORDER BY is a single total sort — the
    honest cost of exact equal-count bins. At scale, swap in
    approx-percentile cut points (agg_approx_median's sketch) + width_bucket
    against the broadcast cut array: same output shape, no total sort;
    the exact form here doubles as that path's correctness reference."""
    o = load(spark, sf_dir, "orders")
    binned = o.select(
        "o_totalprice",
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("decile"),
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
        )
        .orderBy("decile")
    )


@query(
    "agg_sketch_intersection",
    # Self-validating FULL: the HLL inclusion-exclusion estimate is a
    # deterministic function of the two key sets; the oracle asserts the
    # exact set sizes plus the verified tolerance flag.
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < DATE '1997-01-01'),
         b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= DATE '1997-01-01')
    SELECT (SELECT count(*) FROM a) AS exact_a,
           (SELECT count(*) FROM b) AS exact_b,
           (SELECT count(*) FROM a WHERE o_custkey IN (SELECT o_custkey FROM b)) AS exact_inter,
           TRUE AS inter_ok
    """,
)
def agg_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection cardinality WITHOUT materializing the intersection:
    |A∩B| ≈ est(A) + est(B) − est(A∪B) over three mergeable HLL sketches
    (customers active before/after 1997). Inclusion-exclusion compounds the
    per-sketch error, so the self-check tolerance is 10% + 5 absolute —
    measured error here is far inside it; the flag is deterministic.

    100 TB: the reason to do this with sketches — A and B can live in
    different tables/days/regions; each side keeps a KB-size sketch and
    ANY pairwise overlap question (retention, audience intersection,
    contamination across shards) is sketch arithmetic, never a re-scan or
    a distinct-join. The exact sides here exist only to validate."""
    o = load(spark, sf_dir, "orders")
    cut = "1997-01-01"
    a = o.filter(F.col("o_orderdate") < cut)
    b = o.filter(F.col("o_orderdate") >= cut)
    sk = (
        a.agg(F.expr("hll_sketch_agg(o_custkey)").alias("ska"))
        .crossJoin(b.agg(F.expr("hll_sketch_agg(o_custkey)").alias("skb")))
        .select(
            F.expr("hll_sketch_estimate(ska)").alias("est_a"),
            F.expr("hll_sketch_estimate(skb)").alias("est_b"),
            F.expr("hll_sketch_estimate(hll_union(ska, skb))").alias("est_u"),
        )
        .select((F.col("est_a") + F.col("est_b") - F.col("est_u")).alias("est_inter"))
    )
    exact = (
        a.select("o_custkey")
        .distinct()
        .join(b.select("o_custkey").distinct(), "o_custkey", "left_semi")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
        .crossJoin(a.agg(F.count_distinct("o_custkey").alias("exact_a")))
        .crossJoin(b.agg(F.count_distinct("o_custkey").alias("exact_b")))
    )
    return exact.crossJoin(sk).select(
        "exact_a",
        "exact_b",
        "exact_inter",
        (
            F.abs(F.col("est_inter") - F.col("exact_inter"))
            <= 0.10 * F.col("exact_inter") + F.lit(5.0)
        ).alias("inter_ok"),
    )


@query(
    "agg_weighted_percentile",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             sum(l_quantity) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING
             ) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_extendedprice), 2) AS weighted_median,
           round(min(tw), 1) AS total_weight
    FROM w WHERE cw >= 0.5 * tw
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest price at which the running quantity
    weight crosses half the group total — cumulative-weight window with a
    deterministic (price, orderkey, linenumber) order, then min() over the
    crossing rows. Neither percentile() nor percentile_approx() takes
    weights; this window shape is the standard rewrite.

    100 TB (r11 rewrite, r12 crossing-bucket prune, r13 skew guard):
    l_returnflag has THREE values, so the naive partitionBy(flag)
    window serializes the corpus into three single-threaded sorts (r11
    100× rehearsal: exponent 0.98). Level 1 is r12's fixed-width prune
    — 256 price buckets per flag, bucket-level cumsum over the 3×256
    partials, and only the CROSSING bucket's rows go any further
    (off_b < 0.5·tw ≤ off_b + bw_b, and min() ignores every later
    bucket's higher prices) — the full-corpus work stays three
    column-pruned scans with map-side partial aggs, no row shuffle.

    Order-theoretic simplification (r13): the oracle's (orderkey,
    linenumber) tie-break never changes the crossing PRICE — p* =
    min{p : W(≤p) ≥ 0.5·tw} where W is quantity mass by price (every
    strictly-lower-priced row precedes the p* block under ANY
    intra-price order, and the running sum crosses inside that block)
    — so the final window orders by price ALONE: same answer, narrower
    sort key, no orderkey/linenumber columns carried.

    Skew guard (r13): a price POINT-MASS under an outlier-stretched
    grid defeats the fixed-width level 1 — the rehearsal corpus put
    540,505 of 600,001 rows into the crossing bucket (a 0.9·n
    single-task sort). The guard reads the crossing bucket's row count
    from the ALREADY-persisted 768-row bucket relation (a bounded
    driver read, ≤|flags| rows, same class as the engine's other five
    bounded collects) and, only when the slice exceeds 4× its fair
    share + 4096, routes through level 2: consolidate the slice by
    price (groupBy(flag, price) — the hash agg's map-side combine
    collapses a point-mass BEFORE the shuffle), re-bucket the distinct
    prices with QUANTILE split points (a fixed grid would re-degenerate
    on a dense cluster of distinct prices; quantile buckets hold ~equal
    distinct-price counts for any distribution), and sort only the
    level-2 crossing sub-bucket. Post-fix rehearsal: max window task
    14 vs 540,505 on the skew corpus; the normal-corpus plan is
    bit-identical to r12's (the guard does not fire), so the healthy
    path pays only the two tiny driver reads. Bucket assignment at
    both levels is a pure monotone function of price, so bucket-major
    + within-bucket price order IS the global price order; quantities
    are integral (TPC-H 1..50), so every partial sum is exact in f64
    regardless of association. The level-2 sketch need not be
    deterministic: any monotone bucketing yields the same result.
    """
    from engine.tables import swap_persist

    li = load(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.sum("l_quantity").alias("tw"),
    )
    step = (F.col("mx") - F.col("mn")) / F.lit(256.0)
    bkt = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("mn")) / step), F.lit(255)
        )
    )
    rows = li.join(F.broadcast(stats), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        "tw",
        bkt.alias("bkt"),
    )
    bo = Window.partitionBy("l_returnflag").orderBy("bkt")
    # 3×256 rows; persisted because the crossing filter, the offset join
    # and the skew guard all read it — without the persist each reference
    # recomputes the full-corpus bucket aggregation (a whole extra scan).
    boff = swap_persist(
        spark,
        rows.groupBy("l_returnflag", "bkt")
        .agg(
            F.sum("l_quantity").alias("bw"),
            F.count(F.lit(1)).alias("bn"),
            F.first("tw").alias("tw"),
        )
        .select(
            "l_returnflag",
            "bkt",
            "bw",
            "bn",
            "tw",
            (
                F.sum("bw").over(bo.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("bw")
            ).alias("off"),
        ),
        "wpctl_boff",
    )
    crossing = (
        boff.filter(F.col("off") + F.col("bw") >= 0.5 * F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("bkt").alias("bkt"))
        .join(
            boff.select("l_returnflag", "bkt", "off"),
            ["l_returnflag", "bkt"],
        )
    )
    # Skew guard: ONE bounded driver read over the persisted 768-row
    # bucket relation (min_by picks each flag's crossing-bucket row count
    # without a second pass; a single action keeps the two lineitem scan
    # stages free to overlap inside the main job) — never row-scaled.
    probe = (
        boff.groupBy("l_returnflag")
        .agg(
            F.expr(
                "min_by(bn, CASE WHEN off + bw >= 0.5 * tw THEN bkt END)"
            ).alias("cbn"),
            F.sum("bn").alias("nf"),
        )
        .agg(F.max("cbn").alias("mx_bn"), F.sum("nf").alias("total"))
        .first()
    )
    skewed = probe["mx_bn"] is not None and probe["mx_bn"] > 4 * (
        (probe["total"] or 0) // 256
    ) + 4096

    final_agg = lambda w: (  # noqa: E731 — shared tail of both paths
        w.filter(F.col("cw") >= 0.5 * F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("weighted_median"),
            F.round(F.min("tw"), 1).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )

    if not skewed:
        # Healthy path — r12's plan: sort the ~n/256 crossing slice.
        wspec = Window.partitionBy("l_returnflag", "bkt").orderBy(
            "l_extendedprice"
        )
        w = rows.join(
            F.broadcast(crossing.select("l_returnflag", "bkt", "off")),
            ["l_returnflag", "bkt"],
        ).select(
            "l_returnflag",
            "l_extendedprice",
            (
                F.col("off")
                + F.sum("l_quantity").over(
                    wspec.rowsBetween(Window.unboundedPreceding, 0)
                )
            ).alias("cw"),
            "tw",
        )
        return final_agg(w)

    # Level 2 (skewed slice): consolidate by price, quantile-sub-bucket.
    slicew = swap_persist(
        spark,
        rows.join(
            F.broadcast(crossing.select("l_returnflag", "bkt", "off")),
            ["l_returnflag", "bkt"],
        )
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(
            F.sum("l_quantity").alias("pw"),
            F.first("tw").alias("tw"),
            F.first("off").alias("off"),
        ),
        "wpctl_slicew",
    )
    sstats = slicew.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", [i / 64.0 for i in range(1, 64)], 1000
        ).alias("splits")
    )
    bkt2 = F.aggregate(
        F.col("splits"),
        F.lit(0),
        lambda acc, s: acc
        + F.when(F.col("l_extendedprice") >= s, 1).otherwise(0),
    )
    rows2 = slicew.join(F.broadcast(sstats), "l_returnflag").select(
        "l_returnflag", "l_extendedprice", "pw", "tw", "off", bkt2.alias("b2")
    )
    bo2 = Window.partitionBy("l_returnflag").orderBy("b2")
    boff2 = (
        rows2.groupBy("l_returnflag", "b2")
        .agg(
            F.sum("pw").alias("bw2"),
            F.first("tw").alias("tw"),
            F.first("off").alias("off"),
        )
        .select(
            "l_returnflag",
            "b2",
            "bw2",
            "tw",
            (
                F.col("off")
                + F.sum("bw2").over(bo2.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("bw2")
            ).alias("off2"),
        )
    )
    crossing2 = (
        boff2.filter(F.col("off2") + F.col("bw2") >= 0.5 * F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("b2").alias("b2"))
        .join(boff2.select("l_returnflag", "b2", "off2"), ["l_returnflag", "b2"])
    )
    wspec = Window.partitionBy("l_returnflag", "b2").orderBy("l_extendedprice")
    w = rows2.join(F.broadcast(crossing2), ["l_returnflag", "b2"]).select(
        "l_returnflag",
        "l_extendedprice",
        (
            F.col("off2")
            + F.sum("pw").over(wspec.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cw"),
        "tw",
    )
    return final_agg(w)


@query(
    "agg_skew_kurtosis",
    oracle="""
    WITH mu AS (
      SELECT l_returnflag, avg(l_extendedprice) AS m,
             count(*) AS n
      FROM lineitem GROUP BY 1
    ),
    mom AS (
      SELECT l.l_returnflag,
             avg((l_extendedprice - m) ^ 2) AS m2,
             avg((l_extendedprice - m) ^ 3) AS m3,
             avg((l_extendedprice - m) ^ 4) AS m4,
             max(n) AS n
      FROM lineitem l JOIN mu ON l.l_returnflag = mu.l_returnflag
      GROUP BY 1
    )
    SELECT l_returnflag, n,
           round(m3 / (m2 ^ 1.5), 4) AS skew,
           round(m4 / (m2 ^ 2) - 3, 4) AS kurt
    FROM mom ORDER BY l_returnflag
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher moments per group: skewness (g1) and excess kurtosis (g2) of
    the price distribution — the distribution-shape profile a data-quality
    monitor tracks beside mean/stddev (agg_global) and percentiles.
    Spark's built-ins are the POPULATION forms; DuckDB's are
    sample-corrected, so the oracle computes m3/m2^1.5 and m4/m2²−3
    explicitly from central moments — the engine-neutral definition.

    100 TB: Spark computes both in ONE streaming pass (central-moment
    update formulas, partial+final mergeable) — no μ-then-residuals double
    scan like the oracle's two-join shape; that asymmetry is exactly why
    the built-in exists."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.skewness("l_extendedprice"), 4).alias("skew"),
            F.round(F.kurtosis("l_extendedprice"), 4).alias("kurt"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "udaf_arrow_group",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(min(l_discount), 2) AS min_disc,
           round(max(l_discount), 2) AS max_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def udaf_arrow_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF on the pyarrow-native path: ``applyInArrow``
    receives each group as a pyarrow.Table and aggregates with
    pyarrow.compute kernels — no pandas object materialization at all
    (compare udaf_pandas_group, the pandas sibling). Right shape for
    binary/nested columns pandas would box per-cell.

    100 TB: one shuffle on the group key; per-group work is a handful of
    SIMD compute kernels over Arrow buffers. Same caveat as every grouped
    map: a group must fit one executor — pre-aggregate partial results
    when keys are heavy (the built-in agg path does this for free, which
    is why applyInArrow is for logic builtins CAN'T express; the simple
    aggregates here exist to be oracle-checkable)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # no type hints: applyInArrow infers the eval type from the SIGNATURE,
    # and annotated params break its inference (UserWarning + eval_type
    # UnboundLocalError on Spark 4.1)
    def summarize(key, table):
        price = table.column("l_extendedprice")
        disc = table.column("l_discount")
        return pa.Table.from_pydict(
            {
                "l_returnflag": [key[0]],
                "n": [table.num_rows],
                "sum_price": [round(pc.sum(price).as_py(), 2)],
                "min_disc": [round(pc.min(disc).as_py(), 2)],
                "max_disc": [round(pc.max(disc).as_py(), 2)],
            }
        )

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    return (
        li.groupBy("l_returnflag")
        .applyInArrow(
            summarize,
            "l_returnflag string, n long, sum_price double, "
            "min_disc double, max_disc double",
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_entropy_token",
    oracle="""
    WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    c AS (SELECT lang, tok, CAST(count(*) AS DOUBLE) AS c
          FROM t GROUP BY 1, 2),
    g AS (SELECT lang, sum(c) AS n, count(*) AS vocab,
                 sum(c * ln(c)) AS clnc
          FROM c GROUP BY 1)
    SELECT lang, CAST(n AS BIGINT) AS n_tokens, vocab,
           round(ln(n) - clnc / n, 6) AS entropy_nats
    FROM g
    """,
)
def agg_entropy_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per language, in nats:
    H = ln N − (Σ c·ln c)/N over per-(lang, token) counts — the corpus-
    health metric that flags distribution collapse (dedup gone wrong,
    template floods) as an entropy drop. Rounded to 6 dp: the Σ c·ln c
    group-sum is order-dependent (and libm ln may differ in the last ulp
    across engines); everything else is exact integer arithmetic.

    100 TB: explode → two cascaded aggs, both with map-side partial
    combine; state is O(vocab per language), never O(tokens)."""
    t = load(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    c = t.groupBy("lang", "tok").agg(F.count("*").cast("double").alias("c"))
    g = c.groupBy("lang").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("vocab"),
        F.sum(F.col("c") * F.log("c")).alias("clnc"),
    )
    return g.select(
        "lang",
        F.col("n").cast("bigint").alias("n_tokens"),
        "vocab",
        F.round(F.log("n") - F.col("clnc") / F.col("n"), 6).alias("entropy_nats"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY 1
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT DISTINCT via Spark's bitmap aggregate family: keys
    bucketed by bitmap_bucket_number, per-(group, bucket) bitmaps built
    with bitmap_construct_agg(bitmap_bit_position(key)), then per-group
    distinct = Σ bitmap_count — the exact-answer, mergeable alternative
    to approx HLL (agg_hll_sketch_merge) when the key domain is dense
    integers. Oracle is the plain COUNT(DISTINCT).

    100 TB: both levels partial-aggregate map-side (bitmap OR is
    associative+commutative); state per group is |domain|/32768 bitmaps
    of 4 KB — for a 1.5B-customer domain that is ~180 MB per group worst
    case, so this shape suits dense-domain groups; sparse domains go to
    HLL. The two-level split keeps any single bitmap bounded regardless
    of key spread."""
    o = load(spark, sf_dir, "orders")
    inner = o.groupBy(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias(
            "bm"
        )
    )
    return inner.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_customers")
    )


@query(
    "agg_ks_drift",
    oracle="""
    WITH v AS (SELECT value,
                      CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS i1,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i2
               FROM events WHERE event_type IN ('view', 'purchase')),
    g AS (SELECT value, CAST(sum(i1) AS BIGINT) AS c1,
                 CAST(sum(i2) AS BIGINT) AS c2
          FROM v GROUP BY 1),
    c AS (SELECT sum(c1) OVER (ORDER BY value) AS cum1,
                 sum(c2) OVER (ORDER BY value) AS cum2
          FROM g),
    n AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1,
                 CAST(sum(c2) AS DOUBLE) AS n2 FROM g)
    SELECT CAST((SELECT n1 FROM n) AS BIGINT) AS n_view,
           CAST((SELECT n2 FROM n) AS BIGINT) AS n_purchase,
           max(abs(CAST(cum1 AS DOUBLE) / (SELECT n1 FROM n)
                   - CAST(cum2 AS DOUBLE) / (SELECT n2 FROM n))) AS d_stat
    FROM c
    """,
)
def agg_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of 'view' and 'purchase' events: D = max |F₁(v) − F₂(v)|
    over the pooled support — the standard drift test between two corpus
    snapshots or two pipeline stages. Computed from EXACT per-value integer
    counts and cumulative sums; the divisions and the max are then
    bit-identical across engines, so D needs no rounding.

    100 TB: the per-value agg collapses the stream first; the cumulative
    window then runs over |distinct values| rows. That window is a single
    global sort here (documented local-scale shortcut) — at scale,
    range-partition by value and carry per-partition offset sums (the
    standard distributed prefix-sum), or bin values to a fixed grid first
    (KS on quantized support bounds the error by the bin width)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    g = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "c2"
        ),
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("c1").over(w).alias("cum1"), F.sum("c2").over(w).alias("cum2")
    )
    n = g.agg(
        F.sum("c1").cast("double").alias("n1"),
        F.sum("c2").cast("double").alias("n2"),
    )
    return (
        c.join(F.broadcast(n))
        .agg(
            F.min("n1").cast("bigint").alias("n_view"),
            F.min("n2").cast("bigint").alias("n_purchase"),
            F.max(
                F.abs(
                    F.col("cum1").cast("double") / F.col("n1")
                    - F.col("cum2").cast("double") / F.col("n2")
                )
            ).alias("d_stat"),
        )
    )


@query(
    "agg_histogram_2d",
    oracle="""
    SELECT CAST(hour(ts) AS INT) AS hr,
           CAST(least(floor(value / 50), 9) AS INT) AS vbucket,
           count(*) AS n,
           round(sum(value), 4) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (heatmap aggregation): hour-of-day × value bucket
    (50-wide bins, top bin clamped) with count and rounded mass per cell.
    The workhorse behind density heatmaps and drift dashboards.

    Plan: pure groupBy on two derived low-cardinality keys — 24×10 output
    cells — so partial aggregation collapses nearly everything map-side;
    the shuffle moves ≤ 240 rows per task at any scale."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.hour("ts").cast("int").alias("hr"),
            F.least(F.floor(F.col("value") / 50), F.lit(9))
            .cast("int")
            .alias("vbucket"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT c_nationkey AS nation, o_custkey AS cust,
             round(sum(o_totalprice), 2) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nation, rev,
             row_number() OVER (PARTITION BY nation ORDER BY rev, cust) AS rn
      FROM rev
    )
    SELECT nation,
           count(*) AS n_cust,
           round(sum(rev), 2) AS total_rev,
           round(2.0 * sum(rn * rev) / (count(*) * sum(rev))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked GROUP BY nation
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient per nation over customer
    revenue — 0 = perfectly equal customers, →1 = one whale. Uses the
    rank-weighted closed form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending revenue, with (rev, cust) as the total rank order so ties
    are deterministic.

    Plan: one (nation, cust) aggregate shuffle, one window shuffle on
    nation for the rank, one final nation aggregate — all keys
    low-cardinality or naturally sharded. The rank-weighted sum is the
    only order-sensitive float; its relative error is ~1e-15 of the
    total, absorbed by the 6-dp rounding on both sides."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"), F.col("o_custkey").alias("cust")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("nation").orderBy("rev", "cust")
    ranked = rev.withColumn("rn", F.row_number().over(w))
    n = F.count("*")
    return ranked.groupBy("nation").agg(
        n.alias("n_cust"),
        F.round(F.sum("rev"), 2).alias("total_rev"),
        F.round(
            F.lit(2.0) * F.sum(F.col("rn") * F.col("rev")) / (n * F.sum("rev"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@query(
    "agg_dau_mau",
    oracle="""
    WITH dau AS (
      SELECT date_trunc('day', ts) AS day,
             count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ),
    mau AS (
      SELECT date_trunc('month', ts) AS month,
             count(DISTINCT user_id) AS mau
      FROM events GROUP BY 1
    )
    SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, mau.mau,
           round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM dau JOIN mau ON date_trunc('month', dau.day) = mau.month
    """,
)
def agg_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness: daily distinct users over the calendar month's
    distinct users — the engagement ratio every product dashboard tracks.

    Plan: two distinct-count aggregates over the same scan (Spark runs
    count(DISTINCT) via a two-stage expand + partial agg, user_id-sharded),
    then a broadcast join of the ≤12-row month relation onto the day
    relation. At 100 TB both distincts shuffle on (bucket, user_id); the
    join side stays bounded by calendar size."""
    e = load(spark, sf_dir, "events")
    dau = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    mau = e.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(
            F.broadcast(mau), F.date_trunc("month", F.col("day")) == F.col("month")
        )
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


@query(
    "agg_weighted_moments",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2) AS total_w,
           round(sum(l_quantity * l_discount) / sum(l_quantity), 6)
             AS wmean_disc,
           round(sum(l_quantity * l_discount * l_discount) / sum(l_quantity)
                 - (sum(l_quantity * l_discount) / sum(l_quantity))
                   * (sum(l_quantity * l_discount) / sum(l_quantity)), 6)
             AS wvar_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted mean and variance of the discount, weighted by
    quantity — the importance-weighted statistics a resampled/weighted
    training corpus needs (plain avg() answers the wrong question when
    rows carry weights).

    Plan: three weighted sums, all partial-aggregable in one pass — the
    same single-shuffle profile as agg_global. The measure is bounded
    (discount ≤ 0.1), so Σw·x² stays ~1e4 and the 6-dp rounding has ~11
    digits of headroom over float-association noise (the reason discount,
    not extendedprice, is the demonstration column — see module
    docstring)."""
    li = load(spark, sf_dir, "lineitem")
    w, x = F.col("l_quantity"), F.col("l_discount")
    sw, swx, swx2 = F.sum(w), F.sum(w * x), F.sum(w * x * x)
    return li.groupBy("l_returnflag").agg(
        F.round(sw, 2).alias("total_w"),
        F.round(swx / sw, 6).alias("wmean_disc"),
        F.round(swx2 / sw - (swx / sw) * (swx / sw), 6).alias("wvar_disc"),
    )


@query(
    "agg_share_of_parent",
    oracle="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             round(sum(o.o_totalprice), 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    reg AS (SELECT region, round(sum(rev), 2) AS region_rev
            FROM nat GROUP BY region)
    SELECT n.region, n.nation, n.rev,
           round(n.rev / g.region_rev, 6) AS share_of_region,
           CAST(row_number() OVER (PARTITION BY n.region
                                   ORDER BY n.rev DESC, n.nation) AS INT)
             AS rank_in_region
    FROM nat n JOIN reg g ON n.region = g.region
    """,
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: each nation's revenue as a fraction
    of its region's total, with the nation's rank inside the region — the
    drill-down decomposition every BI hierarchy renders.

    Plan: one fact aggregate (dims broadcast — 4× BroadcastHashJoin), then
    all further work runs on the 25-row nation relation: the parent total
    is a re-aggregate + broadcast join, the rank a window over ≤25 rows.
    Division of two already-rounded totals, rounded again — deterministic."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    nat = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    reg = nat.groupBy("region").agg(F.round(F.sum("rev"), 2).alias("region_rev"))
    w = Window.partitionBy("region").orderBy(F.col("rev").desc(), "nation")
    return (
        nat.join(F.broadcast(reg), "region")
        .select(
            "region",
            "nation",
            "rev",
            F.round(F.col("rev") / F.col("region_rev"), 6).alias(
                "share_of_region"
            ),
            F.row_number().over(w).cast("int").alias("rank_in_region"),
        )
    )


@query(
    "agg_mad_robust",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT li.l_returnflag,
           count(*) AS n,
           round(any_value(med.m), 4) AS median_price,
           round(quantile_cont(abs(li.l_extendedprice - med.m), 0.5), 4)
             AS mad_price
    FROM lineitem li JOIN med ON li.l_returnflag = med.l_returnflag
    GROUP BY li.l_returnflag
    """,
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion measure
    that ignores the outliers stddev chases: median of |x − group median|.
    Two exact interpolated percentiles chained (the same interpolation
    rule agg_percentile pinned cross-engine).

    Plan: pass 1 aggregates the group medians (3 rows → broadcast); pass 2
    joins them back and aggregates the absolute deviations — two scans,
    two shuffles on the same low-cardinality key. That two-pass shape is
    inherent to nested order statistics; at 100 TB the first pass can
    switch to approx_percentile when a 1e-4-relative median suffices."""
    li = load(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("m")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.any_value("m"), 4).alias("median_price"),
            F.round(
                F.percentile(F.abs(F.col("l_extendedprice") - F.col("m")), 0.5),
                4,
            ).alias("mad_price"),
        )
    )


@query(
    "agg_covariance_matrix",
    oracle="""
    WITH s AS (
      SELECT round(covar_pop(l_quantity, l_extendedprice), 4) AS c12,
             round(covar_pop(l_quantity, l_discount), 6) AS c13,
             round(covar_pop(l_quantity, l_tax), 6) AS c14,
             round(covar_pop(l_extendedprice, l_discount), 4) AS c23,
             round(covar_pop(l_extendedprice, l_tax), 4) AS c24,
             round(covar_pop(l_discount, l_tax), 8) AS c34,
             round(corr(l_quantity, l_extendedprice), 6) AS r12,
             round(corr(l_quantity, l_discount), 6) AS r13,
             round(corr(l_quantity, l_tax), 6) AS r14,
             round(corr(l_extendedprice, l_discount), 6) AS r23,
             round(corr(l_extendedprice, l_tax), 6) AS r24,
             round(corr(l_discount, l_tax), 6) AS r34
      FROM lineitem
    )
    SELECT 'quantity' AS m1, 'extendedprice' AS m2, c12 AS cov, r12 AS corr
    FROM s
    UNION ALL SELECT 'quantity', 'discount', c13, r13 FROM s
    UNION ALL SELECT 'quantity', 'tax', c14, r14 FROM s
    UNION ALL SELECT 'extendedprice', 'discount', c23, r23 FROM s
    UNION ALL SELECT 'extendedprice', 'tax', c24, r24 FROM s
    UNION ALL SELECT 'discount', 'tax', c34, r34 FROM s
    """,
)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance/correlation matrix of the four lineitem
    measures, upper triangle in long form — the feature-correlation audit
    that precedes any modeling on tabular measures.

    Plan: all 12 moments are single-pass partial-aggregable and computed
    in ONE global aggregate (one scan, one 1-row reduce); the melt to
    long form is a stack() over that single row — no per-pair scans.
    Rounding scales match each pair's magnitude so float association
    noise stays below the last kept digit."""
    li = load(spark, sf_dir, "lineitem")
    s = li.agg(
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("c12"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("c13"),
        F.round(F.covar_pop("l_quantity", "l_tax"), 6).alias("c14"),
        F.round(F.covar_pop("l_extendedprice", "l_discount"), 4).alias("c23"),
        F.round(F.covar_pop("l_extendedprice", "l_tax"), 4).alias("c24"),
        F.round(F.covar_pop("l_discount", "l_tax"), 8).alias("c34"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r12"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("r13"),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("r14"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("r23"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("r24"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("r34"),
    )
    return s.selectExpr(
        "stack(6, "
        "'quantity', 'extendedprice', c12, r12, "
        "'quantity', 'discount', c13, r13, "
        "'quantity', 'tax', c14, r14, "
        "'extendedprice', 'discount', c23, r23, "
        "'extendedprice', 'tax', c24, r24, "
        "'discount', 'tax', c34, r34) AS (m1, m2, cov, corr)"
    )


@query(
    "agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
             AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
             AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2))
                       - CAST(l_discount AS DECIMAL(12,2)))) AS VARCHAR)
             AS sum_disc_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation — the type-system counterpart of the
    float Q1: measures cast to DECIMAL(12,2) so the sums are EXACT
    integers-in-disguise with no rounding discipline needed; both engines
    must produce digit-identical totals (emitted as strings because
    decimal scale, not value, is the only cross-engine wobble —
    Spark's (12,2)×(12,4) product rules and DuckDB's differ in declared
    scale while agreeing numerically; VARCHAR of the sum normalizes the
    comparison to the digits).

    Plan: identical to agg_group_hash — partial+final hash aggregate, one
    shuffle; DECIMAL partials are 128-bit integer adds, associative and
    order-free, which is exactly WHY exactness holds at any parallelism.
    At 100 TB decimal sums are the audit-grade path (finance-exact),
    bought at ~2× the CPU of double sums."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(12,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(q).cast("string").alias("sum_qty"),
        F.sum(p).cast("string").alias("sum_price"),
        F.sum(p * (one - disc)).cast("string").alias("sum_disc_price"),
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           CAST(grouping(o_orderstatus) AS INT) AS g_st,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                AS INT) AS gid,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS rev
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() indicator columns and the grouping-id bitmask over
    explicit GROUPING SETS — the disambiguation machinery that lets a
    consumer tell a real NULL key from a subtotal row (the companion to
    agg_rollup/agg_cube/agg_grouping_sets, which pinned the set algebra;
    this key pins the indicator surface). The bitmask is spelled
    grouping(a)*2 + grouping(b) on both sides because the engines'
    native GROUPING_ID bit orders differ while grouping() is standard.

    Plan: one Expand (×4 grouping sets) feeding a single partial+final
    hash aggregate — same single-shuffle profile as a plain group-by at
    4× the pre-aggregation row count."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gid_src")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               CAST(grouping(o_orderstatus) AS INT) AS g_st,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                    AS INT) AS gid,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS rev
        FROM orders_gid_src
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "agg_listagg_native",
    oracle="""
    SELECT c_nationkey,
           string_agg(seg, '|' ORDER BY seg) AS segments,
           count(*) AS n_segments
    FROM (SELECT DISTINCT c_nationkey, c_mktsegment AS seg FROM customer)
    GROUP BY c_nationkey
    """,
)
def agg_listagg_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation via the NATIVE Spark 4 `listagg(expr,
    sep) WITHIN GROUP (ORDER BY ...)` aggregate — the standard-SQL twin of
    `agg_string_agg_ordered`, which composes array_sort(collect_list)
    because pre-4.0 Spark had no ordered collect. Input is the distinct
    (nation, segment) relation, so the aggregate sees a bounded set.

    Plan note: listagg is a JVM-side ImperativeAggregate with map-side
    partials (each partial holds its local values; merge concatenates and
    the ORDER BY applies once at final) — unlike collect_list+sort it
    never materializes a Python-visible array column. Per-group state is
    the value list either way: at 100 TB keep the group domain bounded
    (distinct first, as here) or cap with a windowed top-k."""
    tag = sftag(sf_dir)
    vw = f"sg_la_customer_{tag}"
    load(spark, sf_dir, "customer").createOrReplaceTempView(vw)
    return spark.sql(
        f"""
        SELECT c_nationkey,
               listagg(seg, '|') WITHIN GROUP (ORDER BY seg) AS segments,
               count(*) AS n_segments
        FROM (SELECT DISTINCT c_nationkey, c_mktsegment AS seg FROM {vw})
        GROUP BY c_nationkey
        """
    )


@query(
    "agg_hour_dow_heatmap",
    oracle="""
    WITH cells AS (
      SELECT isodow(ts) - 1 AS dow, CAST(hour(ts) AS INT) AS hr,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT dow, hr, cnt,
           round(CAST(cnt AS DOUBLE)
                 / sum(cnt) OVER (PARTITION BY dow), 4) AS share_of_dow
    FROM cells
    """,
)
def agg_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event counts per (weekday, hour) cell plus each
    cell's share of its weekday — the calendar-rhythm view every ops
    dashboard opens with. Weekday normalized to 0=Monday across engines
    (Spark weekday() ↔ DuckDB isodow − 1, the engine-neutral convention
    `fn_date_core` established).

    Plan note: the fact table collapses to ≤168 cells in one partially
    aggregated shuffle; the share window then runs over the tiny cell
    relation (7 partitions of ≤24 rows). Never window the raw events —
    aggregate first, window the aggregate. 100 TB: same two-stage shape;
    the cell relation stays 168 rows regardless of input volume."""
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        F.weekday("ts").alias("dow"), F.hour("ts").cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("dow")
    return cells.withColumn(
        "share_of_dow",
        F.round(F.col("cnt").cast("double") / F.sum("cnt").over(w), 4),
    )


@query(
    "agg_rfm_segmentation",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS INT) AS r,
           CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS INT) AS f,
           CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS INT) AS m,
           CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) * 100
                + ntile(5) OVER (ORDER BY frequency, o_custkey) * 10
                + ntile(5) OVER (ORDER BY monetary, o_custkey) AS INT)
             AS segment
    FROM rfm
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, quintile ranks of recency (last
    order date), frequency (order count), and monetary (lifetime value),
    composed into the classic 3-digit segment code (555 = best). Each
    ntile orders by (metric, custkey) — the unique-key tie-break makes
    quintile boundaries deterministic even where thousands of customers
    share a frequency of 10 (§5.3 rule 5).

    Plan note: the fact table collapses to one row per customer first
    (one shuffle, partial-agg), then three ntile windows run over the
    customer-sized relation. Unpartitioned ntile = a single-partition
    sort of CUSTOMERS (not orders) — fine into the tens of millions; at
    true 100 TB entity counts swap ntile for percent_rank-over-
    approx-quantile boundaries, which keeps the quintile assignment
    distributed (the agg_quantile_bins shape)."""
    o = load(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    w_r = Window.orderBy("last_order", "o_custkey")
    w_f = Window.orderBy("frequency", "o_custkey")
    w_m = Window.orderBy("monetary", "o_custkey")
    r, f_, m = (
        F.ntile(5).over(w_r).cast("int"),
        F.ntile(5).over(w_f).cast("int"),
        F.ntile(5).over(w_m).cast("int"),
    )
    return rfm.select(
        "o_custkey",
        r.alias("r"),
        f_.alias("f"),
        m.alias("m"),
        (r * 100 + f_ * 10 + m).cast("int").alias("segment"),
    )


@query(
    "agg_percentile_cont_disc",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.5), 2) AS median_cont,
           round(quantile_disc(c_acctbal, 0.5), 2) AS median_disc,
           round(quantile_cont(c_acctbal, 0.9), 2) AS p90_cont,
           count(*) AS n
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_percentile_cont_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI ordered-set aggregates: percentile_cont (interpolates
    between the two straddling members) vs percentile_disc (returns an
    actual member — the smallest whose cumulative distribution reaches
    p), both in the standard WITHIN GROUP (ORDER BY ...) syntax, grouped
    by market segment. cont ≠ disc whenever the percentile falls between
    members — reports that quote a 'median account balance' should say
    which one they mean; this key puts both side by side.

    Plan note: exact percentiles sort within each group (state = the
    group's values). At 100 TB swap cont for percentile_approx's GK
    sketch (agg_approx_median's mergeable, bounded-state shape) and keep
    disc only where an actual member value is contractually required."""
    tag = sftag(sf_dir)
    vw = f"sg_pcd_customer_{tag}"
    load(spark, sf_dir, "customer").createOrReplaceTempView(vw)
    return spark.sql(
        f"""
        SELECT c_mktsegment,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal), 2)
                 AS median_cont,
               round(percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal), 2)
                 AS median_disc,
               round(percentile_cont(0.9) WITHIN GROUP (ORDER BY c_acctbal), 2)
                 AS p90_cont,
               count(*) AS n
        FROM {vw}
        GROUP BY c_mktsegment
        """
    )


@query(
    "agg_ab_ttest",
    oracle="""
    WITH g AS (
      SELECT event_type,
             count(*) AS n,
             avg(value) AS m,
             var_samp(value) AS v
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type
    ),
    ab AS (
      SELECT
        (SELECT n FROM g WHERE event_type = 'click') AS n1,
        (SELECT m FROM g WHERE event_type = 'click') AS m1,
        (SELECT v FROM g WHERE event_type = 'click') AS v1,
        (SELECT n FROM g WHERE event_type = 'purchase') AS n2,
        (SELECT m FROM g WHERE event_type = 'purchase') AS m2,
        (SELECT v FROM g WHERE event_type = 'purchase') AS v2
    )
    SELECT n1, n2,
           round(m1, 4) AS mean_a,
           round(m2, 4) AS mean_b,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 3) + 0.0 AS t_stat,
           round(pow(v1 / n1 + v2 / n2, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)),
                 1) AS welch_df
    FROM ab
    """,
)
def agg_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test between click and purchase event values:
    group means, the unequal-variance t statistic, and the
    Welch–Satterthwaite degrees of freedom — the A/B-experimentation
    primitive, computed entirely from partial-aggregable sums (count /
    avg / var_samp all merge map-side).

    Determinism: the statistic is a closed-form scalar over group
    aggregates, computed identically in both engines and rounded once
    (t gets the +0.0 negative-zero collapse, rule 11). 100 TB: one
    partial-agg pass per arm regardless of volume — the experiment
    readout costs one scan; thousands of simultaneous experiments fold
    into the same pass with (experiment_id, arm) keys."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    b = g.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n2"), F.col("m").alias("m2"), F.col("v").alias("v2")
    )
    ab = a.crossJoin(b)  # 1x1 rows: the two experiment arms
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se2)
    df_w = F.pow(se2, 2) / (
        F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
        + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
    )
    return ab.select(
        "n1",
        "n2",
        F.round("m1", 4).alias("mean_a"),
        F.round("m2", 4).alias("mean_b"),
        (F.round(t, 3) + F.lit(0.0)).alias("t_stat"),
        F.round(df_w, 1).alias("welch_df"),
    )


@query(
    "agg_rate_smoothing",
    oracle="""
    WITH seg AS (
      SELECT user_id % 25 AS segment,
             count(*) FILTER (WHERE event_type = 'view') AS views,
             count(*) FILTER (WHERE event_type = 'purchase') AS buys
      FROM events GROUP BY 1
    ),
    prior AS (
      SELECT sum(buys) AS b, sum(views) AS v FROM seg
    )
    SELECT s.segment,
           s.views, s.buys,
           round(CAST(s.buys AS DOUBLE) / nullif(s.views, 0), 4) AS raw_rate,
           round((s.buys + 10.0 * (p.b / CAST(p.v AS DOUBLE)))
                 / (s.views + 10.0), 4) AS smoothed_rate
    FROM seg s, prior p
    """,
)
def agg_rate_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate smoothing: per-segment purchase-per-view
    rates shrunk toward the global rate with a pseudo-count prior of 10
    views — the standard fix for ranking segments by conversion when
    exposure counts differ wildly (a 1/1 segment must not outrank
    500/10000). Emits raw and smoothed side by side so the shrinkage is
    auditable.

    Plan: one conditional aggregate to segment grain, one global sum over
    the segment relation (segment-cardinality, broadcast back as a
    1-row cross join) — the fact table is scanned once. 100 TB: identical
    shape; the prior strength (10) trades bias for variance and is the
    only tunable."""
    e = load(spark, sf_dir, "events")
    seg = e.groupBy((F.col("user_id") % 25).alias("segment")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("views"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("buys"),
    )
    prior = seg.agg(
        F.sum("buys").alias("b"), F.sum("views").alias("v")
    )
    joined = seg.crossJoin(F.broadcast(prior))  # 1-row global prior
    # nullif: a zero-view corpus slice must smooth to NULL (the oracle's
    # p.b / 0.0 is NULL in DuckDB), not crash under ANSI division
    g_rate = F.col("b") / F.nullif(F.col("v").cast("double"), F.lit(0.0))
    return joined.select(
        "segment",
        "views",
        "buys",
        F.round(
            F.col("buys").cast("double") / F.nullif(F.col("views"), F.lit(0)), 4
        ).alias("raw_rate"),
        F.round(
            (F.col("buys") + 10.0 * g_rate) / (F.col("views") + 10.0), 4
        ).alias("smoothed_rate"),
    )


@query(
    "agg_seasonality_index",
    oracle="""
    WITH per_dow AS (
      SELECT isodow(ts) - 1 AS dow, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    tot AS (SELECT sum(cnt) AS n, count(*) AS days FROM per_dow)
    SELECT p.dow, p.cnt,
           round(CAST(p.cnt AS DOUBLE) / (t.n / CAST(t.days AS DOUBLE)), 4)
             AS seasonal_index
    FROM per_dow p, tot t
    """,
)
def agg_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality index: each weekday's event count divided by
    the mean weekday count — index > 1 means a busier-than-average day.
    The normalization behind staffing curves, capacity planning, and
    seasonal adjustment of any daily metric (divide a day's value by its
    index to de-season it). Weekday normalized 0=Monday (the
    engine-neutral convention).

    Plan: the fact table collapses to ≤7 rows in one partial-agg
    shuffle; the global mean is a 1-row broadcast back onto those 7.
    100 TB: identical two-step shape — the index relation stays
    calendar-bounded no matter the volume."""
    e = load(spark, sf_dir, "events")
    per = e.groupBy(F.weekday("ts").alias("dow")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = per.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("days")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "dow",
        "cnt",
        F.round(
            F.col("cnt").cast("double")
            / (F.col("n") / F.col("days").cast("double")),
            4,
        ).alias("seasonal_index"),
    )


@query(
    "agg_new_vs_returning",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    ),
    tagged AS (
      SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
             e.user_id,
             (date_trunc('day', e.ts) = date_trunc('day', f.first_ts))
               AS is_new_user
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT day,
           CAST(count(DISTINCT CASE WHEN is_new_user THEN user_id END)
                AS BIGINT) AS new_users,
           CAST(count(DISTINCT CASE WHEN NOT is_new_user THEN user_id END)
                AS BIGINT) AS returning_users
    FROM tagged GROUP BY day
    """,
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning decomposition: per day, distinct users whose
    FIRST-ever event falls on that day vs distinct users seen before —
    the growth-accounting split (is traffic growth acquisition or
    retention?). A user active on their first day counts as new that day
    and returning on every later active day.

    Plan: one shuffle derives first_seen (user-grain, partial-agg min),
    joined back on user_id (user-grain broadcast at small scale, hash
    join at large), then one conditional distinct-count per day. 100 TB:
    first_seen is the incrementally-maintainable relation (min is
    monotone under appends — merge new days in, never recompute
    history); the daily aggregate reads it, not the full history."""
    e = load(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    tagged = e.join(first, "user_id").select(
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
        (
            F.date_trunc("day", "ts") == F.date_trunc("day", "first_ts")
        ).alias("is_new_user"),
    )
    return tagged.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("is_new_user"), F.col("user_id"))
        ).alias("new_users"),
        F.countDistinct(
            F.when(~F.col("is_new_user"), F.col("user_id"))
        ).alias("returning_users"),
    )


@query(
    "agg_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    cnt AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 4) AS p
    FROM cnt
    """,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences:
    for every (from_type → to_type) pair, the transition count and its
    row-normalized probability — the behavior-flow matrix product
    analytics reads ('after a click, 21% purchase'). Transitions pair
    each event with its successor via lead over the (ts, event_id) total
    order within user.

    Plan: one user-keyed shuffle for the lead window, then the pair
    count collapses to ≤|types|² rows with map-side partials; the
    probability window runs over that tiny matrix. 100 TB: same shape —
    the matrix is type-cardinality-bounded; higher-order chains just
    widen the key (lead(2), lead(3)) without changing the plan."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("from_type")
    return cnt.withColumn(
        "p", F.round(F.col("n").cast("double") / F.sum("n").over(wp), 4)
    )


@query(
    "agg_top_paths",
    oracle="""
    WITH firstk AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM firstk WHERE rn <= 5
      GROUP BY user_id
    ),
    counted AS (
      SELECT path, count(*) AS n_users FROM paths GROUP BY path
    )
    SELECT path, n_users, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY n_users DESC, path) AS rnk
          FROM counted)
    WHERE rnk <= 10
    """,
)
def agg_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey-path mining: each user's first five events (total
    (ts, event_id) order) fold into a '>'-joined path string, and the
    ten most common paths are ranked — the 'how do users actually start'
    report behind onboarding analysis. Prefix length 5 keeps the path
    domain bounded (|types|^5 worst case, far fewer in practice).

    Plan: one user-keyed window prunes to the first 5 rows per user
    (WindowGroupLimit applies), the fold is an ordered in-group
    aggregation, and the path count + top-10 run over the path-domain
    relation. 100 TB: bounded-prefix paths are the standard trick that
    keeps journey mining from becoming arbitrary-length sequence
    explosion; longer horizons go to win_pattern_match's regex-style
    matcher instead."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    paths = (
        firstk.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    wr = Window.orderBy(F.col("n_users").desc(), "path")
    return (
        counted.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= 10)
    )


@query(
    "agg_benford_digit_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                            1, 1) AS INT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT o.d AS digit, o.n,
           round(CAST(o.n AS DOUBLE) / t.total, 4) AS observed_share,
           round(log10(1.0 + 1.0 / o.d), 4) AS benford_share,
           round(abs(CAST(o.n AS DOUBLE) / t.total - log10(1.0 + 1.0 / o.d)), 4)
             AS abs_deviation
    FROM obs o, tot t
    """,
)
def agg_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit: the leading digit of every order total
    counted against Benford's law (P(d) = log10(1+1/d) — the
    distribution naturally-generated multi-scale amounts follow), with
    per-digit observed share, expected share, and absolute deviation.
    The forensic screen for fabricated, truncated, or threshold-gamed
    numeric columns; synthetic uniform-ish data shows large deviations —
    which is exactly what the audit is for (the test pins that the
    MACHINERY flags this corpus's non-Benford totals).

    Plan: leading digit is string arithmetic on the integer part (no
    float log in the hot path), one 9-row aggregate, expected shares
    are constants. 100 TB: one partial-agg pass; run per segment
    (GROUP BY supplier/region) to localize anomalies."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = o.groupBy(d.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    benford = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 4)
    share = F.col("n").cast("double") / F.col("total")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(share, 4).alias("observed_share"),
        benford.alias("benford_share"),
        F.round(F.abs(share - F.log10(1.0 + 1.0 / F.col("digit"))), 4).alias(
            "abs_deviation"
        ),
    )


@query(
    "agg_skyline_pareto_frontier",
    oracle="""
    WITH pts AS (
      SELECT p_partkey, p_retailprice AS price, p_size AS size
      FROM part
    ),
    ranked AS (
      SELECT p_partkey, price, size,
             max(size) OVER (ORDER BY price, size DESC, p_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS best_cheaper_size
      FROM pts
    )
    SELECT p_partkey, round(price, 2) AS price, size
    FROM ranked
    WHERE best_cheaper_size IS NULL OR size > best_cheaper_size
    """,
)
def agg_skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: parts not DOMINATED under (cheaper price, larger
    size) — a part is on the frontier iff no other part is at most its
    price AND at least its size with one strict. The 2-D reduction: sort
    by (price asc, size desc, key), track the running max size over all
    STRICTLY PRECEDING rows; a row survives iff its size exceeds that
    max. Sorting size DESC within equal price makes the prefix-max
    handle price ties exactly (equal-price, larger-size rows precede and
    dominate; equal (price, size) rows keep the first only... no — equal
    pairs both survive, since neither strictly dominates: the strict `>`
    against the preceding max admits only the FIRST of an equal pair, a
    deliberate keep-one policy tie-broken by p_partkey).

    Plan: one global sort + O(1)-state running max — the O(n log n)
    skyline, never the O(n²) dominance self-join. 100 TB: partition by
    price range, compute local frontiers, then one tiny merge pass over
    the per-partition frontiers (frontier size ≪ n) — the classic
    divide-and-conquer skyline."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )
    w = Window.orderBy("price", F.col("size").desc(), "p_partkey").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = p.withColumn("best_cheaper_size", F.max("size").over(w))
    return ranked.filter(
        F.col("best_cheaper_size").isNull()
        | (F.col("size") > F.col("best_cheaper_size"))
    ).select("p_partkey", F.round("price", 2).alias("price"), "size")
