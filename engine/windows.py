"""Window-function operators (``win_`` keys): ranking, offsets,
running and moving frames, pattern matching, gaps and islands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load


@query(
    "win_row_number_topk",
    oracle="""
    SELECT c_mktsegment, c_name, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_name, c_acctbal, c_custkey,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer
    ) WHERE rn <= 5
    """,
)
def win_row_number_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 per segment (bench headline). 100 TB: rank-then-filter pushes a
    WindowGroupLimit in Spark ≥3.5 — per-partition top-k before the shuffle,
    so the exchange carries ≤ k·segments rows."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("c_mktsegment", "c_name", "c_acctbal", "rn")
    )


@query(
    "win_rank_dense",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
           rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rnk,
           dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS drnk
    FROM lineitem
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank with real ties (l_quantity has 50 distinct values) —
    peers get identical ranks in both engines, so no tie-break is needed.

    r11 rewrite: the textbook per-row window (partitionBy(l_returnflag))
    serializes the corpus into THREE single-threaded sorts — the same
    low-cardinality-partition bottleneck agg_weighted_percentile had
    (its 100× wall exponent was 0.98). Because the rank of a row depends
    only on its (flag, quantity) pair, ranks are computed on the 3×50
    per-value COUNT table instead: rank = 1 + exclusive cumulative count
    of higher quantities, dense_rank = row_number over the distinct
    values — then broadcast-joined back. Identical output (peers share a
    (flag, qty) cell by definition), and the fact table is never
    shuffled or sorted: one map-side-combined count agg + a broadcast
    map join, scale-safe at any corpus size."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    ranks = counts.select(
        "l_returnflag",
        "l_quantity",
        (
            F.coalesce(
                F.sum("cnt").over(wv.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            + 1
        )
        .cast("int")
        .alias("rnk"),
        F.row_number().over(wv).cast("int").alias("drnk"),
    )
    return (
        li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .join(F.broadcast(ranks), ["l_returnflag", "l_quantity"])
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_quantity",
            "rnk",
            "drnk",
        )
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           value - lag(value) OVER w AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return e.select(
        "event_id",
        "user_id",
        "value",
        prev.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - prev).alias("delta"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer in a deterministic frame order."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "win_moving_avg",
    oracle="""
    SELECT event_id, user_id, value,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.avg("value").over(w), 6).alias("mavg3"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW), 2) AS sum_30d
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range frame: 30-day trailing sum per customer. Spark range
    frames need a numeric sort key → order by epoch seconds with literal
    second offsets; RANGE includes all peers on both engines, so rows sharing
    an o_orderdate agree."""
    o = load(spark, sf_dir, "orders")
    epoch = F.col("o_orderdate").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_30d"),
    )


@query(
    "win_ntile_first_last",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           ntile(4) OVER w AS quartile,
           first_value(c_name) OVER w AS top_name,
           last_value(c_name) OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING) AS bottom_name
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def win_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + first/last value; last_value gets an explicit full frame (the
    default frame ends at CURRENT ROW, which would make it the current row)."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.first("c_name").over(w).alias("top_name"),
        F.last("c_name").over(w_full).alias("bottom_name"),
    )


@query(
    "win_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(cume_dist() OVER w, 6) AS cd,
           round(percent_rank() OVER w, 6) AS pr,
           nth_value(c_name, 3) OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND UNBOUNDED FOLLOWING) AS third_name
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: cume_dist, percent_rank, nth_value
    (explicit full frame — the default frame would truncate nth_value at the
    current row). One shuffle on the partition key, sort within."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.nth_value("c_name", 3).over(w_full).alias("third_name"),
    )


@query(
    "win_running_distinct",
    oracle="""
    SELECT event_id, user_id, ts, CAST(run_distinct AS BIGINT) AS run_distinct
    FROM (
      SELECT event_id, user_id, ts,
             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_distinct
      FROM (
        SELECT event_id, user_id, ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < 40))
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — not directly supported by any
    SQL engine's window frames, so it's composed: flag each value's first
    occurrence per (user, value) with row_number, then running-sum the flags
    per user. Two windows, both partitioned on user_id → ONE shuffle (the
    second window reuses the first's hash partitioning; only the sort key
    changes). The standard idiom for 'distinct items seen so far' funnels."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("is_first").over(w_run).cast("long").alias("run_distinct"),
    )


@query(
    "win_nav_ignore_nulls",
    oracle="""
    SELECT event_id, user_id,
           first_value(v IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS first_nonnull,
           last_value(v IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_nonnull
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
          FROM events WHERE user_id < 40)
    """,
)
def win_nav_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS navigation — last_value(... ignorenulls) over a running
    frame is the gap-fill / last-observation-carried-forward idiom for
    sparse time series (sensor readings, slowly-updating attributes). The
    nullable column is derived (event_id % 3) so the null pattern is
    deterministic in both engines. One shuffle on user_id."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    v = F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = e.select("event_id", "user_id", "ts", v.alias("v"))
    return d.select(
        "event_id",
        "user_id",
        F.first("v", ignorenulls=True).over(w).alias("first_nonnull"),
        F.last("v", ignorenulls=True).over(w).alias("last_nonnull"),
    )


@query(
    "win_pattern_match",
    oracle="""
    SELECT user_id, length(seq) AS n_events,
           regexp_matches(seq, 'v.*c.*p') AS funnel_matched
    FROM (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    ) ORDER BY user_id
    """,
)
def win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection (Spark has no native
    operator): per user, fold the time-ordered event stream into a
    one-letter-per-event string (view/click/purchase/signup/error have
    distinct initials) and regex-match the funnel pattern v.*c.*p — did a
    view EVER lead through a click to a purchase, in order. Ordering is
    pinned by (ts, event_id) inside array_sort on structs, the ordered-agg
    technique from agg_string_agg_ordered.

    100 TB: one shuffle on user_id; per-user state is the event-initial
    string (bytes per event, not rows). For unbounded users×events, cap the
    sequence with slice() before the regex — the funnel verdict is
    monotone under truncation from the match side. Compare
    etl_funnel_stages (min-ts join cascade): same question, aggregate
    answer; this shape answers ARBITRARY regex patterns (retries,
    error-recovery loops, A-before-B-without-C) without new joins."""
    e = load(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts"),
                        F.col("event_id"),
                        F.substring("event_type", 1, 1).alias("c"),
                    )
                )
            ),
            lambda s: s["c"],
        ),
        "",
    )
    return (
        e.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").alias("n_events"),
            F.col("seq").rlike("v.*c.*p").alias("funnel_matched"),
        )
        .orderBy("user_id")
    )


@query(
    "win_gaps_islands",
    oracle="""
    WITH hrs AS (
      SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS hr
      FROM events
    ),
    isl AS (
      SELECT user_id, hr,
             hr - CAST(row_number() OVER (PARTITION BY user_id ORDER BY hr) AS BIGINT)
                  * INTERVAL '1 hour' AS grp
      FROM hrs
    ),
    streaks AS (
      SELECT user_id, count(*) AS len FROM isl GROUP BY user_id, grp
    )
    SELECT user_id, count(*) AS n_streaks, max(len) AS max_streak_hours,
           CAST(sum(len) AS BIGINT) AS active_hours
    FROM streaks GROUP BY user_id ORDER BY user_id
    """,
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active HOURS per user,
    via the classic row_number-offset trick — consecutive hours share
    (hour − rn·1h), so islands fall out of one groupBy on that derived key.
    No native Spark operator expresses 'consecutive runs'; this rewrite
    stays in two hash aggregations + one window.

    100 TB: everything partitions on user_id (one shuffle, reused by the
    window and both aggregations); per-user state is the distinct-hour
    list, bounded by the time horizon, not the event count. Compare
    stream_session_30m (gap-based sessions on raw ts) — islands quantize
    to the bucket grid first, which is what makes the offset arithmetic
    exact."""
    e = load(spark, sf_dir, "events")
    hrs = e.select(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("hr")
    isl = hrs.select(
        "user_id",
        "hr",
        (
            F.col("hr").cast("long")
            - F.row_number().over(w).cast("long") * 3600
        ).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("max_streak_hours"),
            F.sum("len").alias("active_hours"),
        )
        .orderBy("user_id")
    )


_ALPHA = 0.5  # (1-alpha) = 0.5: powers/products/sums stay dyadic-EXACT doubles


_TAPS = 12


@query(
    "win_ewma_smoothing",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr,
             CAST(count(*) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    taps AS (
      SELECT a.event_type, a.hr,
             sum(b.v * power(1 - {_ALPHA}, CAST(j AS INT))) AS num,
             sum(power(1 - {_ALPHA}, CAST(j AS INT))) AS den
      FROM hourly a, UNNEST(range(0, {_TAPS})) AS t(j)
      JOIN hourly b
        ON b.event_type = a.event_type
       AND b.hr = a.hr - CAST(j AS INT) * INTERVAL '1 hour'
      GROUP BY 1, 2
    )
    SELECT event_type, hr, round(num / den, 4) AS ewma
    FROM taps ORDER BY event_type, hr
    """,
)
def win_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (α=0.5, 12 taps) over each event type's hourly event-count
    series. Counts (exact integers) and α=0.5 (dyadic weights) make every
    intermediate double bit-identical across engines — float-summed
    averages differ by ULPs between engines and flip round() ties (the
    r04 lesson; SURVEY §5.3). The textbook recursive form S_t = αv_t + (1−α)S_{t−1} is not
    window-expressible and its closed-form rewrite overflows doubles, so
    the filter runs as an explicit 12-tap offset join: each output hour
    joins its 12 predecessors with (1−α)^j weights and normalizes by the
    weight sum actually present (adjusted EWMA — series heads and gap
    edges weight correctly for free). Missing buckets contribute nothing
    rather than propagating nulls.

    100 TB: the 12× fan-out happens on the POST-aggregation hourly table
    (bounded by types × horizon hours, not by raw events), and the tap
    join hash-partitions on event_type — so the expensive table is
    touched once and the filter cost is O(series length × taps)."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    taps = spark.range(_TAPS).select(F.col("id").cast("int").alias("j"))
    a = hourly.select("event_type", "hr").crossJoin(F.broadcast(taps))
    b = hourly.select(
        F.col("event_type").alias("b_type"),
        F.col("hr").alias("b_hr"),
        F.col("v").alias("b_v"),
    )
    joined = a.join(
        b,
        (F.col("b_type") == F.col("event_type"))
        & (
            F.col("b_hr")
            == F.col("hr") - F.col("j") * F.expr("INTERVAL 1 HOUR")
        ),
    )
    w = F.pow(F.lit(1 - _ALPHA), F.col("j"))
    return (
        joined.groupBy("event_type", "hr")
        .agg(
            F.round(F.sum(F.col("b_v") * w) / F.sum(w), 4).alias("ewma"),
        )
        .orderBy("event_type", "hr")
    )


@query(
    "win_anomaly_zscore",
    oracle="""
    WITH h AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr,
                      count(*) AS c
               FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, CAST(sum(c) AS DOUBLE) AS s1,
                 CAST(sum(c * c) AS DOUBLE) AS s2,
                 CAST(count(*) AS DOUBLE) AS n
          FROM h GROUP BY 1)
    SELECT h.event_type, h.hr AS hour_start, h.c AS cnt,
           round((h.c - s.s1 / s.n)
                 / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)), 4) AS z
    FROM h JOIN s ON h.event_type = s.event_type
    WHERE abs((h.c - s.s1 / s.n)
              / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))) > 2
    """,
)
def win_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-count anomalies per event type: hours whose count is more
    than 2 population standard deviations from that type's mean. The
    moments are computed from EXACT integer sums (Σc, Σc², n) and only
    then combined in identical double expressions on both engines —
    never via the engines' own stddev aggregates, whose internal
    update algorithms (Welford vs textbook) differ below the ulp.
    sqrt is IEEE-correctly-rounded, so z is bit-comparable; rounded to
    4 dp at the boundary for the |z| > 2 cut. 138 anomalous hours at
    sf0.01.

    100 TB: two cascaded aggs (hour×type, then type) + a broadcast join
    of the per-type moments back onto the hourly relation — no window
    sort anywhere; the baseline table is O(|types|)."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count("*").alias("cnt"))
    s = h.groupBy("event_type").agg(
        F.sum("cnt").cast("double").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("s2"),
        F.count("*").cast("double").alias("n"),
    )
    mean = F.col("s1") / F.col("n")
    # nullif: a single-hour type has zero variance — its z is NULL on
    # both engines (the oracle's x / 0.0 is NULL in DuckDB) and the
    # |z| > 2 cut drops it, instead of an ANSI divide-by-zero error
    z = (F.col("cnt") - mean) / F.nullif(
        F.sqrt(F.col("s2") / F.col("n") - mean * mean), F.lit(0.0)
    )
    return (
        h.join(F.broadcast(s), "event_type")
        .filter(F.abs(z) > 2)
        .select("event_type", "hour_start", "cnt", F.round(z, 4).alias("z"))
    )


@query(
    "win_pareto_cut",
    oracle="""
    WITH rev AS (
      SELECT c_nationkey AS nation, o_custkey AS cust,
             round(sum(o_totalprice), 2) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nation, round(sum(rev), 2) AS tot FROM rev GROUP BY 1),
    shares AS (
      SELECT r.nation, r.cust, r.rev, round(r.rev / t.tot, 6) AS share
      FROM rev r JOIN tot t ON r.nation = t.nation
    ),
    cum AS (
      SELECT nation, cust, rev, share,
             round(sum(share) OVER (PARTITION BY nation
                                    ORDER BY rev DESC, cust
                                    ROWS UNBOUNDED PRECEDING) - share, 6)
               AS cum_before
      FROM shares
    )
    SELECT nation, cust, rev, share, cum_before
    FROM cum WHERE cum_before < 0.8
    """,
)
def win_pareto_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC cut: per nation, keep the top customers whose revenue
    is needed to reach 80% of the nation's total — customers are admitted
    while the cumulative share BEFORE them is under the threshold, so the
    crossing customer is included and the cut set is minimal.

    Plan: one (nation, cust) aggregate, a broadcast-sized per-nation total
    joined back, then a single window shuffle on nation for the running
    share. Determinism: shares are rounded to 6 BEFORE the running sum,
    and the window's (rev DESC, cust) order fixes the sequential fold, so
    both engines add identical doubles in an identical order — the
    cumulative is bit-identical, not just close (§5.3)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"), F.col("o_custkey").alias("cust")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    tot = rev.groupBy("nation").agg(F.round(F.sum("rev"), 2).alias("tot"))
    shares = rev.join(F.broadcast(tot), "nation").select(
        "nation",
        "cust",
        "rev",
        F.round(F.col("rev") / F.col("tot"), 6).alias("share"),
    )
    w = (
        Window.partitionBy("nation")
        .orderBy(F.col("rev").desc(), F.col("cust"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = shares.withColumn(
        "cum_before", F.round(F.sum("share").over(w) - F.col("share"), 6)
    )
    return cum.filter(F.col("cum_before") < 0.8)


@query(
    "win_moving_median",
    oracle="""
    SELECT event_id, user_id, ts, value,
           median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             AS med5
    FROM events WHERE user_id < 30
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 5-row median of value per user — the robust smoother that
    shrugs off the spikes a moving average chases. Exercises an exact
    ordered-statistic aggregate as a WINDOW function over a sliding frame
    (not just as a group aggregate).

    Plan: Spark refuses ordered-statistic aggregates over explicit frames
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the median is composed
    from primitives it does allow there: collect_list over the 5-row frame
    → array_sort → middle element (odd) or mean of the two middles (even).
    Still one shuffle on user_id with constant ≤5-row per-frame state; the
    (ts, event_id) tie-break pins the frame contents, and the even-count
    interpolation is a single IEEE averaging both engines do identically,
    so no rounding is needed."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    med = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        )
        / 2
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        med.alias("med5"),
    )


@query(
    "win_period_over_period",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    )
    SELECT month, rev,
           round((rev - lag(rev, 1) OVER w) / lag(rev, 1) OVER w, 6)
             AS mom_growth,
           round((rev - lag(rev, 12) OVER w) / lag(rev, 12) OVER w, 6)
             AS yoy_growth
    FROM monthly
    WINDOW w AS (ORDER BY month)
    """,
)
def win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth: lag(1) and
    lag(12) over the monthly revenue series (NULL where no prior period
    exists — the first month / first year keep NULLs by contract).

    Plan: the fact-sized work is the month aggregate (one shuffle, partial
    agg, ~80 output rows); the growth window runs over that pre-aggregated
    calendar-bounded series, so its single-partition sort is O(months) at
    any SF — the unpartitioned window is deliberate and safe BECAUSE the
    aggregate collapsed first (the rule: never window an unaggregated
    fact table without a partition key)."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    w = Window.orderBy("month")
    lag1 = F.lag("rev", 1).over(w)
    lag12 = F.lag("rev", 12).over(w)
    return monthly.select(
        "month",
        "rev",
        F.round((F.col("rev") - lag1) / lag1, 6).alias("mom_growth"),
        F.round((F.col("rev") - lag12) / lag12, 6).alias("yoy_growth"),
    )


@query(
    "win_moving_distinct_count",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(len(list_distinct(
             list(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
           )) AS INT) AS distinct_types_10
    FROM events WHERE user_id < 30
    """,
)
def win_moving_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct count: how many distinct event types each user's
    last 10 events span — the rolling-engagement-diversity metric. Window
    aggregates refuse DISTINCT in both engines, so the count is composed
    from primitives they do allow: collect the frame, dedup, measure.

    Plan: one shuffle on user_id; the frame buffer is ≤10 values per row.
    The composition (collect_list → array_distinct → size) is row-local
    after the window, so the only cost over a plain frame sum is the
    10-element array per row — constant state, any scale."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .cast("int")
        .alias("distinct_types_10"),
    )


@query(
    "win_rank_shift_yoy",
    oracle="""
    WITH yearly AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS INT) AS yr,
             round(sum(o.o_totalprice), 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nation, yr, rev,
             CAST(row_number() OVER (PARTITION BY yr
                                     ORDER BY rev DESC, nation) AS INT)
               AS rnk
      FROM yearly
    )
    SELECT nation, yr, rev, rnk,
           CAST(lag(rnk) OVER (PARTITION BY nation ORDER BY yr) - rnk
                AS INT) AS rank_gain
    FROM ranked
    """,
)
def win_rank_shift_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-shift analytics: each nation's revenue rank within its year,
    and how many places it climbed (+) or fell (−) versus the previous
    year — the league-table movement view. Composes two windows on
    DIFFERENT axes: rank partitioned by year, lag partitioned by nation.

    Plan: the fact table aggregates once to (nation × year) — bounded by
    catalog × calendar — then both windows run over that ~175-row
    relation; two small sorts, no further fact-sized work. Dims
    broadcast into the aggregate as usual."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    yearly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w_rank = Window.partitionBy("yr").orderBy(F.col("rev").desc(), "nation")
    w_lag = Window.partitionBy("nation").orderBy("yr")
    ranked = yearly.withColumn(
        "rnk", F.row_number().over(w_rank).cast("int")
    )
    return ranked.withColumn(
        "rank_gain", (F.lag("rnk").over(w_lag) - F.col("rnk")).cast("int")
    )


@query(
    "win_drawdown_max",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             round(o_totalprice, 2) AS amt,
             sum(round(o_totalprice, 2))
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS cum,
             max(round(o_totalprice, 2))
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS peak_amt
      FROM orders
    ),
    dd AS (
      SELECT o_custkey, cum,
             max(cum) OVER (PARTITION BY o_custkey
                            ORDER BY cum
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS running_peak
      FROM seq
    )
    SELECT o_custkey,
           count(*) AS n_orders,
           round(max(running_peak - cum), 2) AS max_drawdown
    FROM dd
    GROUP BY o_custkey
    HAVING count(*) >= 3
    """,
)
def win_drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown per customer over the cumulative order-value series:
    running sum in (date, key) order, running peak of that sum, drawdown
    = peak − current, aggregated to the per-customer maximum (customers
    with ≥3 orders). Two stacked windows and one aggregate — the
    risk-analytics composition (peak-to-trough) on the same shuffle.

    NOTE a subtlety the oracle mirrors: because every o_totalprice is
    positive the cumulative series is monotone increasing, so running
    peak == current cum and true drawdown is 0 — the key's value is the
    WINDOW COMPOSITION being bit-identical across engines, which is why
    the running peak window in both engines orders by `cum` itself
    (monotone ⇒ same sequence as the date order, and a total order even
    on date ties). Amounts pre-rounded per §5.3 so the sequential fold
    is exact.

    Plan note: one hash shuffle on o_custkey serves both windows AND the
    final aggregate (same key, Catalyst reuses the partitioning); window
    state is O(1) per row. 100 TB: the canonical one-shuffle time-series
    scan — skew-sensitive only if one customer dominates, which salting
    or AQE skew handling absorbs."""
    o = load(spark, sf_dir, "orders")
    amt = F.round(F.col("o_totalprice"), 2)
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        amt.alias("amt"),
        F.sum(amt).over(w_seq).alias("cum"),
    )
    w_peak = (
        Window.partitionBy("o_custkey")
        .orderBy("cum")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = seq.withColumn("running_peak", F.max("cum").over(w_peak))
    return (
        dd.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.max(F.col("running_peak") - F.col("cum")), 2).alias(
                "max_drawdown"
            ),
        )
        .filter(F.col("n_orders") >= 3)
    )


@query(
    "win_rolling_corr",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, value,
             CAST(row_number() OVER w AS DOUBLE) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_user
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sums AS (
      SELECT user_id, event_id, n_user,
             count(*) OVER f AS n,
             sum(rn) OVER f AS sx,
             sum(value) OVER f AS sy,
             sum(rn * value) OVER f AS sxy,
             sum(rn * rn) OVER f AS sxx,
             sum(value * value) OVER f AS syy
      FROM seq
      WINDOW f AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 3) + 0.0 AS trend_corr
    FROM sums
    WHERE n = 20 AND n_user >= 40
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling trend correlation: over each user's event sequence, the
    Pearson correlation between value and its position in a trailing
    20-row frame — the windowed drift detector (corr near ±1 = steady
    trend, near 0 = noise). Emitted only for full frames on users with
    ≥40 events.

    The correlation is spelled out from six windowed co-moment sums
    ((nΣxy−ΣxΣy)/√(nΣxx−Σx²)√(nΣyy−Σy²)) instead of calling the
    engines' corr(): the explicit formula makes both engines execute the
    IDENTICAL arithmetic on the identical operand sequence, and using
    the small-integer row position as x keeps nΣxx−Σx² far from
    catastrophic cancellation (epoch-seconds x values would put the
    subtraction 15 digits up). §5.3 in action: determinism comes from
    formula control, then ONE final round(3).

    Plan note: one user_id shuffle serves the sequence window, all six
    frame sums (same window spec → one Window operator), and the filter;
    frame state is O(20) per row. 100 TB: the standard sliding-metric
    shape — linear, skew-tolerant via AQE."""
    e = load(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(w_seq).cast("double").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_user"),
    )
    f = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-19, Window.currentRow)
    )
    sums = seq.select(
        "user_id",
        "event_id",
        "n_user",
        F.count(F.lit(1)).over(f).alias("n"),
        F.sum("rn").over(f).alias("sx"),
        F.sum("value").over(f).alias("sy"),
        F.sum(F.col("rn") * F.col("value")).over(f).alias("sxy"),
        F.sum(F.col("rn") * F.col("rn")).over(f).alias("sxx"),
        F.sum(F.col("value") * F.col("value")).over(f).alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        sums.filter((F.col("n") == 20) & (F.col("n_user") >= 40))
        # + 0.0 collapses IEEE negative zero (round(-1e-5, 3) -> -0.0): the
        # driver canonicalizer compares FORMATTED floats, where '-0.0e+00'
        # != '0.0e+00'; both engines normalize identically.
        .select(
            "user_id",
            "event_id",
            (F.round(corr, 3) + F.lit(0.0)).alias("trend_corr"),
        )
    )


@query(
    "win_time_weighted_avg",
    oracle="""
    WITH seg AS (
      SELECT user_id, value,
             CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS BIGINT)
               AS dur_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(count(dur_us) AS BIGINT) AS n_segments,
           CAST(sum(dur_us) AS BIGINT) AS total_us,
           round(sum(value * dur_us) / sum(dur_us), 4) AS twap
    FROM seg
    WHERE dur_us IS NOT NULL
    GROUP BY user_id
    HAVING sum(dur_us) > 0
    """,
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation holds until the
    next one, so its weight is the exact microsecond duration to the
    next event — the estimator that de-biases irregular sampling (a
    value held for 6 hours counts 6×60× more than one held a minute; the
    naive mean treats them equally). Per user: segment count, total held
    time, and the duration-weighted mean.

    Determinism: weights are exact INTEGER epoch-microsecond differences
    (lead over a (ts, event_id) total order); the single division is
    rounded once. Plan: one user-keyed shuffle serves the lead window
    and the aggregate. 100 TB: the standard irregular-time-series
    reduction — linear, one shuffle, O(1) window state."""
    e = load(spark, sf_dir, "events").withColumn(
        # unix_micros needs a zoned timestamp; session tz is pinned UTC so
        # the ntz -> timestamp cast is value-preserving
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "user_id",
        "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("dur_us").cast("long").alias("n_segments"),
            F.sum("dur_us").cast("long").alias("total_us"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
            ).alias("twap"),
        )
        .filter(F.col("total_us") > 0)
    )


@query(
    "win_concurrency_sweep",
    oracle="""
    WITH ev AS (
      SELECT ts, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT ts + INTERVAL 30 MINUTE, -1, event_id FROM events
    ),
    run AS (
      SELECT date_trunc('day', ts) AS day,
             sum(delta) OVER (ORDER BY ts, delta, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS concurrent
      FROM ev
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(max(concurrent) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY day
    """,
)
def win_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: each event opens a 30-minute session;
    starts become +1 events, ends −1, and the running sum over the
    merged timeline IS the number of concurrent sessions at every
    instant — reported as the per-day peak. The classic 'max concurrent
    users' question WITHOUT an interval self-join (which is O(n²) in the
    overlap density; the sweep is O(n log n) in the one sort).

    Tie policy is explicit: at the same instant, ends (−1) sort before
    starts (+1) via the delta sort key, so a back-to-back session chain
    never double-counts. Plan: one union, one global ordered running
    sum — at 100 TB partition the sweep by day (sessions can't span the
    boundary here) and it parallelizes per day."""
    e = load(spark, sf_dir, "events")
    starts = e.select(F.col("ts"), F.lit(1).alias("delta"), "event_id")
    ends = e.select(
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("ts"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    ev = starts.union(ends)
    w = Window.orderBy("ts", "delta", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.sum("delta").over(w).alias("concurrent"),
    )
    return run.groupBy("day").agg(
        F.max("concurrent").cast("long").alias("peak_concurrent")
    )
