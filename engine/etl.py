"""ETL operators (``etl_``, ``data_`` keys): validation and quarantine,
upserts, CDC and SCD2 merges, incremental aggregates, sessionization,
cohort and funnel analytics, partition overwrites and dataset splits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "data_split_stratified",
    oracle="""
    SELECT lang, split, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
    FROM (
      SELECT lang, n_chars,
             CASE WHEN (doc_id * 1000003 + 17) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 1000003 + 17) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) s
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def data_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split with per-language audit
    counts. The split key is the same engine-agnostic multiplicative hash as
    sample_hash_repro (engine/relational.py) — NOT df.randomSplit, which is
    seed- and partition-layout-dependent and therefore unreproducible across
    runs, engines, or cluster sizes. Any downstream system can re-derive the
    exact membership from doc_id alone.

    100 TB: the split column is a pure projection (zero shuffle); the audit
    agg groups on ~15 (lang, split) cells, fully map-side collapsed. The
    same expression tags shard writes via partitionBy('split')."""
    d = load(spark, sf_dir, "documents")
    b = (F.col("doc_id") * 1000003 + 17) % 100
    return (
        d.select(
            "lang",
            "n_chars",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang", "split")
    )


@query(
    "etl_dq_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS vmin,
           CAST(max(o_orderkey) AS VARCHAR) AS vmax FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority), min(o_orderpriority),
           max(o_orderpriority)
    FROM orders
    """,
)
def etl_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table: per-column null count, exact
    distinct count, and stringified min/max — the pre-ingest audit every
    pipeline runs before trusting a new drop. Numeric extremes go through
    DECIMAL so the string form is engine-stable ('123.45', never '1.2345E2').

    One aggregate branch per column, unioned (mirrors the oracle's UNION
    ALL). r03 plan change: the previous single-agg-with-stack() form packed
    six exact count-distincts into one aggregate, which Catalyst plans as an
    Expand — a ×6 row multiply of the FULL table before the shuffle
    (measured 3.7 s at sf0.1). The union form gives each column its own
    two-stage distinct aggregate over just that column's values, branches
    run in parallel within one job, and parquet column pruning means the six
    single-column scans read the same total bytes as one six-column scan —
    this IS the 100 TB shape for exact NDV. (Cheaper still at scale:
    approx_count_distinct in one Expand-free pass; kept exact here because
    the oracle must match bit-for-bit.)"""
    o = load(spark, sf_dir, "orders")
    dec = lambda c: F.round(c, 2).cast("decimal(18,2)").cast("string")  # noqa: E731
    raw = lambda c: c  # noqa: E731
    s = lambda c: c.cast("string")  # noqa: E731
    specs = [
        ("o_orderkey", s),
        ("o_custkey", s),
        ("o_orderstatus", raw),
        ("o_totalprice", dec),
        ("o_orderdate", s),
        ("o_orderpriority", raw),
    ]
    from functools import reduce

    branches = [
        o.agg(
            (F.count("*") - F.count(name)).alias("n_null"),
            F.countDistinct(name).alias("n_distinct"),
            fmt(F.min(name)).alias("vmin"),
            fmt(F.max(name)).alias("vmax"),
        ).select(F.lit(name).alias("col"), "n_null", "n_distinct", "vmin", "vmax")
        for name, fmt in specs
    ]
    return reduce(DataFrame.unionAll, branches)


@query(
    "etl_incremental_watermark",
    oracle="""
    SELECT event_type, count(*) AS n_new, min(ts) AS first_ts, max(ts) AS last_ts
    FROM events
    WHERE ts > (SELECT max(ts) FROM events WHERE event_id % 10 < 8)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def etl_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch incremental load: the high-watermark pattern. The "already
    loaded" snapshot (here: the deterministic 80% slice event_id % 10 < 8 —
    a stand-in for the previous run's bookmark table) yields max(ts); only
    rows strictly past it are ingested, summarized per type for the load
    audit.

    100 TB: the watermark is a one-row agg broadcast into the filter —
    `ts > wm` then prunes parquet row groups via min/max statistics, so an
    incremental run reads only the tail files of a time-partitioned layout,
    not the table. This is the batch twin of streaming's watermark keys
    (engine/streaming.py)."""
    ev = load(spark, sf_dir, "events")
    wm = ev.filter(F.col("event_id") % 10 < 8).agg(F.max("ts").alias("wm"))
    return (
        ev.join(F.broadcast(wm))
        .filter(F.col("ts") > F.col("wm"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_new"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


@query(
    "etl_funnel_stages",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS click_ts
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.view_ts
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
               GROUP BY e.user_id)
    SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts
    FROM v JOIN c ON v.user_id = c.user_id
           JOIN p ON v.user_id = p.user_id
    """,
)
def etl_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (MATCH_RECOGNIZE-lite): users whose event stream
    contains view -> click -> purchase in strict temporal order, reported
    with each stage's first-completion timestamp (first view, first click
    AFTER it, first purchase after THAT — the standard first-touch
    attribution chain).

    100 TB: three stage aggregations, each collapsing to <= |users| rows
    map-side; the stage joins are then user-keyed on already-collapsed
    relations. No window sort over the raw stream is ever needed — the
    min-after-anchor formulation turns sequence matching into hash aggs,
    which is what lets funnels run on full clickstreams instead of samples."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return v.join(c, "user_id").join(p, "user_id").select(
        "user_id", "view_ts", "click_ts", "purchase_ts"
    )


@query(
    "etl_snapshot_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
                 WHERE o_orderkey % 97 <> 0 AND o_orderkey % 5 <> 0),
         new AS (SELECT o_orderkey, o_orderstatus,
                        CASE WHEN o_orderkey % 11 = 0
                             THEN round(o_totalprice * 1.1, 2)
                             ELSE o_totalprice END AS o_totalprice
                 FROM orders WHERE o_orderkey % 97 <> 1)
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_orderstatus <> new.o_orderstatus
       OR old.o_totalprice <> new.o_totalprice
    """,
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: added / removed / changed keys between two
    derived snapshots of orders (deterministic modulus carve-outs stand in
    for yesterday's and today's drops; the %11 rows get a price bump so the
    'changed' branch is non-vacuous — all three change classes emit rows).

    100 TB: one full-outer join on the snapshot key (both sides shuffle
    once, AQE handles skew), change classification is a post-join
    projection. Unchanged rows — the overwhelming majority — are dropped
    BEFORE any further processing, so downstream CDC work is O(changes).
    For day-over-day production diffs, partition both snapshots by
    ingest_date and diff only the overlapping key ranges."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(
        (F.col("o_orderkey") % 97 != 0) & (F.col("o_orderkey") % 5 != 0)
    )
    new = o.filter(F.col("o_orderkey") % 97 != 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    j = old.alias("old").join(
        new.alias("new"),
        F.col("old.o_orderkey") == F.col("new.o_orderkey"),
        "full_outer",
    )
    change = (
        F.when(F.col("old.o_orderkey").isNull(), "added")
        .when(F.col("new.o_orderkey").isNull(), "removed")
        .otherwise("changed")
    )
    return j.filter(
        F.col("old.o_orderkey").isNull()
        | F.col("new.o_orderkey").isNull()
        | (F.col("old.o_orderstatus") != F.col("new.o_orderstatus"))
        | (F.col("old.o_totalprice") != F.col("new.o_totalprice"))
    ).select(
        F.coalesce(F.col("old.o_orderkey"), F.col("new.o_orderkey")).alias(
            "o_orderkey"
        ),
        change.alias("change"),
    )


@query(
    "etl_validate_quarantine",
    oracle="""
    SELECT c_custkey,
           coalesce(array_to_string(list_sort(list_filter([
             CASE WHEN c_acctbal < -1000 OR c_acctbal > 11000
                  THEN 'acctbal_range' END,
             CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE',
                                            'HOUSEHOLD','MACHINERY')
                  THEN 'bad_segment' END,
             CASE WHEN length(c_name) < 5 THEN 'short_name' END
           ], x -> x IS NOT NULL)), ','), '') AS violations,
           (c_acctbal >= -1000 AND c_acctbal <= 11000
            AND c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE',
                                 'HOUSEHOLD','MACHINERY')
            AND length(c_name) >= 5) AS is_valid
    FROM customer
    """,
)
def etl_validate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field validation with quarantine routing: every row keeps a sorted,
    comma-joined list of rule violations plus an is_valid flag — one
    zero-shuffle pass; `filter(is_valid)` is the load stream,
    `filter(!is_valid)` the quarantine. Rules are declarative Column
    predicates, so adding one is a one-line change and Catalyst folds them
    into the same projection. The violation list is emitted as a string, not
    an array: the driver's canonicalizer sorts result columns with pandas,
    which cannot order array cells (scalar-columns-only output convention)."""
    c = load(spark, sf_dir, "customer")
    rules = [
        ("acctbal_range", (F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 11000)),
        (
            "bad_segment",
            ~F.col("c_mktsegment").isin(
                "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"
            ),
        ),
        ("short_name", F.length("c_name") < 5),
    ]
    viol = F.array_sort(
        F.filter(
            F.array(*[F.when(cond, F.lit(name)) for name, cond in rules]),
            lambda x: x.isNotNull(),
        )
    )
    return c.select(
        "c_custkey",
        F.array_join(viol, ",").alias("violations"),
        (F.size(viol) == 0).alias("is_valid"),
    )


@query(
    "etl_clean_coerce",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           TRY_CAST('not a number' AS DOUBLE) AS always_null,
           coalesce(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), -1)
             AS k_defaulted
    FROM events
    """,
)
def etl_clean_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant coercion: try_cast turns malformed values into NULL instead
    of failing the job under ANSI mode, with an explicit default — the
    clean-step contract of a pipeline that must never abort mid-load."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return e.select(
        "event_id",
        k.alias("k_int"),
        F.lit("not a number").try_cast("double").alias("always_null"),
        F.coalesce(k, F.lit(-1)).alias("k_defaulted"),
    )


@query(
    "etl_upsert_keyed",
    oracle="""
    WITH unioned AS (
      SELECT user_id, event_type, event_id, ts, value, 0 AS batch
      FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT user_id, event_type, event_id, ts, value + 1000, 1
      FROM events WHERE event_id % 3 = 0)
    SELECT user_id, event_type, event_id, ts, round(value, 2) AS value
    FROM unioned
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY batch DESC, ts DESC, event_id DESC) = 1
    """,
)
def etl_upsert_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert through a real parquet round-trip: an 'existing' table
    (even event_ids) is written out, then a 'new batch' (every third event,
    values shifted) is merged — newest batch wins per (user_id, event_type),
    ties broken by ts then event_id. This is the reference's DataStore
    upsert re-expressed: union + window-dedup + atomic rewrite.

    100 TB: same operator over Delta/Iceberg becomes MERGE INTO with file
    pruning on the key; the union+window plan here is the engine-agnostic
    fallback and costs exactly one shuffle."""
    e = load(spark, sf_dir, "events")
    path = scratch_dir("spark_graft_upsert_events_")
    existing = e.filter(F.col("event_id") % 2 == 0).withColumn("batch", F.lit(0))
    existing.write.mode("overwrite").parquet(path)
    new_batch = (
        e.filter(F.col("event_id") % 3 == 0)
        .withColumn("value", F.col("value") + 1000)
        .withColumn("batch", F.lit(1))
    )
    unioned = spark.read.parquet(path).unionByName(new_batch)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("batch").desc(), F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            "ts",
            F.round("value", 2).alias("value"),
        )
    )


@query(
    "etl_scd2_intervals",
    oracle="""
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current
    FROM events
    WHERE user_id < 40
    """,
)
def etl_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change-event log into
    validity intervals — valid_from = event ts, valid_to = next event's ts
    (NULL ⇒ current row). One window per user; the (ts, event_id) tie-break
    makes simultaneous events deterministic. At 100 TB this is a single
    shuffle on user_id and the standard way to build point-in-time joinable
    dimension snapshots from a CDC feed."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "etl_sessionize_path",
    oracle="""
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '->') AS path,
           count(*) AS n_events
    FROM events
    WHERE user_id < 40
    GROUP BY user_id
    """,
)
def etl_sessionize_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event journey ('scan->join->agg' path strings) — the
    clickstream/funnel primitive. Spark has no ORDER BY inside collect_list,
    so determinism comes from collecting (ts, event_id, type) structs and
    array_sort-ing them (struct order = field order = the sort key) before
    projecting the type — same result as DuckDB's ordered list aggregate.
    One shuffle on user_id; per-user arrays stay in memory, so at 100 TB
    bound the group size (sessionize first, or cap with slice)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return e.groupBy("user_id").agg(
        F.array_join(
            F.transform(sorted_structs, lambda x: x["event_type"]), "->"
        ).alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "etl_merge_cdc",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey < 1000),
    changes AS (
      SELECT k, CASE WHEN k % 3 = 0 THEN 'D' ELSE 'U' END AS op,
             round(price + 100, 2) AS new_price
      FROM base WHERE k % 3 < 2
      UNION ALL
      SELECT k + 1000000, 'I', 50.0 FROM base WHERE k % 3 = 2)
    SELECT coalesce(c.k, b.k) AS k,
           CASE WHEN c.op = 'U' OR c.op = 'I' THEN c.new_price
                ELSE b.price END AS price,
           coalesce(c.op, '=') AS last_op
    FROM base b FULL OUTER JOIN changes c ON b.k = c.k
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
)
def etl_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style CDC apply: a change batch of inserts/updates/deletes
    full-outer-joined onto the base snapshot — U replaces the value, I adds
    the row, D drops it, untouched rows pass through flagged '='. This is
    the engine-level semantics under every MERGE INTO / upsert-table
    implementation; etl_upsert_keyed is the newest-wins special case. One
    shuffle on the merge key at any scale; the change batch is typically
    small enough to broadcast."""
    base = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(F.col("o_orderkey").alias("k"), F.round("o_totalprice", 2).alias("price"))
    )
    upd = base.filter(F.col("k") % 3 < 2).select(
        "k",
        F.when(F.col("k") % 3 == 0, "D").otherwise("U").alias("op"),
        F.round(F.col("price") + 100, 2).alias("new_price"),
    )
    ins = base.filter(F.col("k") % 3 == 2).select(
        (F.col("k") + 1000000).alias("k"), F.lit("I").alias("op"),
        F.lit(50.0).alias("new_price"),
    )
    changes = upd.unionByName(ins)
    merged = base.alias("b").join(changes.alias("c"), "k", "full_outer")
    return (
        merged.filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            "k",
            F.when(F.col("c.op").isin("U", "I"), F.col("c.new_price"))
            .otherwise(F.col("b.price"))
            .alias("price"),
            F.coalesce(F.col("c.op"), F.lit("=")).alias("last_op"),
        )
    )


@query(
    "etl_compact_small_files",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the maintenance job every long-running
    ingest needs: a fragmented copy of orders (32 shards, the shape a
    per-trigger streaming sink leaves behind) is rewritten as 4 range-
    clustered files (repartitionByRange on the date key, so each output
    file covers a contiguous date span and later date-filtered scans prune
    whole files via min/max). The oracle checks CONTENT identity against
    the original table — compaction must be a pure layout change; the
    32→4 file-count drop is asserted in tests/test_scaleops.py.

    100 TB: compaction cost is one read + one range shuffle + one write of
    the touched partition only — never the table; target file size
    (128-1024 MB) trades open() overhead against scan parallelism, and
    range clustering doubles as the sort-order contract for
    sink_sorted_clustered-style pruning."""
    # Per-invocation dirs (mkdtemp), NOT fixed paths: a concurrent
    # invocation for the same sf_dir (parallel pytest, bench re-runs)
    # would otherwise overwrite part files mid-scan of the other's read.
    frag_dir = scratch_dir(prefix=f"sg_compact_frag_{sftag(sf_dir)}_")
    comp_dir = scratch_dir(prefix=f"sg_compact_out_{sftag(sf_dir)}_")
    etl_compact_small_files._last_dirs = (frag_dir, comp_dir)  # for tests
    o = load(spark, sf_dir, "orders")
    o.repartition(32).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    frag.repartitionByRange(4, "o_orderdate").write.mode("overwrite").parquet(comp_dir)
    compacted = spark.read.parquet(comp_dir)
    return (
        compacted.groupBy(F.date_trunc("month", "o_orderdate").alias("mo"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("mo")
    )


# gap-fill densification limit, in grid hours (30 days): gaps wider than
# this are discontinuities — no rows are synthesized across them. Must
# match the literal in etl_gap_fill_interpolate's oracle.

_MAX_FILL_GAP_HOURS = 720


@query(
    "etl_gap_fill_interpolate",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr,
             CAST(count(*) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    -- fill-limit semantics (r14 adversarial-timestamp axis): densify only
    -- gaps of <= 720 grid hours between CONSECUTIVE observations — a
    -- pandas-interpolate 'limit', not an unconditional min..max grid.
    -- The old bounds/grid CTE generated the full [min, max] span, so ONE
    -- year-9999 sentinel row expanded the grid to ~70M hours per type
    -- (OOM on the engine, ~GBs on this oracle). A gap wider than the
    -- limit is a discontinuity: no rows are synthesized across it.
    seg AS (
      SELECT event_type, hr,
             lag(hr) OVER (PARTITION BY event_type ORDER BY hr) AS prev_hr
      FROM hourly
    ),
    fills AS (
      SELECT event_type,
             unnest(generate_series(prev_hr + INTERVAL '1 hour',
                                    hr - INTERVAL '1 hour',
                                    INTERVAL '1 hour')) AS hr
      FROM seg
      WHERE prev_hr IS NOT NULL
        AND date_diff('hour', prev_hr, hr) > 1
        AND date_diff('hour', prev_hr, hr) <= 720
    ),
    joined AS (
      SELECT event_type, hr, v FROM hourly
      UNION ALL
      SELECT event_type, hr, NULL AS v FROM fills
    ),
    nav AS (
      SELECT event_type, hr, v,
             last_value(v IGNORE NULLS) OVER w_prev AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
               OVER w_prev AS ph,
             first_value(v IGNORE NULLS) OVER w_next AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
               OVER w_next AS nh
      FROM joined
      WINDOW w_prev AS (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_next AS (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hr,
           (v IS NULL) AS was_gap,
           round(CASE
             WHEN v IS NOT NULL THEN v
             WHEN ph IS NULL THEN nv
             WHEN nh IS NULL THEN pv
             ELSE pv + (nv - pv)
                  * (CAST(date_diff('hour', ph, hr) AS DOUBLE)
                     / CAST(date_diff('hour', ph, nh) AS DOUBLE))
           END, 4) AS v_filled
    FROM nav ORDER BY event_type, hr
    """,
)
def etl_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series densification + linear interpolation with a FILL LIMIT:
    synthesize hourly rows only inside gaps of <= _MAX_FILL_GAP_HOURS
    between consecutive observed hours (exact integer counts —
    float-summed averages differ by ULPs across engines and flip round()
    ties), then fill each synthesized row from its nearest non-null
    neighbors — IGNORE NULLS last_value looking back and first_value
    looking forward, with the interpolation weighted by time distance
    (edges clamp to the available neighbor). `was_gap` marks synthesized
    rows. This is the repair step before resampling/EWMA/model-ingest
    consumes an event-derived series at a fixed step.

    The limit IS the operator contract, not an optimization (r14
    adversarial-timestamp axis): the previous shape densified the full
    [min, max] span per type via one sequence() call, so a single
    year-9999 sentinel stamp built a ~70M-element array in one task and
    OOM'd the executor — the classic way one rogue row kills a
    densification job. A gap wider than the limit is a discontinuity:
    interpolating across it is statistically meaningless anyway (pandas
    interpolate(limit=...) draws the same line), so no rows are
    synthesized and the observed rows on both rims stay untouched.

    100 TB: per-pair sequence() arrays are bounded by the limit (720), the
    explode distributes over the observation shuffle partitioning, and
    output is bounded by observed + gaps·limit — no unconditional
    min..max grid anywhere. The nav windows and the lag segmentation all
    partition on event_type, reusing one shuffle. Gap-fill never touches
    raw events after the first aggregate."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    wlag = Window.partitionBy("event_type").orderBy("hr")
    gap_h = (
        (F.unix_micros("hr") - F.unix_micros("prev_hr"))
        / F.lit(3_600_000_000)
    ).cast("long")
    fills = (
        hourly.select(
            "event_type", "hr", F.lag("hr").over(wlag).alias("prev_hr")
        )
        .filter(
            F.col("prev_hr").isNotNull()
            & (gap_h > 1)
            & (gap_h <= _MAX_FILL_GAP_HOURS)
        )
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("prev_hr") + F.expr("INTERVAL 1 HOUR"),
                    F.col("hr") - F.expr("INTERVAL 1 HOUR"),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("hr"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    joined = hourly.unionByName(fills)
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    vh = F.when(F.col("v").isNotNull(), F.col("hr"))
    nav = joined.select(
        "event_type",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(vh, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(vh, ignorenulls=True).over(wn).alias("nh"),
    )
    # The lerp fraction is a ratio of exact integer HOUR counts (the grid
    # is hourly) — both engines divide the same two small integers, so the
    # double result is bit-identical. A micros/micros or seconds/seconds
    # formulation differs by ULPs between engines (each side's unit
    # conversion rounds differently), which flips round(,4) ties.
    def hours_between(a: str, b: str) -> F.Column:
        return (
            (
                F.unix_micros(F.col(b).cast("timestamp"))
                - F.unix_micros(F.col(a).cast("timestamp"))
            )
            / F.lit(3_600_000_000)
        ).cast("long")

    frac = hours_between("ph", "hr").cast("double") / hours_between(
        "ph", "nh"
    ).cast("double")
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("ph").isNull(), F.col("nv"))
        .when(F.col("nh").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return nav.select(
        "event_type",
        "hr",
        F.col("v").isNull().alias("was_gap"),
        F.round(filled, 4).alias("v_filled"),
    ).orderBy("event_type", "hr")


@query(
    "etl_validate_fk_staging",
    oracle="""
    WITH staging AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000
                  ELSE o_custkey END AS o_custkey
      FROM orders),
    fk1 AS (SELECT count(*) AS n_total,
                   CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations
            FROM staging s LEFT JOIN customer c ON s.o_custkey = c.c_custkey),
    fk2 AS (SELECT count(*) AS n_total,
                   CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT 'staging_orders->customer' AS fk, n_total, n_violations FROM fk1
    UNION ALL
    SELECT 'lineitem->orders' AS fk, n_total, n_violations FROM fk2
    """,
)
def etl_validate_fk_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity gate before a merge: an incoming staging batch
    (orders with a deterministic 1-in-97 corrupted customer key, standing
    in for a CDC feed with upstream damage) is audited against the
    customer dimension, alongside the steady-state lineitem→orders check
    (expected 0). The per-FK violation counts are what a pipeline asserts
    on before letting etl_merge_cdc touch the warehouse — one nonzero and
    one zero row, so both the detecting and the passing path are
    exercised (no vacuous all-zeros audit).

    100 TB: each check is one left join probing a dimension (broadcast
    when small, shuffled hash otherwise) aggregated to two numbers —
    audit cost is one pass per FK, and the checks are independent jobs
    that can share the staging scan."""
    o = load(spark, sf_dir, "orders")
    staging = o.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + 1000000
        ).otherwise(F.col("o_custkey")).alias("o_custkey"),
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    fk1 = staging.join(
        F.broadcast(cust), staging.o_custkey == cust.c_custkey, "left"
    ).agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
            "n_violations"
        ),
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    ok = o.select("o_orderkey")
    fk2 = li.join(ok, li.l_orderkey == ok.o_orderkey, "left").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
            "n_violations"
        ),
    )
    return fk1.select(
        F.lit("staging_orders->customer").alias("fk"), "n_total", "n_violations"
    ).unionAll(
        fk2.select(F.lit("lineitem->orders").alias("fk"), "n_total", "n_violations")
    )


@query(
    "etl_conversion_latency",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.ts > v.view_ts
          GROUP BY e.user_id),
    lat AS (SELECT epoch(p.purchase_ts - v.view_ts) AS s
            FROM v JOIN p ON v.user_id = p.user_id)
    SELECT count(*) AS n_converted,
           round(min(s), 1) AS min_s,
           round(quantile_cont(s, 0.5), 4) AS median_s,
           round(quantile_cont(s, 0.9), 4) AS p90_s,
           round(avg(s), 1) AS avg_s
    FROM lat
    """,
)
def etl_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from first 'view'
    to the first 'purchase' AFTER it (the funnel's latency companion —
    etl_funnel_stages reports WHO converts, this reports HOW FAST),
    summarized as count / min / exact median / p90 / mean. Exact
    interpolated percentiles (agg_percentile's discipline), aggregate
    rounding on both engines.

    100 TB: two min-aggregations keyed on user collapse the stream before
    any join; the summary is a single global agg over |converted users|
    rows. Exact percentiles sort that one column — switch to
    percentile_approx past memory, as agg_percentile documents."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    lat = v.join(p, "user_id").select(
        (
            (
                F.unix_micros(F.col("purchase_ts").cast("timestamp"))
                - F.unix_micros(F.col("view_ts").cast("timestamp"))
            )
            / 1e6
        ).alias("s")
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.round(F.min("s"), 1).alias("min_s"),
        F.round(F.percentile("s", 0.5), 4).alias("median_s"),
        F.round(F.percentile("s", 0.9), 4).alias("p90_s"),
        F.round(F.avg("s"), 1).alias("avg_s"),
    )


@query(
    "etl_partition_overwrite_dynamic",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice * 2.0 ELSE o_totalprice END), 2)
             AS total
    FROM orders GROUP BY 1
    """,
)
def etl_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: a priority-partitioned orders table is
    fully written, then ONE partition ('1-URGENT', with doubled prices) is
    rewritten with mode=overwrite + partitionOverwriteMode=dynamic — and
    the read-back proves the other partitions survived untouched. Under
    the default STATIC mode the second write would have deleted every
    other partition; dynamic mode replaces only partitions present in the
    incoming data, which is THE idempotent daily-reload idiom (re-run a
    day, never touch the rest).

    100 TB: partition replacement is a metadata swap per touched
    partition — cost scales with the reloaded slice, not the table. The
    write shuffles nothing beyond the incoming slice; readers prune
    untouched partitions as before."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = os.path.join(
        scratch_dir(prefix=f"sg-dynpart-{sftag(sf_dir)}-"), "orders_t"
    )
    o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
    upd = o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2.0
    )
    (
        upd.write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    # explicit schema: no inference pass, robust to a zero-row write
    back = spark.read.schema(o.schema).parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "etl_retention_cohort",
    oracle="""
    WITH cohort AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, c.cohort_week,
             CAST(date_diff('day', c.cohort_week,
                            date_trunc('week', e.ts)) // 7 AS INT)
               AS week_offset
      FROM events e JOIN cohort c ON e.user_id = c.user_id
    )
    SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week, week_offset,
           count(*) AS n_users
    FROM activity GROUP BY 1, 2
    """,
)
def etl_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by the week of their
    first event; n_users counts how many of each cohort were active k weeks
    later. The classic product-analytics triangle.

    Plan: one shuffle on user_id computes the cohort via a window min (no
    self-join — the per-user first-event week rides the same exchange the
    distinct needs), then a distinct + count on the bounded
    (cohort_week, week_offset) grid. 100 TB: the user_id shuffle is the
    only fact-sized exchange; the output grid is O(weeks²) regardless of
    row count, and the distinct collapses map-side per user partition."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    wk = F.date_trunc("week", F.col("ts"))
    cohort = F.date_trunc("week", F.min("ts").over(w))
    return (
        e.select(
            "user_id",
            cohort.cast("timestamp_ntz").alias("cohort_week"),
            (F.datediff(wk, cohort) / 7).cast("int").alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "etl_ohlc_resample",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           first(value ORDER BY ts, event_id, value) AS open,
           max(value) AS high,
           min(value) AS low,
           last(value ORDER BY ts, event_id, value) AS close,
           count(*) AS n,
           round(sum(value), 4) AS volume
    FROM events
    GROUP BY 1, 2
    """,
)
def etl_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to hourly OHLC bars per event_type —
    open/close are the first/last values in (ts, event_id, value) order.
    The event_id tie-break makes equal-timestamp buckets deterministic;
    the trailing value term keeps the order TOTAL even when an event_id
    collides at the identical timestamp with a different payload (r14
    dup-id axis: a replayed id at the same microsecond made open/close
    an arbitrary pick on both engines). High/low are plain min/max,
    volume is the rounded sum.

    Plan: single hash shuffle on (event_type, hour). min_by/max_by over a
    (ts, event_id) struct are associative — Spark computes them with
    map-side partial aggregation, so per-group state is one (ord, value)
    pair, never a sorted buffer. At 100 TB the output is bounded by
    types × hours, not event count."""
    e = load(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    ord_ = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return e.groupBy("event_type", bucket.alias("bucket")).agg(
        F.min_by("value", ord_).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ord_).alias("close"),
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("volume"),
    )


@query(
    "etl_interval_audit",
    oracle="""
    WITH base AS (
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events WHERE event_type = 'signup'
    ),
    corrupted AS (
      SELECT user_id, valid_from,
             CASE WHEN rn % 3 = 0 AND valid_to IS NOT NULL
                  THEN valid_to + INTERVAL 1 HOUR ELSE valid_to END
               AS valid_to,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from) AS next_from
      FROM base
    )
    SELECT user_id,
           count(*) AS n_versions,
           CAST(sum(CASE WHEN valid_to IS NOT NULL AND next_from IS NOT NULL
                          AND valid_to > next_from THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlaps,
           CAST(sum(CASE WHEN valid_to IS NOT NULL AND next_from IS NOT NULL
                          AND valid_to < next_from THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gaps,
           CAST(sum(CASE WHEN valid_to = next_from THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact
    FROM corrupted GROUP BY user_id
    """,
)
def etl_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-consistency audit for SCD2-style tables: per key, count
    overlapping intervals (valid_to beyond the next version's start), gaps
    (coverage holes), and exact handoffs. The corruption being audited is
    injected deterministically (every 3rd version's valid_to is stretched
    +1h in BOTH engines), so overlap counts are exactly predictable —
    what the audit would catch on a real warehouse table after a bad
    backfill.

    Plan: two windows on the same user_id partitioning (Spark reuses the
    single sort+shuffle for both — lead of ts, then lead of valid_from),
    one final per-user aggregate on the same key. At 100 TB this is the
    standard dimension-health check: one shuffle, counters per key."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).alias("rn"),
    )
    stretched = F.when(
        (F.col("rn") % 3 == 0) & F.col("valid_to").isNotNull(),
        F.col("valid_to") + F.expr("INTERVAL 1 HOUR"),
    ).otherwise(F.col("valid_to"))
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    corrupted = base.select(
        "user_id",
        "valid_from",
        stretched.alias("valid_to"),
    ).withColumn("next_from", F.lead("valid_from").over(w2))
    both = F.col("valid_to").isNotNull() & F.col("next_from").isNotNull()
    return corrupted.groupBy("user_id").agg(
        F.count("*").alias("n_versions"),
        F.sum((both & (F.col("valid_to") > F.col("next_from"))).cast("bigint")).alias(
            "n_overlaps"
        ),
        F.sum((both & (F.col("valid_to") < F.col("next_from"))).cast("bigint")).alias(
            "n_gaps"
        ),
        # when/otherwise, not a bare cast: a single-version user has NULL
        # valid_to AND next_from → NULL comparison → sum(NULL) = NULL,
        # where the oracle's CASE..ELSE 0 yields 0
        F.sum(
            F.when(F.col("valid_to") == F.col("next_from"), 1).otherwise(0)
        ).cast("bigint").alias("n_exact"),
    )


@query(
    "etl_attribution_last_touch",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts AS touch_ts, event_id AS touch_id, event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ),
    cand AS (
      SELECT p.event_id, p.user_id, p.ts, t.channel, t.touch_ts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY t.touch_ts DESC, t.touch_id DESC)
               AS rn
      FROM purchases p
      JOIN touches t
        ON p.user_id = t.user_id
       AND t.touch_ts <= p.ts
       AND t.touch_ts > p.ts - INTERVAL 24 HOURS
    )
    SELECT p.event_id, p.user_id, p.ts, c.channel, c.touch_ts
    FROM purchases p
    LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON p.event_id = c.event_id
    """,
)
def etl_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to the
    most recent click/view by the same user within a 24-hour lookback
    (ties broken by event_id; purchases with no touch keep NULL channel).
    The as-of join specialized with a channel dimension and horizon — the
    attribution query every growth team runs.

    Plan: equi-join on user_id with the time band as a residual, then the
    per-purchase argmax collapses via max_by partial aggregation (no
    row_number sort buffer on the Spark side — the oracle spells it with
    a window because DuckDB lacks struct-ordered max_by). The 24 h
    horizon bounds candidates per purchase, so the join output is
    O(purchases × touches-per-day), not O(n²); at 100 TB pre-bucketing
    both sides by (user_id, day) keeps the band join co-located."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
    )
    cand = purchases.join(
        touches,
        (purchases["user_id"] == touches["t_user"])
        & (touches["touch_ts"] <= purchases["ts"])
        & (touches["touch_ts"] > purchases["ts"] - F.expr("INTERVAL 24 HOURS")),
    )
    att = cand.groupBy("event_id").agg(
        F.max_by(
            F.struct("channel", "touch_ts"), F.struct("touch_ts", "touch_id")
        ).alias("pick")
    )
    return purchases.join(att, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.col("pick.channel").alias("channel"),
        F.col("pick.touch_ts").alias("touch_ts"),
    )


@query(
    "etl_golden_record",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderstatus, o_orderpriority, o_orderdate,
             o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn_latest
      FROM orders
    )
    SELECT r.o_custkey AS custkey,
           max(CASE WHEN rn_latest = 1 THEN o_orderstatus END) AS last_status,
           min(o_orderpriority) AS best_priority,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS lifetime_value
    FROM ranked r
    GROUP BY r.o_custkey
    """,
)
def etl_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (MDM): collapse each customer's order
    history into one record by per-attribute merge rules — most-recent
    wins for status (tie-broken by order key), best-value wins for
    priority, min/max for the date range, additive for count and
    lifetime value. One groupBy computes every rule: recency argmax runs
    as max_by over a (date, key) struct so it needs no window or
    self-join.

    Plan note: single hash shuffle on the entity key; every rule is a
    partial-aggregable function (max_by merges by comparing its ordering
    struct), so map-side combine applies to all of them. 100 TB: this is
    THE entity-consolidation shape — one pass, no window state, skew
    handled by AQE like any hot-key aggregate."""
    o = load(spark, sf_dir, "orders")
    ordkey = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max_by("o_orderstatus", ordkey).alias("last_status"),
            F.min("o_orderpriority").alias("best_priority"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("lifetime_value"),
        )
    )


@query(
    "etl_surrogate_hash_keys",
    oracle="""
    WITH hub AS (
      SELECT c_custkey, md5('cust|' || CAST(c_custkey AS VARCHAR)) AS hub_key
      FROM customer
    )
    SELECT c_custkey, hub_key,
           CAST(row_number() OVER (ORDER BY hub_key) AS BIGINT) AS sk,
           (SELECT count(*) - count(DISTINCT hub_key) FROM hub) AS n_collisions
    FROM hub
    """,
)
def etl_surrogate_hash_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-vault-style surrogate keys: each business key gets a
    deterministic 128-bit hub key (md5 over a typed, delimited business
    key string), a dense integer sk assigned by hash order, and the
    output carries the hub-wide collision count (must be 0 — asserted by
    the oracle comparison AND unit test). Hash keys, not sequences: the
    mapping is stable across reruns, engines, and partition layouts.

    100 TB notes: md5-as-identity is the pattern that REPLACES
    monotonically_increasing_id (whose values depend on partition layout
    — non-reproducible) and sequence generators (a global bottleneck).
    The dense sk via row_number-over-hash is a DELIBERATE single-sort
    demonstration — at cluster scale you keep the 128-bit key as the
    join identity and skip dense ids entirely, or assign them per
    partition (id = partition_offset + local rank) when a warehouse
    demands integers. Collision audit on 128 bits is paranoia-grade but
    free in the same pass."""
    c = load(spark, sf_dir, "customer")
    hub = c.select(
        "c_custkey",
        F.md5(F.concat(F.lit("cust|"), F.col("c_custkey").cast("string"))).alias(
            "hub_key"
        ),
    )
    w = Window.orderBy("hub_key")
    counts = hub.agg(
        (F.count(F.lit(1)) - F.countDistinct("hub_key")).alias("n_collisions")
    )
    return hub.withColumn("sk", F.row_number().over(w).cast("long")).crossJoin(
        F.broadcast(counts)
    )


_CK_P = 1000000007


@query(
    "etl_checksum_reconcile",
    oracle=f"""
    SELECT l_orderkey % 16 AS bucket,
           count(*) AS n_src,
           count(*) AS n_copy,
           CAST(sum(((l_orderkey * 1000003 + l_linenumber) * 31
                     + CAST(round(l_extendedprice * 100) AS BIGINT))
                    % {_CK_P}) AS BIGINT) AS checksum_src,
           CAST(sum(((l_orderkey * 1000003 + l_linenumber) * 31
                     + CAST(round(l_extendedprice * 100) AS BIGINT))
                    % {_CK_P}) AS BIGINT) AS checksum_copy,
           TRUE AS reconciled
    FROM lineitem
    GROUP BY 1
    """,
)
def etl_checksum_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-fidelity reconciliation: lineitem is copied through a parquet
    round-trip, and source vs copy are compared by per-bucket integer
    checksums — row count plus a modular sum over (orderkey, linenumber,
    price-in-cents) — with a per-bucket `reconciled` verdict. The oracle
    recomputes the source checksums and asserts TRUE, so a copy that
    drops, duplicates, or corrupts ANY row flips a flag into a driver
    hash mismatch.

    Why checksums, not joins: reconciling a 100 TB copy row-by-row is a
    full shuffle join of two 100 TB relations; per-bucket modular sums
    are one partial-agg pass over EACH side (order-free, mergeable,
    engine-agnostic integer math) and ship only n_buckets rows to
    compare. Bucketing by key range localizes any mismatch for targeted
    re-copy — the standard migration-validation pattern."""
    src = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    base = scratch_dir(prefix=f"sg-ckrec-{sftag(sf_dir)}-")
    src.write.mode("overwrite").parquet(base)
    copy = spark.read.parquet(base)

    def side(df, n_name, ck_name):
        term = (
            (F.col("l_orderkey") * 1000003 + F.col("l_linenumber")) * 31
            + F.round(F.col("l_extendedprice") * 100).cast("long")
        ) % F.lit(_CK_P).cast("long")
        return df.groupBy((F.col("l_orderkey") % 16).alias("bucket")).agg(
            F.count(F.lit(1)).alias(n_name),
            F.sum(term).cast("long").alias(ck_name),
        )
    s = side(src, "n_src", "checksum_src")
    c = side(copy, "n_copy", "checksum_copy")
    return (
        s.join(c, "bucket")
        .select(
            "bucket",
            "n_src",
            "n_copy",
            "checksum_src",
            "checksum_copy",
            (
                (F.col("n_src") == F.col("n_copy"))
                & (F.col("checksum_src") == F.col("checksum_copy"))
            ).alias("reconciled"),
        )
    )


@query(
    "etl_anomaly_iqr_fences",
    oracle="""
    WITH q AS (
      SELECT c_mktsegment,
             quantile_disc(c_acctbal, 0.25) AS q1,
             quantile_disc(c_acctbal, 0.75) AS q3
      FROM customer GROUP BY c_mktsegment
    ),
    fenced AS (
      SELECT c.c_mktsegment,
             q.q1, q.q3,
             q.q1 - 1.5 * (q.q3 - q.q1) AS lo,
             q.q3 + 1.5 * (q.q3 - q.q1) AS hi,
             c.c_acctbal
      FROM customer c JOIN q ON c.c_mktsegment = q.c_mktsegment
    )
    SELECT c_mktsegment,
           round(min(q1), 2) AS q1,
           round(min(q3), 2) AS q3,
           round(min(lo), 2) AS fence_lo,
           round(min(hi), 2) AS fence_hi,
           count(*) AS n,
           CAST(count(*) FILTER (WHERE c_acctbal < lo OR c_acctbal > hi)
                AS BIGINT) AS n_outliers
    FROM fenced GROUP BY c_mktsegment
    """,
)
def etl_anomaly_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier fences per market segment: exact quartiles, Tukey
    fences at 1.5×IQR, and the count of account balances outside them —
    the box-plot rule as a data-quality screen. Two passes by necessity
    (fences are order statistics of the same relation they filter): one
    percentile aggregate, one broadcast join back, one counting
    aggregate.

    100 TB: swap the exact quartiles for approx_percentile (GK sketch,
    mergeable) and the shape is a single-scan screen; the exact form
    here keeps the oracle bit-checkable. Quartiles are DISCRETE
    (percentile_disc — actual member values, exact 2-dp money) rather
    than interpolated: cont interpolation lands mid-cent and its 2-dp
    rounding straddled a boundary between engines at sf0.01 (ULP drift
    in (1−f)·a+f·b, rule 2's residual risk made real); with member
    quartiles every fence is exact arithmetic on exact inputs."""
    c = load(spark, sf_dir, "customer")
    q = c.groupBy("c_mktsegment").agg(
        F.expr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal)"
        ).alias("q1"),
        F.expr(
            "percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal)"
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    q = q.withColumn("lo", F.col("q1") - 1.5 * iqr).withColumn(
        "hi", F.col("q3") + 1.5 * iqr
    )
    joined = c.join(F.broadcast(q), "c_mktsegment")
    out_pred = (F.col("c_acctbal") < F.col("lo")) | (F.col("c_acctbal") > F.col("hi"))
    return joined.groupBy("c_mktsegment").agg(
        F.round(F.min("q1"), 2).alias("q1"),
        F.round(F.min("q3"), 2).alias("q3"),
        F.round(F.min("lo"), 2).alias("fence_lo"),
        F.round(F.min("hi"), 2).alias("fence_hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(out_pred, 1).otherwise(0)).cast("long").alias("n_outliers"),
    )


@query(
    "etl_multi_sink_fanout",
    oracle="""
    SELECT 'csv' AS sink, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 'parquet', count(*), round(sum(o_totalprice), 2)
    FROM orders WHERE o_orderstatus = 'O'
    ORDER BY sink
    """,
)
def etl_multi_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-sink fanout: the filtered relation is persisted
    ONCE and written to two sinks (parquet for downstream jobs, CSV for
    the legacy consumer) — then both sinks are read back and audited
    against each other. Without the explicit persist, each `.write`
    re-plans and re-SCANS the source: two sinks = two full scans; with
    it, the second write reads the materialized partitions.

    100 TB: the fanout pattern for serving the same curated slice to
    heterogeneous consumers — persist (or checkpoint to a staging table)
    before the first sink, and size StorageLevel to MEMORY_AND_DISK so
    wide slices spill instead of failing. The audit (counts + sums per
    sink) is the cheap invariant that catches a half-written sink."""
    from pyspark import StorageLevel

    base = scratch_dir(prefix=f"sg-fanout-{sftag(sf_dir)}-")
    sl = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_totalprice")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        sl.write.mode("overwrite").parquet(f"{base}/pq")
        sl.write.mode("overwrite").option("header", "true").csv(f"{base}/csv")
    finally:
        sl.unpersist()
    pq = spark.read.parquet(f"{base}/pq")
    cs = spark.read.schema("o_orderkey long, o_totalprice double").option(
        "header", "true"
    ).csv(f"{base}/csv")
    return (
        cs.agg(
            F.lit("csv").alias("sink"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .unionByName(
            pq.agg(
                F.lit("parquet").alias("sink"),
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
        )
        .orderBy("sink")
    )


_ERASE_USERS = [3, 17, 42]


@query(
    "etl_targeted_erasure",
    oracle=f"""
    SELECT user_id % 16 AS bucket,
           count(*) AS n_rows,
           CAST(count(CASE WHEN user_id IN ({", ".join(map(str, _ERASE_USERS))})
                      THEN 1 END) AS BIGINT) AS n_erased_left
    FROM events
    WHERE user_id NOT IN ({", ".join(map(str, _ERASE_USERS))})
    GROUP BY 1
    """,
)
def etl_targeted_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten, layout-aware: events are stored partitioned
    by a 16-way user-id bucket; erasing three users rewrites ONLY the
    buckets that contain them (3 directories at most), leaving every
    other partition's files physically untouched (unit-tested by file
    mtime). The audit re-reads the WHOLE store post-erasure: per-bucket
    row counts with a must-be-zero count of surviving erased rows.

    100 TB: this is why subject-keyed partitioning (or at least
    bucket-by-subject-hash) is a compliance requirement, not a
    performance nicety — erasure cost becomes O(partitions containing
    the subject), not O(corpus rewrite). The bucket column being a pure
    hash of the subject id means the partitions to rewrite are COMPUTED,
    never searched. Table formats (Delta/Iceberg) refine the same idea
    to file-level deletes; bare parquet makes the mechanics explicit."""
    base = scratch_dir(prefix=f"sg-erase-{sftag(sf_dir)}-")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    store = e.withColumn("bucket", F.col("user_id") % 16)
    # r15 (guide §6): repartition by the partition column before the
    # partitioned write — otherwise every input task writes into every
    # bucket dir (files = tasks × dirs at scale; locally the single-split
    # source serialized all 16 dirs through one task, measured 0.89 s vs
    # 0.67 s warm). One writer task per bucket, same 16 files.
    store.repartition(16, "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(base)
    # Compute the affected buckets FROM the deletion list (no scan needed),
    # rewrite only those directories. A bucket with no rows has no
    # directory — nothing to erase there, skip it (an empty events source
    # must not crash the erasure job).
    affected = sorted({u % 16 for u in _ERASE_USERS})
    for b in affected:
        part_dir = f"{base}/bucket={b}"
        if not os.path.isdir(part_dir):
            continue
        kept = spark.read.parquet(part_dir).filter(
            ~F.col("user_id").isin(_ERASE_USERS)
        )
        tmp = f"{base}/.rewrite_bucket_{b}"
        kept.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(part_dir)
        os.rename(tmp, part_dir)
    # explicit schema: no inference pass, robust to a zero-row write
    back = spark.read.schema(store.schema).parquet(base)
    return back.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("user_id").isin(_ERASE_USERS), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_erased_left"),
    )


@query(
    "etl_incremental_agg_merge",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total,
           TRUE AS equals_full_recompute
    FROM events
    GROUP BY event_type
    """,
)
def etl_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-table maintenance, batch flavor: the
    per-type aggregate table is advanced by three delta batches
    (event_id % 3 slices) — each refresh aggregates ONLY its delta and
    merges (insert-new / sum-existing) into the stored table — and the
    final table is compared IN-QUERY against a full recompute; the
    emitted flag certifies they match to the cent.

    This is the mart-refresh contract: nightly deltas cost
    O(delta + table), never O(history). It works exactly when the
    aggregate is algebraic (count/sum here; min/max too — but NOT raw
    median/distinct, which need sketch state: agg_hll_sketch_merge shows
    the mergeable-sketch version of the same idea). 100 TB: the delta
    aggregate is one partial-agg pass over the new partition; the merge
    shuffles table-cardinality rows only."""
    import os
    import shutil

    state_dir = scratch_dir("sg_incagg_")
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    for i in range(3):
        delta = (
            e.filter(F.col("event_id") % 3 == i)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        )
        if os.path.exists(f"{state_dir}/cur"):
            cur = spark.read.parquet(f"{state_dir}/cur")
            merged = (
                cur.unionByName(delta)
                .groupBy("event_type")
                .agg(F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv"))
            )
        else:
            merged = delta
        # r15 (guide §6 small-files, same as the foreachBatch keys): the
        # merged table is |event_type| rows (5 here) yet inherited
        # shuffle-partition-many part files per merge cycle; the narrow
        # coalesce merges reduce outputs only. A real mart uses the table
        # format's compaction; file count stays bounded either way.
        merged.coalesce(1).write.mode("overwrite").parquet(f"{state_dir}/next")
        shutil.rmtree(f"{state_dir}/cur", ignore_errors=True)
        os.rename(f"{state_dir}/next", f"{state_dir}/cur")
    table = spark.read.parquet(f"{state_dir}/cur")
    full = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("f_cnt"), F.round(F.sum("value"), 2).alias("f_total")
    )
    return (
        table.select(
            "event_type", "cnt", F.round(F.col("sv"), 2).alias("total")
        )
        .join(full, "event_type", "full")
        .select(
            "event_type",
            "cnt",
            "total",
            (
                (F.col("cnt") == F.col("f_cnt"))
                & (F.col("total") == F.col("f_total"))
            ).alias("equals_full_recompute"),
        )
    )


_SHARD_BYTES = 20000


@query(
    "etl_shard_manifest",
    oracle=f"""
    WITH seq AS (
      SELECT doc_id, source, n_chars,
             sum(n_chars) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
      FROM documents
    ),
    tagged AS (
      SELECT doc_id, source, n_chars,
             CAST((cum - 1) // {_SHARD_BYTES} AS BIGINT) AS shard_id
      FROM seq
    )
    SELECT shard_id,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM tagged GROUP BY shard_id
    """,
)
def etl_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: documents packed in doc_id order into
    ~20 KB byte-budget shards (shard = floor of the exclusive cumulative
    byte count / budget — a document that crosses the boundary opens the
    next shard), with the per-shard manifest a dataloader needs: doc
    count, actual bytes, id range, source mix. This is the packaging
    contract of WebDataset/tar-shard training pipelines — the shards are
    contiguous id ranges, so resuming and range-reading are trivial.

    Plan note: the global ordered cumulative sum is the one inherently
    sequential step — at 100 TB run it hierarchically (per-partition
    subtotals, prefix-scan the ~thousands of subtotals on the driver,
    broadcast offsets back: the emb_pca_project bounded-collect shape);
    everything after is a shard-keyed partial aggregate. The manifest is
    shard-cardinality, not corpus-cardinality."""
    d = load(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    seq = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
    )
    tagged = seq.withColumn(
        "shard_id",
        F.floor((F.col("cum") - 1) / _SHARD_BYTES).cast("long"),
    )
    return tagged.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
