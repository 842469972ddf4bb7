"""Unit tests for the r04 scaleops keys (engine/scaleops.py) — the
properties the oracle compare can't express: the binned rewrite must agree
with the nested-loop original, compaction must actually reduce files, the
binary quantizer must preserve neighborhood order coarsely."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_range_binned_equals_theta_range(spark):
    """The bucketed equi-join rewrite and the BroadcastNestedLoopJoin
    original are the same operator — identical result sets."""
    from engine.registry import collect

    queries, _ = collect()
    binned = {
        tuple(r)
        for r in queries["join_range_binned"](spark, SF_DIR).collect()
    }
    bnlj = {
        tuple(r) for r in queries["join_theta_range"](spark, SF_DIR).collect()
    }
    assert binned == bnlj and len(binned) > 0


def test_range_binned_no_nested_loop(spark):
    from engine.registry import collect

    queries, _ = collect()
    plan = (
        queries["join_range_binned"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan, plan


def test_sketch_intersection_flag_and_exacts(spark):
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    row = queries["agg_sketch_intersection"](spark, SF_DIR).collect()[0]
    assert row["inter_ok"], row
    o = load(spark, SF_DIR, "orders")
    a = o.filter(F.col("o_orderdate") < "1997-01-01").select("o_custkey").distinct()
    b = o.filter(F.col("o_orderdate") >= "1997-01-01").select("o_custkey").distinct()
    assert row["exact_inter"] == a.join(b, "o_custkey", "left_semi").count()


def test_pattern_match_agrees_with_direct_check(spark):
    """funnel_matched must equal the literal three-way min-ts ordering
    check for every user."""
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    got = {
        r["user_id"]: r["funnel_matched"]
        for r in queries["win_pattern_match"](spark, SF_DIR).collect()
    }
    e = load(spark, SF_DIR, "events")
    # direct: exists view v, click c, purchase p with v.ts <= c.ts <= p.ts
    # (strict sequence per the regex — initial-letter events in order)
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("event_id").alias("vid")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    matched = (
        v.join(c, "user_id")
        .filter(
            (F.col("cts") > F.col("vts"))
            | ((F.col("cts") == F.col("vts")) & (F.col("cid") > F.col("vid")))
        )
        .join(p, "user_id")
        .filter(
            (F.col("pts") > F.col("cts"))
            | ((F.col("pts") == F.col("cts")) & (F.col("pid") > F.col("cid")))
        )
        .select("user_id")
        .distinct()
    )
    direct = {r["user_id"] for r in matched.collect()}
    assert {u for u, m in got.items() if m} == direct


def test_compaction_reduces_file_count(spark):
    from engine.registry import collect
    from engine.etl import etl_compact_small_files

    queries, _ = collect()
    queries["etl_compact_small_files"](spark, SF_DIR).collect()
    frag_dir, comp_dir = etl_compact_small_files._last_dirs
    frag = glob.glob(f"{frag_dir}/*.parquet")
    comp = glob.glob(f"{comp_dir}/*.parquet")
    assert len(frag) == 32
    assert len(comp) <= 4


def test_binary_quantize_hamming_reflects_similarity(spark):
    """Coarse sanity: the reference vector's own Hamming distance is 0, and
    distances stay within the 64-bit budget."""
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["emb_binary_quantize"](spark, SF_DIR).collect()
    ref = min(rows, key=lambda r: r["vec_id"])
    assert ref["hamming_ref"] == 0
    assert all(0 <= r["hamming_ref"] <= 64 for r in rows)


def test_gaps_islands_streak_arithmetic(spark):
    """Per-user totals must be consistent: sum of streak lengths equals
    distinct active hours, and the max streak can't exceed it."""
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    rows = queries["win_gaps_islands"](spark, SF_DIR).collect()
    e = load(spark, SF_DIR, "events")
    hours = {
        r["user_id"]: r["n"]
        for r in e.select("user_id", F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r["active_hours"] == hours[r["user_id"]]
        assert r["max_streak_hours"] <= r["active_hours"]
        assert r["n_streaks"] >= 1


def test_weighted_percentile_boundary_and_ties(spark, tmp_path):
    """Hand-computed weighted medians on a micro lineitem: exact half-weight
    crossing must INCLUDE the crossing row (cw >= 0.5*tw), a single-row
    group is its own median, and tied prices resolve via the deterministic
    (price, orderkey, linenumber) cumulative order."""
    from engine.aggs import agg_weighted_percentile
    from engine.tables import SCHEMAS

    rows = [
        # (l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag)
        # group A: cumsum hits EXACTLY half (2 of 4) on the first row ->
        # weighted_median = 10.0, not 20.0
        (1, 1, 2.0, 10.0, "A"),
        (1, 2, 2.0, 20.0, "A"),
        # group B: single row
        (2, 1, 7.0, 5.0, "B"),
        # group C: tied prices; half = 6, cumsum 1, 2, 12 -> crossing at 2.0
        (3, 1, 1.0, 1.0, "C"),
        (3, 2, 1.0, 1.0, "C"),
        (4, 1, 10.0, 2.0, "C"),
    ]
    spark.createDataFrame(
        [
            (ok, None, None, ln, qty, px, None, None, rf, None, None)
            for ok, ln, qty, px, rf in rows
        ],
        SCHEMAS["lineitem"],
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    fn = getattr(agg_weighted_percentile, "__wrapped__", agg_weighted_percentile)
    got = [tuple(r) for r in fn(spark, str(tmp_path)).collect()]
    assert got == [
        ("A", 10.0, 4.0),
        ("B", 5.0, 7.0),
        ("C", 2.0, 12.0),
    ]
