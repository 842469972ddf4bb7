"""Named tests for engine/extras16.py: grid-join losslessness vs brute
force, survivorship rule semantics, heatmap share closure, histogram mass
conservation, and bloom-sink pushdown."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_spatial_grid_equals_brute_force(spark):
    """The grid-binned join must find EXACTLY the pairs the O(n*m)
    brute-force theta join finds — binning with r < cell size is lossless,
    and no pair appears twice despite the 9-cell replication."""
    from engine.relational import _AX, _AY, _BX, _BY, _coord_col
    from engine.tables import load
    from pyspark.sql import functions as F

    got = {
        (r["c_custkey"], r["s_suppkey"]): r["dist"]
        for r in _q("join_spatial_grid")(spark, SF_DIR).collect()
    }
    c = load(spark, SF_DIR, "customer").select(
        "c_custkey",
        _coord_col("c_custkey", _AX, _BX).alias("x"),
        _coord_col("c_custkey", _AY, _BY).alias("y"),
    )
    s = load(spark, SF_DIR, "supplier").select(
        "s_suppkey",
        _coord_col("s_suppkey", _AX, _BX).alias("sx"),
        _coord_col("s_suppkey", _AY, _BY).alias("sy"),
    )
    d = F.sqrt(
        (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
        + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy"))
    )
    brute = {
        (r["c_custkey"], r["s_suppkey"]): r["dist"]
        for r in c.crossJoin(s)
        .filter(d <= 2.0)
        .select("c_custkey", "s_suppkey", F.round(d, 4).alias("dist"))
        .collect()
    }
    assert got == brute and got


def test_golden_record_rules(spark):
    """Spot-check survivorship rules against a per-customer recompute:
    last_status belongs to the (date, key)-max order; dates bracket; the
    count matches."""
    from engine.tables import load

    rows = _q("etl_golden_record")(spark, SF_DIR).collect()
    assert rows
    orders = load(spark, SF_DIR, "orders").collect()
    by_cust: dict[int, list] = {}
    for o in orders:
        by_cust.setdefault(o["o_custkey"], []).append(o)
    for r in rows[:50]:
        os_ = by_cust[r["custkey"]]
        latest = max(os_, key=lambda o: (o["o_orderdate"], o["o_orderkey"]))
        assert r["last_status"] == latest["o_orderstatus"]
        assert r["best_priority"] == min(o["o_orderpriority"] for o in os_)
        assert r["first_order"] == min(o["o_orderdate"] for o in os_)
        assert r["last_order"] == max(o["o_orderdate"] for o in os_)
        assert r["n_orders"] == len(os_)


def test_heatmap_shares_close_to_one(spark):
    """Within each weekday the cell shares sum to ~1 (4-dp rounding); dow
    in [0,6], hour in [0,23]."""
    rows = _q("agg_hour_dow_heatmap")(spark, SF_DIR).collect()
    assert rows
    by_dow: dict[int, float] = {}
    for r in rows:
        assert 0 <= r["dow"] <= 6 and 0 <= r["hr"] <= 23
        by_dow[r["dow"]] = by_dow.get(r["dow"], 0.0) + r["share_of_dow"]
    for dow, total in by_dow.items():
        assert abs(total - 1.0) < 0.01, (dow, total)


def test_cosine_histogram_mass_and_bounds(spark):
    """Bin counts sum to the number of shifted pairs; bins are in [0,9];
    per-bin mean lies inside that bin's [lo, hi] range."""
    from engine.tables import load

    rows = _q("emb_cosine_histogram")(spark, SF_DIR).collect()
    assert rows
    n_vec = load(spark, SF_DIR, "embeddings").count()
    ids = {
        r["vec_id"] for r in load(spark, SF_DIR, "embeddings").select("vec_id").collect()
    }
    expected_pairs = sum(1 for i in ids if i + 97 in ids)
    assert sum(r["n"] for r in rows) == expected_pairs > 0
    for r in rows:
        assert 0 <= r["bin"] <= 9
        lo, hi = -1.0 + 0.2 * r["bin"], -1.0 + 0.2 * (r["bin"] + 1)
        # mean of members is inside the half-open bin (tolerance for the
        # top bin which is closed at exactly 1.0)
        assert lo - 1e-9 <= r["mean_cos"] <= hi + 1e-9
    assert n_vec >= expected_pairs


def test_bloom_sink_pushes_filter_and_matches_source(spark):
    """The read-back plan pushes the In() probe to the scan, and results
    equal the direct-source filter."""
    from engine.tables import load
    from pyspark.sql import functions as F

    df = _q("sink_parquet_bloom_filter")(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_custkey" in plan
    got = {(r["o_orderkey"], r["o_custkey"], r["price"]) for r in df.collect()}
    src = {
        (r["o_orderkey"], r["o_custkey"], r["price"])
        for r in load(spark, SF_DIR, "orders")
        .filter(F.col("o_custkey").isin(7, 42, 99))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
        )
        .collect()
    }
    assert got == src and got
