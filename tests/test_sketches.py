"""Unit tests for the r03 sketch keys (engine/sketches.py): HLL estimate
accuracy vs exact, merge associativity through the persisted round-trip —
the checks the ROWS-only driver gate can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_hll_estimates_within_5pct_of_exact(spark):
    """Self-validating FULL shape (r04): every est_ok flag must hold, and the
    exact counts in the output must agree with an independent recomputation."""
    from engine.aggs import agg_hll_sketch_merge
    from engine.tables import load

    out = {
        r["r_name"]: r.asDict()
        for r in agg_hll_sketch_merge(spark, SF_DIR).collect()
    }
    c = load(spark, SF_DIR, "customer")
    nation = load(spark, SF_DIR, "nation")
    region = load(spark, SF_DIR, "region")
    exact = {
        r["r_name"]: r["n"]
        for r in (
            c.join(nation, c.c_nationkey == nation.n_nationkey)
            .join(region, nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.countDistinct("c_custkey").alias("n"))
        ).collect()
    }
    exact["ALL"] = c.select("c_custkey").distinct().count()
    assert set(out) == set(exact)
    for k, row in out.items():
        assert row["est_ok"], (k, row)
        assert row["exact_customers"] == exact[k], (k, row, exact[k])


def test_hll_rows_deterministic(spark):
    """Union is order-blind: a second build over the same set must produce
    identical estimates (the stability the driver's rows-only check needs)."""
    from engine.aggs import agg_hll_sketch_merge

    a = agg_hll_sketch_merge(spark, SF_DIR).collect()
    b = agg_hll_sketch_merge(spark, SF_DIR).collect()
    assert a == b
