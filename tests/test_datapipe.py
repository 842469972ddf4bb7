"""Unit tests for the r04 datapipe keys (engine/datapipe.py) — the
properties the oracle compare can't express: the bloom filter must actually
prune, sketch bounds must hold with margin, sampling must be reproducible."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_bloom_prune_rejects_rows_and_keeps_all_matches(spark):
    """The Bloom pass must (a) reject a meaningful share of non-EUROPE
    orders (else it's a no-op) and (b) never reject a true match (no false
    negatives — the property the FULL oracle relies on)."""
    from engine.relational import _BLOOM_K, _BLOOM_WORDS  # noqa: F401
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    out = {
        r["n_name"]: r["n_orders"]
        for r in queries["join_bloom_prune"](spark, SF_DIR).collect()
    }
    cust = load(spark, SF_DIR, "customer")
    nation = load(spark, SF_DIR, "nation")
    region = load(spark, SF_DIR, "region")
    orders = load(spark, SF_DIR, "orders")
    dim = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("c_custkey", "n_name")
    )
    exact = {
        r["n_name"]: r["n"]
        for r in orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == exact  # no false negatives, FPs removed by the exact join
    # the filter is selective: EUROPE is 1 of 5 regions, so the pruned probe
    # side must be far smaller than the full orders table
    n_europe_orders = sum(exact.values())
    n_total = orders.count()
    assert n_europe_orders < 0.5 * n_total


def test_cms_estimate_flags_hold(spark):
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["agg_cms_estimate"](spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(r["ge_ok"] and r["bound_ok"] for r in rows), rows


def test_reservoir_sample_deterministic_and_exact_k(spark):
    from engine.registry import collect

    queries, _ = collect()
    a = [tuple(r) for r in queries["sample_reservoir_group"](spark, SF_DIR).collect()]
    b = [tuple(r) for r in queries["sample_reservoir_group"](spark, SF_DIR).collect()]
    assert a == b
    per_source: dict[str, int] = {}
    for source, _doc, rk in a:
        per_source[source] = max(per_source.get(source, 0), rk)
    assert all(v <= 10 for v in per_source.values())


def test_zipf_fit_slope_negative(spark):
    """Frequency must fall with rank: the log-log slope is negative and the
    OLS fit explains most of the variance even on this synthetic corpus."""
    from engine.registry import collect

    queries, _ = collect()
    row = queries["text_zipf_fit"](spark, SF_DIR).collect()[0]
    # top-100 cap; the synthetic corpus vocab is smaller (31 at sf0.001)
    assert 10 < row["n_terms"] <= 100
    assert row["zipf_slope"] < 0, row
    assert 0.0 <= row["fit_r2"] <= 1.0


def test_matryoshka_energy_monotone_and_bounded(spark):
    """Prefix energy grows with prefix length and never exceeds the full
    (unit) norm."""
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["emb_matryoshka_truncate"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["energy_16"] <= r["energy_32"] <= 1.0 + 1e-6, r


def test_perplexity_scores_finite_and_negative(spark):
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["text_perplexity_ngram"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_bigrams"] > 0
        assert r["avg_logprob"] < 0  # log-probabilities
