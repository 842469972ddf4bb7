"""Named tests for engine/extras17.py: corrupt-record quarantine counts,
Poisson draw distribution, rolling-corr bounds + numpy spot-check, and
surrogate-key permutation/collision properties."""

from __future__ import annotations

import hashlib

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_corrupt_json_quarantine_split(spark):
    from engine.tables import load
    from pyspark.sql import functions as F

    row = _q("scan_json_corrupt_permissive")(spark, SF_DIR).collect()[0]
    e = load(spark, SF_DIR, "events")
    total = e.count()
    n_bad = e.filter(F.col("event_id") % 7 == 0).count()
    assert row["n_corrupt"] == n_bad > 0
    assert row["n_good"] == total - n_bad
    good_sum = (
        e.filter(F.col("event_id") % 7 != 0)
        .agg(F.round(F.sum("value"), 2))
        .first()[0]
    )
    assert row["value_good"] == good_sum


def test_bootstrap_poisson_distribution(spark):
    """E[k]=1: per-group resampled count within 4 sqrt(n) of the original;
    global k=0 fraction near e^-1; k values recomputed in Python match."""
    from engine.tables import load

    rows = _q("sample_bootstrap_poisson")(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r["n_resampled"] - r["n_orig"]) <= 4 * max(r["n_orig"], 1) ** 0.5
        assert r["sum_resampled"] > 0
    # recompute the draw for every order and compare the group sums
    from engine.relational import _POIS_CDF

    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).collect()
    ks: dict[str, int] = {}
    zero = 0
    for o in orders:
        u = (o["o_orderkey"] * 2654435761 + 12345) % 100000
        k = next((i for i, t in enumerate(_POIS_CDF) if u < t), 5)
        ks[o["o_orderpriority"]] = ks.get(o["o_orderpriority"], 0) + k
        zero += k == 0
    for r in rows:
        assert r["n_resampled"] == ks[r["o_orderpriority"]]
    assert abs(zero / len(orders) - 0.3679) < 0.05


def test_rolling_corr_bounds_and_spot_check(spark):
    import numpy as np

    from engine.tables import load

    rows = _q("win_rolling_corr")(spark, SF_DIR).collect()
    assert rows
    assert all(-1.0 - 1e-9 <= r["trend_corr"] <= 1.0 + 1e-9 for r in rows)
    # spot-check the first emitted row's corr against numpy over the same
    # trailing 20-row frame
    r0 = rows[0]
    ev = (
        load(spark, SF_DIR, "events")
        .filter(f"user_id = {r0['user_id']}")
        .orderBy("ts", "event_id")
        .select("event_id", "value")
        .collect()
    )
    idx = next(i for i, e in enumerate(ev) if e["event_id"] == r0["event_id"])
    frame = ev[idx - 19 : idx + 1]
    assert len(frame) == 20
    y = np.array([e["value"] for e in frame])
    x = np.arange(idx - 18, idx + 2, dtype=float)  # rn is 1-based position
    expect = np.corrcoef(x, y)[0, 1]
    assert abs(r0["trend_corr"] - round(float(expect), 3)) <= 0.001


def test_surrogate_keys_permutation_and_hash(spark):
    rows = _q("etl_surrogate_hash_keys")(spark, SF_DIR).collect()
    assert rows
    sks = sorted(r["sk"] for r in rows)
    assert sks == list(range(1, len(rows) + 1))
    assert all(r["n_collisions"] == 0 for r in rows)
    by_hash = sorted(rows, key=lambda r: r["hub_key"])
    assert [r["sk"] for r in by_hash] == list(range(1, len(rows) + 1))
    for r in rows[:20]:
        expect = hashlib.md5(f"cust|{r['c_custkey']}".encode()).hexdigest()
        assert r["hub_key"] == expect
