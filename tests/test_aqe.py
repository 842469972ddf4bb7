"""AQE cluster-profile checks: engine/session.py documents
`SPARK_GRAFT_AQE=true` as the cluster flip (skew split, runtime
re-plan) — these tests EXERCISE that mode on the shared session via
runtime-settable confs instead of trusting the docs. The wall-clock
version at 20M rows lives in scripts/aqe_skew_rehearsal.py (AQE off
5.6 s → on 1.5 s, table in docs/SCALE.md)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)


def test_aqe_splits_manufactured_skew_and_preserves_result(spark):
    """With skew thresholds scaled to local shuffle sizes, AQE must mark
    the hot-key sort-merge join as split (`skew=true`) and return the
    same aggregate as the AQE-off run — the mechanism a cluster applies
    to multi-GB skewed partitions at the default thresholds."""
    from aqe_skew_rehearsal import (
        _AQE_CONFS,
        restore_confs,
        skewed_frames,
        with_confs,
    )

    from pyspark.sql import functions as F

    left, right = skewed_frames(spark, 2_000_000)
    q = lambda: left.join(right, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )

    base_off = with_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        expected = q().collect()[0]
    finally:
        restore_confs(spark, base_off)

    base_on = with_confs(spark, _AQE_CONFS)
    try:
        out = q()
        got = out.collect()[0]
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        restore_confs(spark, base_on)

    assert (got["n"], got["sv"]) == (expected["n"], expected["sv"])
    assert "skew=true" in plan or "isSkewJoin=true" in plan, plan
