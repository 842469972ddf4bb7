"""Operators that write files before reading them back must give each
build its own output directory: a lazy DataFrame resolves its files at
execution time, so a second build that overwrote a shared path would
break the first result (see engine/tmpdirs.py)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, SF_DIR_MID, assert_frames_match


@pytest.mark.parametrize(
    "key", ["etl_upsert_keyed", "stream_foreachbatch_upsert", "sink_parquet_roundtrip"]
)
def test_second_build_leaves_first_result_readable(spark, duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    build = queries[key].__wrapped__
    first = build(spark, SF_DIR)
    build(spark, SF_DIR).count()
    want = duck.sql(oracles[key].replace(SF_DIR_MID, SF_DIR)).df()
    assert first.count() == len(want)
    assert_frames_match(first.toPandas(), want, key)
