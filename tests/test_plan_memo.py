"""The registry's per-key plan memo follows the corpus files: a table
rewritten in place must not be answered from the plan built over its old
bytes. sink_parquet_roundtrip shows it: its plan reads the copy of
lineitem it wrote at build time."""

from __future__ import annotations

import shutil

import duckdb
import pyarrow.parquet as pq

from engine.tables import TABLES
from tests.conftest import SF_DIR, assert_frames_match

KEY = "sink_parquet_roundtrip"


def test_memoized_plan_follows_a_rewritten_table(spark, tmp_path):
    from engine.registry import collect

    for t in TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    sf = str(tmp_path)
    queries, oracles = collect()
    first = queries[KEY](spark, sf).toPandas()

    li = pq.read_table(tmp_path / "lineitem.parquet")
    pq.write_table(li.slice(0, li.num_rows // 2), tmp_path / "lineitem.parquet")
    got = queries[KEY](spark, sf).toPandas()

    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'")
    want = con.sql(oracles[KEY]).df()
    assert 0 < len(want) < len(first)
    assert_frames_match(got, want, KEY)
