"""Named tests for engine/extras32.py: shard packing invariants and the
F1 metric against a Python reference."""

from __future__ import annotations

from collections import Counter

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_shard_manifest_packing_invariants(spark):
    from engine.etl import _SHARD_BYTES
    from engine.tables import load
    from pyspark.sql import functions as F

    rows = sorted(
        _q("etl_shard_manifest")(spark, SF_DIR).collect(), key=lambda r: r["shard_id"]
    )
    assert rows
    d = load(spark, SF_DIR, "documents")
    total_docs = d.count()
    total_bytes = d.agg(F.sum("n_chars")).first()[0]
    assert sum(r["n_docs"] for r in rows) == total_docs
    assert sum(r["shard_bytes"] for r in rows) == total_bytes
    # shard ids contiguous from 0; id ranges non-overlapping and ordered
    assert [r["shard_id"] for r in rows] == list(range(len(rows)))
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] < b["first_doc"]
    # every shard except possibly the last stays within budget + one doc
    max_doc = d.agg(F.max("n_chars")).first()[0]
    for r in rows[:-1]:
        assert r["shard_bytes"] <= _SHARD_BYTES + max_doc


def test_token_f1_matches_python(spark):
    from engine.tables import load

    rows = {r["doc_id"]: r for r in _q("text_eval_token_f1")(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").collect()
    assert len(rows) == len(docs)
    for d in docs[:30]:
        toks = d["text"].split(" ")
        hyp = ["UNK" if i % 7 == 0 else t for i, t in enumerate(toks)]
        rc, hc = Counter(toks), Counter(hyp)
        overlap = sum(min(rc[t], hc[t]) for t in rc)
        r = rows[d["doc_id"]]
        assert r["overlap"] == overlap
        assert r["n_tokens"] == len(toks)
        assert abs(r["f1"] - round(2 * overlap / (2 * len(toks)), 4)) < 1e-9
        assert r["f1"] < 1.0  # masking really degraded the hypothesis
