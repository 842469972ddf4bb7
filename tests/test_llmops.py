"""LLM-pipeline operator tests beyond the oracle harness (SURVEY §5.4).

The FULL-oracle §2.I keys are covered by tests/test_vs_duckdb.py; here we
check the properties the oracle can't: MinHash-LSH recall vs exact Jaccard,
determinism of the LSH pipeline, and similarity-math invariants.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


def _exact_jaccard_pairs(spark, sf_dir: str, threshold: float):
    """Ground truth: exact Jaccard over 5-char shingle sets, distance <= t."""
    from engine.tables import load

    d = load(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 4, 1)),"
                " i -> substring(text, i, 5))"
            )
        ).alias("sh"),
    )
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", (1 - inter / union).alias("dist"))
        .filter(F.col("dist") <= threshold)
    )


def test_minhash_recall_vs_exact(spark):
    """LSH candidate set must recover >=80% of true near-dup pairs at d<=0.6
    and every planted 40-char-prefix pair group must be represented."""
    from engine.registry import collect

    queries, _ = collect()
    lsh = {
        (r.a_id, r.b_id)
        for r in queries["dedup_near_minhash"](spark, SF_DIR).collect()
    }
    exact = {
        (r.a_id, r.b_id)
        for r in _exact_jaccard_pairs(spark, SF_DIR, 0.6).collect()
    }
    assert exact, "corpus should contain planted near-dups"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8 ({len(exact)} true pairs)"


def test_minhash_deterministic(spark):
    """Fixed seed => identical pair set across runs."""
    from engine.registry import collect

    queries, _ = collect()
    r1 = [tuple(r) for r in queries["dedup_near_minhash"](spark, SF_DIR).collect()]
    r2 = [tuple(r) for r in queries["dedup_near_minhash"](spark, SF_DIR).collect()]
    assert r1 == r2


def test_cosine_self_similarity(spark):
    """Embeddings are L2-normalized: self-dot == 1 +/- 1e-3."""
    from engine.vectors import _dot
    from engine.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    bad = (
        emb.select(_dot(F.col("embedding"), F.col("embedding")).alias("s"))
        .filter((F.col("s") < 0.999) | (F.col("s") > 1.001))
        .count()
    )
    assert bad == 0


def test_dedup_exact_idempotent(spark):
    """dedup(dedup(x)) == dedup(x): survivors have unique keys."""
    from engine.registry import collect

    queries, _ = collect()
    out = queries["dedup_exact"](spark, SF_DIR)
    n = out.count()
    assert out.select("prefix40").distinct().count() == n


def test_side_broadcast_cached_per_session_corpus(spark, tmp_path):
    """_side_broadcast returns the SAME Broadcast handle for repeated calls
    on an unchanged corpus (the r11 driver-side cache), and a NEW handle when
    the corpus bytes change (mtime/nrows key miss) — a stale hit would serve
    old vectors to every blocked-matmul kernel."""
    import shutil

    from engine.vectors import _side_broadcast
    from engine.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    bc1, key1 = _side_broadcast(spark, SF_DIR, emb)
    bc2, key2 = _side_broadcast(spark, SF_DIR, emb)
    assert key1 is not None and key1 == key2
    assert bc1 is bc2  # hit: no re-publish

    # Rewritten corpus (copy → different path+mtime) must miss.
    alt = tmp_path / "alt_sf"
    alt.mkdir()
    shutil.copy2(f"{SF_DIR}/embeddings.parquet", alt / "embeddings.parquet")
    emb_alt = spark.read.parquet(str(alt / "embeddings.parquet"))
    bc3, key3 = _side_broadcast(spark, str(alt), emb_alt)
    assert key3 != key1
    assert bc3 is not bc1
    # cached value matches the on-disk side row count
    ids, mat = bc1.value
    assert len(ids) == emb.count() and mat.dtype.name == "float32"


def test_broadcast_side_keeps_double_source_precision(spark, tmp_path):
    """r11 review fix: an array<double> embeddings source must NOT be
    narrowed to f32 by _broadcast_side (quantizing would break the
    bit-identity contract with the oracle's f64 dots); an array<float>
    source ships as f32 (exact upcast at refine). Checked through the
    pyarrow-direct path on a double-written copy of the corpus."""
    from pyspark.sql import functions as F

    from engine.vectors import _broadcast_side
    from engine.tables import load

    base = load(spark, SF_DIR, "embeddings")
    alt = tmp_path / "dbl"
    alt.mkdir()
    base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    ).coalesce(1).write.parquet(str(alt / "embeddings.parquet"))
    # Spark writes a DIRECTORY; _broadcast_side stats the path either way.
    emb_dbl = spark.read.parquet(str(alt / "embeddings.parquet"))
    ids_d, mat_d, _ = _broadcast_side(spark, str(alt), emb_dbl)
    assert mat_d.dtype.name == "float64", mat_d.dtype

    ids_f, mat_f, _ = _broadcast_side(spark, SF_DIR, base)
    assert mat_f.dtype.name == "float32", mat_f.dtype
    # same values modulo representation
    import numpy as np

    a = mat_f[np.argsort(ids_f)].astype(np.float64)
    b = mat_d[np.argsort(ids_d)]
    assert np.array_equal(a, b)
