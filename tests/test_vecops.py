"""Unit tests for the r02 vector-ops batch (engine/vecops.py): RP-LSH recall
against the exact top-k answer, and PCA's linear-algebra contracts — the
checks the driver's ROWS-only oracle can't express."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_DIR, SF_DIR_MID


def _exact_topk_pairs(spark, sf_dir, k=10):
    from engine.vectors import sim_topk_pairs

    return {
        (r["a_id"], r["b_id"])
        for r in sim_topk_pairs(spark, sf_dir).collect()
    }


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_MID])
def test_rp_lsh_recall(spark, sf_dir):
    """Multi-probe RP-LSH must recover >= 80% of the exact top-10 pairs at
    both the unit SF and the driver's verify SF (mirrors the IVF recall
    bound VERDICT r01 item 6 asked for)."""
    from engine.vectors import sim_ann_rp_lsh

    exact = _exact_topk_pairs(spark, sf_dir)
    approx = {(r["a_id"], r["b_id"]) for r in sim_ann_rp_lsh(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"RP-LSH recall {recall} < 0.8 at {sf_dir}"


def test_rp_lsh_no_broadcast_dependency(spark, monkeypatch):
    """r05 (VERDICT r04 item 2): the exact-verify stage must not depend on
    the ≤1M-vector broadcast matrix — force the old gate to refuse EVERY
    corpus and prove the key still runs and still hits the recall floor.
    (sim_topk_pairs, which legitimately uses the broadcast side, computes
    the exact reference BEFORE the gate is zeroed.)"""
    import engine.vectors as vectors
    from engine.vectors import sim_ann_rp_lsh

    exact = _exact_topk_pairs(spark, SF_DIR)
    monkeypatch.setattr(vectors, "_MAX_BROADCAST_VECTORS", 0)
    approx = {
        (r["a_id"], r["b_id"])
        for r in sim_ann_rp_lsh.__wrapped__(spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"RP-LSH recall {recall} < 0.8 with broadcast gate at 0"


def test_pca_contracts(spark):
    """Projection must (a) be deterministic across calls, (b) have
    column variances in decreasing order (top components first), and
    (c) reproduce numpy's reference PCA on the same vectors up to the
    fixed-sign convention."""
    from engine.tables import load
    from engine.vectors import pca_project_vectors

    pc_cols = ["pc1", "pc2", "pc3", "pc4"]
    out = pca_project_vectors(spark, SF_DIR).toPandas()
    proj = out[pc_cols].to_numpy()
    assert proj.shape[1] == 4

    # (a) deterministic re-run (fresh plan, same result)
    out2 = pca_project_vectors(spark, SF_DIR).toPandas()
    assert np.allclose(proj, out2[pc_cols].to_numpy())

    # (b) variance ordering
    var = proj.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(len(var) - 1)), var

    # (c) reference PCA on the collected vectors (tiny at sf0.001)
    emb = load(spark, SF_DIR, "embeddings").orderBy("vec_id").toPandas()
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    mu = mat.mean(axis=0)
    cov = np.cov(mat.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    comps = evecs[:, ::-1][:, :4]
    for j in range(4):
        i = int(np.argmax(np.abs(comps[:, j])))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    ref = np.round((mat - mu) @ comps, 6)
    assert np.allclose(proj, ref, atol=1e-5)


def test_scalar_quantize_bounds(spark):
    """Quantized codes live in [0, 255]; each dimension's min maps to 0 and
    its max to 255 (full range used)."""
    from engine.vectors import emb_scalar_quantize

    q = emb_scalar_quantize(spark, SF_DIR).toPandas()
    assert q["q"].between(0, 255).all()
    per_dim = q.groupby("pos")["q"].agg(["min", "max"])
    # the probe subset (vec_id < 500) is the whole corpus at sf0.001, so the
    # global extremes are present and every dimension must hit both ends
    assert (per_dim["min"] == 0).all()
    assert (per_dim["max"] == 255).all()


def test_rp_lsh_exact_dup_collapse(spark, tmp_path):
    """r07 clone-floor fix: on a corpus WITH exact-duplicate embeddings
    the dup probe must route through the collapse prestage (reps-only
    LSH + block expansion), and the result must still be the exact
    top-10 pair list under (sim desc, a_id, b_id) — including the
    intra-group pairs that bypass LSH entirely. Brute-force reference
    computed in numpy over the full clone corpus."""
    import itertools

    import numpy as np
    from pyspark.sql import functions as F

    from engine.registry import QUERIES

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    parts = [base] + [
        base.withColumn("vec_id", F.col("vec_id") + i * 1_000_000) for i in (1, 2)
    ]
    dup = parts[0]
    for p in parts[1:]:
        dup = dup.unionByName(p)
    dup.write.parquet(str(tmp_path / "embeddings.parquet"))

    res = QUERIES["sim_ann_rp_lsh"].__wrapped__(spark, str(tmp_path)).collect()
    got = [(r["a_id"], r["b_id"], r["sim"]) for r in res]

    rows = sorted(
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in dup.collect()
    )
    ids = [i for i, _ in rows]
    m = np.stack([v for _, v in rows])
    sims = np.round(m @ m.T, 4)
    allp = sorted(
        ((-sims[i, j], ids[i], ids[j]) for i, j in itertools.combinations(range(len(ids)), 2)),
    )[:10]
    want = [(a, b, -s) for s, a, b in allp]
    assert got == want, f"collapse path diverged from brute force:\n{got}\nvs\n{want}"


def test_rp_lsh_dup_collapse_on_scale_verify_path(spark, tmp_path, monkeypatch):
    """The dup-collapse prestage must compose with the no-broadcast
    (join-based) verify path: zero the broadcast gate, run on a clone
    corpus, and require the exact top-10 PAIR SET (values are compared
    as sets of id pairs — the join path rounds JVM-side, the reference
    numpy-side, and only measure-zero boundary values could differ)."""
    import itertools

    import numpy as np
    from pyspark.sql import functions as F

    import engine.vectors as vectors
    from engine.registry import QUERIES

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dup = base.unionByName(base.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    dup.write.parquet(str(tmp_path / "embeddings.parquet"))

    monkeypatch.setattr(vectors, "_MAX_BROADCAST_VECTORS", 0)
    res = QUERIES["sim_ann_rp_lsh"].__wrapped__(spark, str(tmp_path)).collect()
    got = {(r["a_id"], r["b_id"]) for r in res}
    assert len(got) == 10

    rows = sorted(
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in dup.collect()
    )
    ids = [i for i, _ in rows]
    m = np.stack([v for _, v in rows])
    sims = np.round(m @ m.T, 4)
    want = {
        (a, b)
        for s, a, b in sorted(
            (-sims[i, j], ids[i], ids[j])
            for i, j in itertools.combinations(range(len(ids)), 2)
        )[:10]
    }
    assert got == want
