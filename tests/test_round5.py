"""Named tests for the round-5 keys (engine/graphops.py, engine/curation2.py,
engine/extras6.py) — the invariants the generic oracle compare can't state:
probability-mass conservation, brute-force graph cross-checks, monotone
temperature rates, entropy bounds, and the no-shuffle plan shape of the
quality scorer."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_pagerank_mass_conserved_and_deterministic(spark):
    """No dangling nodes in the trade graph ⇒ total rank must stay 1
    (up to the per-iteration 12-dp rounding); repeat runs identical."""
    rows = _q("graph_pagerank_iter")(spark, SF_DIR).collect()
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-6, total
    assert len(rows) == 25
    again = _q("graph_pagerank_iter")(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def _bruteforce_triangles(spark, threshold_mult):
    """Driver-side exhaustive triangle membership over the same strong-edge
    derivation (25 nodes — exhaustive is cheap here)."""
    from engine.vectors import _trade_edges

    u = (
        _trade_edges(spark, SF_DIR)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .collect()
    )
    mean_w = sum(r["w"] for r in u) / len(u)
    edges = {(r["a"], r["b"]) for r in u if r["w"] > threshold_mult * mean_w}
    nodes = sorted({n for ab in edges for n in ab})
    expected: dict[int, int] = {}
    for x, y, z in combinations(nodes, 3):
        if (x, y) in edges and (y, z) in edges and (x, z) in edges:
            for n in (x, y, z):
                expected[n] = expected.get(n, 0) + 1
    return expected


def test_triangle_count_matches_bruteforce(spark):
    """Per-node triangle counts must equal a driver-side brute force over
    the same strong-edge set."""
    got = {
        r["n_nationkey"]: r["n_triangles"]
        for r in _q("graph_triangle_count")(spark, SF_DIR).collect()
    }
    assert got == _bruteforce_triangles(spark, 1.5)


def test_triangle_nonempty_at_loosened_gate(spark):
    """The default 1.5×-mean gate can legitimately leave zero strong
    edges at some corpus scales, which makes the brute-force cross-check
    above vacuous — so pin the NON-empty path on the real corpus too: at
    a 1.25×-mean gate this corpus must produce triangles, and they must
    still match the brute force exactly."""
    from engine.vectors import _trade_edges, triangle_participation

    got = {
        r["n_nationkey"]: r["n_triangles"]
        for r in triangle_participation(_trade_edges(spark, SF_DIR), 1.25).collect()
    }
    assert sum(got.values()) > 0, "loosened gate still produced no triangles"
    assert got == _bruteforce_triangles(spark, 1.25)


def test_triangle_pinned_fixture(spark):
    """Exact output on a hand-built graph: five strong pairs forming the
    triangles (1,2,3) and (2,3,4) sharing edge (2,3); a weak pair (1,4)
    pruned by the mean gate; a self-loop dropped; and the (2,1)/(1,2)
    direction split collapsed into one undirected pair."""
    from engine.vectors import triangle_participation

    edges = spark.createDataFrame(
        [
            (1, 2, 4.0), (2, 1, 6.0),       # direction split: pair w=10
            (2, 3, 10.0), (1, 3, 10.0),
            (2, 4, 10.0), (3, 4, 10.0),
            (1, 4, 1.0),                     # weak: pruned (mean=8.5)
            (2, 2, 100.0),                   # self-loop: dropped pre-mean
        ],
        "src int, dst int, w double",
    )
    got = {
        r["n_nationkey"]: r["n_triangles"]
        for r in triangle_participation(edges, 1.0).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_degree_distribution_accounts_every_edge(spark):
    """Σ degree·n_nodes on each side must equal the number of distinct
    (part, supplier) incidences."""
    from engine.tables import load

    n_pairs = (
        load(spark, SF_DIR, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .count()
    )
    rows = _q("graph_degree_distribution")(spark, SF_DIR).collect()
    for side in ("part", "supplier"):
        mass = sum(r["degree"] * r["n_nodes"] for r in rows if r["side"] == side)
        assert mass == n_pairs, (side, mass, n_pairs)


def test_kmeans_partitions_corpus(spark):
    """Cluster memberships must partition the corpus: sizes sum to the
    vector count, ids ⊆ {0..3}, inertia non-negative."""
    from engine.tables import load

    n = load(spark, SF_DIR, "embeddings").count()
    rows = _q("emb_kmeans_lloyd")(spark, SF_DIR).collect()
    assert sum(r["n_members"] for r in rows) == n
    assert {r["cluster_id"] for r in rows} <= {0, 1, 2, 3}
    assert all(r["inertia"] >= 0 for r in rows)


def test_cross_source_groups_are_real_groups(spark):
    """Every reported group spans ≥2 sources and has ≥ as many copies as
    sources; the corpus must actually produce groups (non-vacuous)."""
    rows = _q("dedup_cross_source")(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_sources"] >= 2 and r["n_copies"] >= r["n_sources"]


def test_paragraph_chunk_fractions_bounded(spark):
    rows = _q("dedup_paragraph_chunks")(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 < r["n_dup"] <= r["n_chunks"]
        assert r["dup_frac"] >= 0.3


def test_quality_logreg_no_shuffle_and_both_classes(spark):
    """The scorer must be a pure map over the scan (no Exchange in the
    plan) and must not degenerate to a single class on the corpus."""
    df = _q("text_quality_logreg")(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    classes = {r["passes"] for r in df.collect()}
    assert classes == {True, False}


def test_temperature_rates_favor_tail_sources(spark):
    """Temperature mixing must give smaller sources a rate ≥ larger
    sources' (n^α/n is decreasing in n), every rate in (0, 1], and kept
    counts equal to ceil(n·rate)."""
    import math

    rows = sorted(
        _q("sample_temperature")(spark, SF_DIR).collect(),
        key=lambda r: r["n_orig"],
    )
    assert len(rows) >= 2
    for r in rows:
        assert 0 < r["rate"] <= 1.0
        assert r["n_kept"] == math.ceil(r["n_orig"] * r["rate"])
    rates = [r["rate"] for r in rows]
    assert all(a >= b for a, b in zip(rates, rates[1:]))


def test_entropy_bounded_by_log_vocab(spark):
    import math

    rows = _q("agg_entropy_token")(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r["entropy_nats"] <= math.log(r["vocab"]) + 1e-9


def test_zscore_recomputes_in_pandas(spark):
    """Every flagged hour's z must match an independent pandas
    recomputation from the raw hourly counts."""
    from engine.tables import load

    h = (
        load(spark, SF_DIR, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("c"))
        .toPandas()
    )
    got = _q("win_anomaly_zscore")(spark, SF_DIR).collect()
    assert len(got) > 0
    stats = {}
    for et, grp in h.groupby("event_type"):
        c = grp["c"].astype(float)
        stats[et] = (c.mean(), (c.pow(2).mean() - c.mean() ** 2) ** 0.5)
    for r in got:
        mean, std = stats[r["event_type"]]
        z = (r["cnt"] - mean) / std
        assert abs(z) > 2
        assert abs(round(z, 4) - r["z"]) <= 1e-4


def test_csv_multiline_payload_survives(spark):
    """Round-tripped payloads must still contain the embedded newline and
    quote characters, one row per document."""
    from engine.tables import load

    n_docs = load(spark, SF_DIR, "documents").count()
    rows = _q("scan_csv_multiline_quoted")(spark, SF_DIR).collect()
    assert len(rows) == n_docs
    for r in rows[:20]:
        assert "\n" in r["payload"] and '"q"' in r["payload"]
        assert r["n_lines"] == 2


def test_bitmap_distinct_equals_count_distinct(spark):
    from engine.tables import load

    exact = {
        (r["o_orderpriority"], r["n"])
        for r in load(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    got = {
        (r["o_orderpriority"], r["n_customers"])
        for r in _q("agg_bitmap_distinct")(spark, SF_DIR).collect()
    }
    assert got == exact


def test_semdedup_matches_bruteforce_numpy(spark):
    """The dropped set must equal a numpy brute force over the same
    cluster assignment (clusters from the shared Lloyd helper)."""
    import numpy as np

    from engine.vectors import kmeans_assign
    from engine.tables import load

    a2 = {r["vec_id"]: r["cid"] for r in kmeans_assign(spark, SF_DIR).collect()}
    emb = load(spark, SF_DIR, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in emb])
    X = np.stack([np.array(r["embedding"], dtype=np.float64) for r in emb])
    expected = {}
    for cid in set(a2.values()):
        idx = np.array([i for i, v in enumerate(ids) if a2[int(v)] == cid])
        S = X[idx] @ X[idx].T
        for j_pos, j in enumerate(idx):
            sups = [
                int(ids[i])
                for i_pos, i in enumerate(idx)
                if ids[i] < ids[j] and S[i_pos, j_pos] >= 0.4
            ]
            if sups:
                expected[int(ids[j])] = (min(sups), len(sups))
    got = {
        r["dropped_vec_id"]: (r["keeper_vec_id"], r["n_suppressors"])
        for r in _q("dedup_semdedup")(spark, SF_DIR).collect()
    }
    assert got == expected and len(got) > 0


def test_ks_drift_matches_scipy_style_recompute(spark):
    """D must equal a pandas empirical-CDF recomputation."""
    import numpy as np

    from engine.tables import load

    e = (
        load(spark, SF_DIR, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "value")
        .toPandas()
    )
    v1 = np.sort(e.loc[e.event_type == "view", "value"].to_numpy())
    v2 = np.sort(e.loc[e.event_type == "purchase", "value"].to_numpy())
    support = np.unique(np.concatenate([v1, v2]))
    f1 = np.searchsorted(v1, support, side="right") / len(v1)
    f2 = np.searchsorted(v2, support, side="right") / len(v2)
    expected = float(np.max(np.abs(f1 - f2)))
    r = _q("agg_ks_drift")(spark, SF_DIR).collect()[0]
    assert r["n_view"] == len(v1) and r["n_purchase"] == len(v2)
    assert abs(r["d_stat"] - expected) < 1e-12


def test_fk_staging_gate_detects_and_passes(spark):
    """The corrupted FK must show exactly the 1-in-97 violation count;
    the steady-state FK must show zero."""
    from engine.tables import load

    n_corrupt = (
        load(spark, SF_DIR, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .count()
    )
    rows = {r["fk"]: r for r in _q("etl_validate_fk_staging")(spark, SF_DIR).collect()}
    assert rows["staging_orders->customer"]["n_violations"] == n_corrupt > 0
    assert rows["lineitem->orders"]["n_violations"] == 0


def test_bm25_matches_reference_recompute(spark):
    """Top-20 BM25 must equal a pure-Python recomputation (rank_bm25-style
    reference formula) on the same corpus."""
    import math

    from engine.tables import load

    docs = [
        (r["doc_id"], r["text"].split(" "))
        for r in load(spark, SF_DIR, "documents").collect()
    ]
    n = len(docs)
    avgdl = sum(len(t) for _, t in docs) / n
    terms = ("table", "join", "spark")
    dfs = {t: sum(1 for _, toks in docs if t in toks) for t in terms}
    scored = []
    for doc_id, toks in docs:
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            idf = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            s += idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len(toks) / avgdl))
        if any(t in toks for t in terms):
            scored.append((round(s, 6), doc_id))
    expected = sorted(scored, key=lambda x: (-x[0], x[1]))[:20]
    got = [
        (r["score"], r["doc_id"])
        for r in _q("text_bm25_rank")(spark, SF_DIR).collect()
    ]
    assert [(s, d) for s, d in expected] == [
        (round(s, 6), d) for s, d in got
    ]


def test_pmi_pairs_are_corpus_bigrams(spark):
    """Every reported pair must actually be an adjacent bigram with the
    stated count, and PMI must be finite."""
    import math

    from engine.tables import load

    from collections import Counter

    big = Counter()
    for r in load(spark, SF_DIR, "documents").collect():
        toks = r["text"].split(" ")
        big.update(zip(toks, toks[1:]))
    rows = _q("text_cooccurrence_pmi")(spark, SF_DIR).collect()
    assert len(rows) == 30
    for r in rows:
        assert big[(r["w1"], r["w2"])] == r["n_pair"]
        assert math.isfinite(r["pmi"])


def test_sql_udf_plan_identical_to_inline(spark):
    """SQL UDFs must inline: the optimized plan must contain no UDF node
    and match the hand-written expression's aggregate shape."""
    df = _q("sql_udf_sql_function")(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_session_variable_pushdown_survives(spark):
    """The variable-bound filter must still reach the parquet scan."""
    df = _q("sql_session_variable")(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "150000" in plan, plan


def test_dynamic_overwrite_preserves_other_partitions(spark):
    """After the urgent-partition rewrite, untouched priorities must carry
    their ORIGINAL totals and urgent exactly double."""
    from engine.tables import load

    base = {
        r["o_orderpriority"]: (r["n"], r["t"])
        for r in load(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("t"))
        .collect()
    }
    got = {
        r["o_orderpriority"]: (r["n"], r["total"])
        for r in _q("etl_partition_overwrite_dynamic")(spark, SF_DIR).collect()
    }
    assert set(got) == set(base)
    for prio, (n, t) in base.items():
        if prio == "1-URGENT":
            assert got[prio][0] == n and abs(got[prio][1] - round(2 * t, 2)) < 0.02
        else:
            assert got[prio] == (n, t)


def test_recursive_glob_ignores_decoy_and_finds_nested(spark):
    from engine.tables import load

    n = load(spark, SF_DIR, "documents").count()
    rows = _q("scan_recursive_glob")(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in rows) == n


def test_rag_index_chunks_are_deduped_and_positive(spark):
    """Every emitted chunk reference must (a) point at a real chunk, (b)
    be the FIRST occurrence of its text corpus-wide, (c) carry a positive
    score containing at least one query term."""
    from engine.tables import load

    refs = _q("pipeline_rag_index")(spark, SF_DIR).collect()
    assert len(refs) == 50
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load(spark, SF_DIR, "documents").collect()
    }
    first_seen = {}
    for doc_id in sorted(docs):
        toks = docs[doc_id]
        for k in range(len(toks) // 10):
            chunk = " ".join(toks[k * 10 : (k + 1) * 10])
            first_seen.setdefault(chunk, (doc_id, k + 1))
    for r in refs:
        toks = docs[r["doc_id"]]
        k = r["chunk_idx"]
        chunk = " ".join(toks[(k - 1) * 10 : k * 10])
        assert first_seen[chunk] == (r["doc_id"], k), "not the keeper"
        assert r["score"] > 0
        assert any(t in chunk.split(" ") for t in ("spark", "join", "fast"))
