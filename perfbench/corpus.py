"""Deterministic sf0.1 corpus for the benchmark.

Writes the ten tables the engine reads (TPC-H-ish star schema plus the
``events``, ``documents`` and ``embeddings`` tables), one single-row-group
snappy parquet file each. The files are byte for byte the engine's reference
sf0.1 test corpus (seed 42), so the benchmark reads the same input without
reading files outside its checkout; ``tests/test_perfbench.py`` pins the
SHA-256 of each. The corpus seed is fixed: the workload seed only permutes
key order, so every run of every workload reads the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

CORPUS_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Row counts at sf0.1.
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM = 150_000, 600_000
N_EVENTS, N_DOCS, N_VECS, EMB_DIM = 100_000, 5_000, 2_000, 64

_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# List order matters in the two lists below: choice() draws by index.
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_VOCAB = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[s]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    # 10..99-word docs over a 30-word vocabulary; then 5% of them are
    # replaced, in draw order, by a near-duplicate of some doc (" dup"
    # appended). Two picks of one source give a few exact duplicates.
    texts = [" ".join(rng.choice(_VOCAB, rng.integers(10, 100))) for _ in range(N_DOCS)]
    n_dup = N_DOCS // 20
    at = rng.choice(N_DOCS, n_dup, replace=False)
    for i, src in zip(at, rng.integers(0, N_DOCS, n_dup)):
        texts[i] = texts[src] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    # Unit-norm Gaussian vectors with an unrelated 0..9 label.
    g = rng.standard_normal((N_VECS, EMB_DIM)).astype("float32")
    labels = rng.integers(0, 10, N_VECS).astype("int32")
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": list(g),
        "label": labels,
    })


def frames() -> dict[str, pd.DataFrame]:
    """Every table of the corpus, generated from ``CORPUS_SEED``."""
    rng = np.random.default_rng(CORPUS_SEED)
    i32 = lambda a: np.asarray(a, dtype="int32")  # noqa: E731
    out = {
        "region": pd.DataFrame({
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }),
    }
    keys = np.arange(N_PART, dtype="int64")
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, N_PART), rng.choice(_PART_NOUN, N_PART)
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(_PART_TYPES, N_PART),
        "p_size": i32(rng.integers(1, 51, N_PART)),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["O", "F", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": i32(rng.integers(1, 8, N_LINEITEM)),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": np.round(rng.uniform(0.0, 0.1, N_LINEITEM), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, N_LINEITEM), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], N_LINEITEM),
        "l_linestatus": rng.choice(["O", "F"], N_LINEITEM),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", N_LINEITEM),
    })
    offset_s = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    ts = np.datetime64("2024-01-01", "ns") + (offset_s * 1e9).astype("int64").astype("timedelta64[ns]")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, 1500, N_EVENTS),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write(out_dir: str) -> None:
    """Write the corpus into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames().items():
        # Timestamps are stored as parquet microseconds whatever the frame's
        # unit; events.ts is generated in nanoseconds and truncated here.
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False,
                      compression="snappy", coerce_timestamps="us",
                      allow_truncated_timestamps=True)
