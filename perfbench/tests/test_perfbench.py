"""Tests of the benchmark's own logic; none of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys
from itertools import islice

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus, job, oracle, report  # noqa: E402
from perfbench.stats import pass_orders, tail  # noqa: E402
from perfbench.trace import Span, Tracer, parse_sql_metric, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

KEYS = ["k1", "k2", "k3", "boom"]


def _run_passes(n_passes: int, traced_every_other: bool = False) -> dict:
    """A job record from fake queries: ``boom`` raises, ``k3`` returns a
    wrong answer, the others match."""
    tracer = Tracer()
    answers = {k: pd.DataFrame({"x": [1.0, 2.0]}) for k in KEYS}
    outputs = {
        "k1": pd.DataFrame({"x": [2.0, 1.0]}),
        "k2": pd.DataFrame({"x": [1.0, 2.000001]}),
        "k3": pd.DataFrame({"x": [1.0, 3.0]}),
    }

    def build(key):
        if key == "boom":
            raise RuntimeError("operator failed\nwith a long trace")
        return outputs[key]

    jobs = iter(range(10_000))
    passes, samples, failures = [], [], []
    orders = pass_orders(KEYS, 7)
    for p in range(n_passes):
        traced = traced_every_other and p % 2 == 0
        mark = (lambda qid, key: (next(jobs), 0.0)) if traced else None
        pspan, results = job.run_pass(tracer, p, next(orders), build, lambda df: df,
                                      {k: "engine.fake" for k in KEYS}, mark)
        s, f = job.verify_pass(p, results, answers, oracle.check)
        samples += s
        failures += f
        rec = {
            "pass": p, "traced": traced, "wall_s": pspan.dur,
            "cpu_s": {"jvm": 1.0, "pydriver": 0.5, "pyworker": 0.25},
            "steal_pct": 0.1, "loadavg_1m": [0.5, 0.6],
            "files_written": 2, "bytes_written": 10,
            "start": pspan.start, "end": pspan.end,
            "stream": {"microbatches": 1, "batch_s": 0.1, "state_rows": 5},
        }
        if traced:
            rec["queries"] = {
                r.qid: {"build": {"spark.jobs": 1.0}, "action": {"spark.jobs": 2.0,
                                                                 "sink.files": 1.0}}
                for r in results
            }
        passes.append(rec)
    with tracer.span("session.get_spark", "session"):
        pass
    for name in ("registry.collect", "registry.warmup"):
        with tracer.span(name, "registry"):
            pass
    selfs = self_times(tracer.spans)
    return {
        "t_ready": 100.0, "attempted": len(samples), "failures": failures,
        "passes": passes, "samples": samples,
        "modules": {k: "engine.fake" for k in KEYS},
        "peak_rss_mb": {"jvm": 1000.0, "pydriver": 200.0}, "cores": 4,
        "spans": [{**s.__dict__, "self_s": selfs[s.sid]} for s in tracer.spans],
    }


def test_raising_key_is_counted_and_the_run_goes_on():
    out = _run_passes(3)
    assert out["attempted"] == 12
    bad = {(f["key"], f["error"].split(":")[0]) for f in out["failures"]}
    assert bad == {("boom", "RuntimeError"), ("k3", "mismatch")}
    assert len(out["failures"]) == 6
    # every key ran in every pass, including those after a failure
    assert sorted(s["key"] for s in out["samples"]) == sorted(KEYS * 3)
    m, _ = report.per_layer(_run_passes(4, traced_every_other=True))
    assert m["verify.failed_frac"] == pytest.approx(0.5)
    assert m["verify.tolerance_only"] == 4  # k2 matches only within tolerance


def test_end_to_end_metrics_all_present_with_units():
    m, notes = report.end_to_end({**_run_passes(3), "setup_s": 10.0})
    assert set(m) == set(report.END_TO_END)
    assert m["setup_s"] == pytest.approx(10.0)
    assert m["cpu_s"] == pytest.approx(1.75)
    assert notes["warm_passes"] == 2
    assert notes["query_samples"] == 8 and notes["query_tail_percentile"] == 100.0


def test_per_layer_metrics_all_present():
    m, rows = report.per_layer(_run_passes(4, traced_every_other=True))
    assert set(m) == set(report.PER_LAYER)
    assert m["operators.build_jobs"] == 4 and m["spark.jobs"] == 12
    assert m["sink.files"] == 4 and m["sink.files_left"] == 2
    assert [r["key"] for r in rows] == sorted(KEYS)
    lines = report.layer_table("w", m, rows)
    assert len(lines) == 1 + len(report.PER_LAYER) + 1 + len(KEYS)


def test_benchmark_json_declares_every_metric_and_workload():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER


def test_self_time_on_a_synthetic_span_tree():
    def span(sid, parent, start, end):
        return Span(sid, parent, f"s{sid}", "x", start, end)

    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),   # overlaps 2: union of 1 and 2 is 1..5
        span(2, 0, 3.0, 5.0),
        span(3, 0, 8.0, 12.0),  # clipped to the parent: covers 8..10
        span(4, 1, 1.5, 2.0),
        span(5, 3, 20.0, 21.0),  # outside its parent: covers nothing
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(0.5)


def test_query_phases_reconcile_with_query_wall():
    out = _run_passes(2)
    for q in report.query_phases(out).values():
        assert q["build_s"] + q["action_s"] + q["gap_s"] == pytest.approx(q["wall_s"])


def test_seed_fixes_key_order():
    keys = [f"k{i}" for i in range(20)]
    a = list(islice(pass_orders(keys, 3), 5))
    assert a == list(islice(pass_orders(keys, 3), 5))
    assert a != list(islice(pass_orders(keys, 4), 5))
    assert all(sorted(o) == sorted(keys) for o in a)
    full = list(islice(pass_orders(keys, 3), len(keys)))
    for pos in range(len(keys)):  # every key once in every position
        assert sorted(o[pos] for o in full) == sorted(keys)


def test_tail_percentile():
    assert tail(list(range(1, 101))) == (90, 90.0, 100)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


@pytest.mark.parametrize("text,kind,value", [
    ("total (min, med, max (stageId: taskId))\n3.0 s (867 ms, 913 ms, 1.2 s (stage 5.0: task 6))",
     "timing", 3.0),
    ("57 ms", "timing", 0.057),
    ("9 ms", "nsTiming", 0.009),
    ("1.5 m", "timing", 90.0),
    ("total (min, med, max (stageId: taskId))\n257.0 MiB (64.2 MiB, ...)", "size", 257.0 * 2**20),
    ("920.0 B", "size", 920.0),
    ("600,000", "sum", 600000.0),
])
def test_parse_sql_metric(text, kind, value):
    assert parse_sql_metric(text, kind) == pytest.approx(value)


def test_check_tolerance():
    want = pd.DataFrame({"k": [1, 2], "v": [40792.0, 80085.55], "s": ["a", "b"]})
    # an ulp-level difference, in any row order, matches the hash exactly
    got = want.assign(v=[np.nextafter(40792.0, 0), 80085.55])
    assert oracle.check(got, want) == (None, True)
    assert oracle.check(got.iloc[::-1], want) == (None, True)
    # a 7th-digit flip within the relative tolerance passes, not exactly
    got = want.assign(v=[40792.01, 80085.55])
    assert oracle.check(got, want) == (None, False)
    assert oracle.check(want.assign(v=[40792.0, 80085.7]), want)[0].startswith("column v")
    assert oracle.check(want.assign(s=["a", "c"]), want)[0].startswith("column s")
    assert oracle.check(want.iloc[:1], want)[0].startswith("rows")
    assert oracle.check(want.rename(columns={"s": "t"}), want)[0].startswith("columns")


# SHA-256 of each file of the engine's reference sf0.1 test corpus (seed 42).
REFERENCE_CORPUS_SHA256 = {
    "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
    "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
}


def test_corpus_is_the_reference_corpus(tmp_path):
    """The generated corpus is byte for byte the reference corpus: the same
    values, physical types (events.ts and the date columns as parquet
    microsecond timestamps) and file metadata. Byte equality holds for the
    pyarrow the reference was written with (16.1.0, which it records)."""
    import hashlib

    import pyarrow
    import pyarrow.parquet as pq

    if pyarrow.__version__ != "16.1.0":
        pytest.skip(f"pyarrow {pyarrow.__version__} writes other bytes")
    corpus.write(str(tmp_path))
    assert sorted(REFERENCE_CORPUS_SHA256) == sorted(corpus.TABLES)
    for name, want in REFERENCE_CORPUS_SHA256.items():
        path = tmp_path / f"{name}.parquet"
        assert hashlib.sha256(path.read_bytes()).hexdigest() == want, name
    ts = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
    assert ts.name == "ts"
    assert json.loads(ts.logical_type.to_json())["timeUnit"] == "microseconds"
