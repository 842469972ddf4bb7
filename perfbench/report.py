"""Metrics of one run, computed from what ``job.py`` recorded.

``END_TO_END`` and ``PER_LAYER`` name every metric with its unit; they are
the lists ``BENCHMARK.json`` declares. End-to-end timings are medians over
the run's warm passes, except ``cold_batch_s`` (the first pass) and
``setup_s``.
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from perfbench.stats import tail

END_TO_END = {
    "setup_s": "s",
    "cold_batch_s": "s",
    "batch_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "cpu_s": "s",
}

# Spark counters summed per query phase (see trace.SparkStores).
_SPARK = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.scan_s": "s", "spark.scan_bytes": "B",
    "spark.broadcast_collect_s": "s", "spark.broadcast_build_s": "s",
    "spark.broadcast_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_s": "s", "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "B",
    "pyworker.boot_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
    "pyworker.bytes_sent": "B", "pyworker.bytes_received": "B",
    "sink.output_bytes": "B", "sink.files": "count",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.collect_s": "s",
    "registry.warmup_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.action_s": "s",
    **{k: v for k, v in _SPARK.items() if k.startswith("spark.")},
    "spark.core_busy_ratio": "ratio",
    **{k: v for k, v in _SPARK.items() if k.startswith("pyworker.")},
    "pyworker.cold_boot_s": "s",
    "sink.output_bytes": "B",
    "sink.files": "count",
    "sink.bytes_per_file": "B",
    "sink.files_left": "count",
    "sink.bytes_left": "B",
    "stream.microbatches": "count",
    "stream.batch_s": "s",
    "stream.state_rows": "count",
    "proc.jvm_cpu_s": "s",
    "proc.pydriver_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "proc.jvm_rss_mb": "MB",
    "proc.pydriver_rss_mb": "MB",
    "proc.steal_pct": "%",
    "proc.loadavg_1m": "count",
    "verify.checked": "count",
    "verify.failed": "count",
    "verify.failed_frac": "ratio",
    "verify.tolerance_only": "count",
    "trace.overhead_s": "s",
    "trace.reconcile_gap_s": "s",
}


# Warm passes in a run, unless the measuring window runs out first: a fixed
# amount of work, so that runs compare pass for pass (the JIT keeps speeding
# passes up for several more). A traced run alternates untraced and traced
# warm passes and so has one of each after the first.
WARM_PASSES = 8


def end_to_end(out: dict) -> tuple[dict[str, float], dict]:
    """The end-to-end metrics of an untraced run, and notes printed beside
    them (the tail's percentile and sample count)."""
    warm = out["passes"][1:]
    lat = [s["wall_s"] for s in out["samples"] if s["pass"] >= 1]
    tail_v, tail_pct, n = tail(lat)
    m = {
        "setup_s": out["setup_s"],
        "cold_batch_s": out["passes"][0]["wall_s"],
        "batch_s": median([r["wall_s"] for r in warm]),
        "query_p50_s": median(lat),
        "query_tail_s": tail_v,
        "cpu_s": median([sum(r["cpu_s"].values()) for r in warm]),
    }
    return m, {"query_tail_percentile": tail_pct, "query_samples": n,
               "warm_passes": len(warm)}


def query_phases(out: dict) -> dict[str, dict[str, float]]:
    """Per query id: wall, build and action self time, and the query's own
    self time (the gap the two phases do not cover)."""
    q: dict[str, dict[str, float]] = {}
    for s in out["spans"]:
        if s["layer"] == "query":
            q[s["qid"]] = {"wall_s": s["end"] - s["start"], "gap_s": s["self_s"],
                           "key": s["name"], "build_s": 0.0, "action_s": 0.0}
    for s in out["spans"]:
        if s["name"] in ("build", "action") and s["qid"] is not None:
            q[s["qid"]][f"{s['name']}_s"] = s["self_s"]
    return q


def per_layer(out: dict) -> tuple[dict[str, float], list[dict]]:
    """The per-layer metrics of a traced run, and a per-key breakdown.

    Pass-level values are medians over the traced warm passes; set-up values
    come from the set-up spans; ``pyworker.cold_boot_s`` is the cold pass's."""
    spans = {s["name"]: s for s in out["spans"] if s["layer"] in ("session", "registry")}
    phases = query_phases(out)
    passes = out["passes"]
    traced_warm = [r for r in passes if r["traced"] and r["pass"] > 0]
    cores = out["cores"]

    def pass_values(rec: dict) -> dict[str, float]:
        v: dict[str, float] = defaultdict(float)
        for qid, ph in rec["queries"].items():
            v["operators.build_s"] += phases[qid]["build_s"]
            v["spark.action_s"] += phases[qid]["action_s"]
            v["operators.build_jobs"] += ph["build"].get("spark.jobs", 0.0)
            for phase in ("build", "action"):
                for k, x in ph[phase].items():
                    v[k] += x
        v["spark.core_busy_ratio"] = v["spark.executor_run_s"] / (rec["wall_s"] * cores)
        v["sink.bytes_per_file"] = (
            v["sink.output_bytes"] / v["sink.files"] if v["sink.files"] else 0.0
        )
        v["sink.files_left"] = rec["files_written"]
        v["sink.bytes_left"] = rec["bytes_written"]
        for k in ("microbatches", "batch_s", "state_rows"):
            v[f"stream.{k}"] = rec["stream"][k]
        for k in ("jvm", "pydriver", "pyworker"):
            v[f"proc.{k}_cpu_s"] = rec["cpu_s"][k]
        return v

    per_pass = [pass_values(r) for r in traced_warm]
    m: dict[str, float] = {}
    for name in PER_LAYER:
        m[name] = median([v.get(name, 0.0) for v in per_pass])
    cold = pass_values(passes[0])
    m["pyworker.cold_boot_s"] = cold["pyworker.boot_s"]
    m["session.get_spark_s"] = spans["session.get_spark"]["end"] - spans["session.get_spark"]["start"]
    for k in ("registry.collect", "registry.warmup"):
        m[f"{k}_s"] = spans[k]["end"] - spans[k]["start"]
    m["proc.jvm_rss_mb"] = out["peak_rss_mb"]["jvm"]
    m["proc.pydriver_rss_mb"] = out["peak_rss_mb"]["pydriver"]
    m["proc.steal_pct"] = max(r["steal_pct"] for r in passes)
    m["proc.loadavg_1m"] = max(max(r["loadavg_1m"]) for r in passes)
    failed = len(out["failures"])
    m["verify.checked"] = out["attempted"]
    m["verify.failed"] = failed
    m["verify.failed_frac"] = failed / out["attempted"]
    m["verify.tolerance_only"] = sum(s["ok"] and not s["exact"] for s in out["samples"])
    # Traced against untraced warm passes, leaving out the first warm pass,
    # which is still warming up and is never traced.
    m["trace.overhead_s"] = (
        median([r["wall_s"] for r in traced_warm])
        - median([r["wall_s"] for r in passes if not r["traced"] and r["pass"] > 1])
    )
    traced_q = [q for qid, q in phases.items()
                if any(qid in r["queries"] for r in traced_warm)]
    m["trace.reconcile_gap_s"] = max(q["gap_s"] for q in traced_q)

    per_key: dict[str, dict] = defaultdict(lambda: defaultdict(list))
    for r in traced_warm:
        for qid, ph in r["queries"].items():
            q = phases[qid]
            row = per_key[q["key"]]
            row["wall_s"].append(q["wall_s"])
            row["build_s"].append(q["build_s"])
            row["action_s"].append(q["action_s"])
            row["jobs"].append(ph["build"].get("spark.jobs", 0) + ph["action"].get("spark.jobs", 0))
    cold_wall = {q["key"]: q["wall_s"] for qid, q in phases.items() if qid.startswith("0.")}
    rows = [
        {"key": k, "module": out["modules"][k], "cold_s": cold_wall[k],
         **{c: median(v) for c, v in cols.items()}}
        for k, cols in sorted(per_key.items())
    ]
    return m, rows


def layer_table(workload: str, m: dict[str, float], rows: list[dict]) -> list[str]:
    """The per-workload, per-layer table printed at the end of a traced run."""
    lines = [f"{'workload':<11} {'layer':<9} {'metric':<28} {'value':>14} unit"]
    for name, unit in PER_LAYER.items():
        layer, _, metric = name.partition(".")
        lines.append(f"{workload:<11} {layer:<9} {metric:<28} {m[name]:>14.4f} {unit}")
    lines.append(
        f"{'key':<34} {'module':<20} {'cold_s':>8} {'wall_s':>8} {'build_s':>8} "
        f"{'action_s':>8} {'jobs':>5}"
    )
    for r in rows:
        lines.append(
            f"{r['key']:<34} {r['module']:<20} {r['cold_s']:>8.3f} {r['wall_s']:>8.3f} "
            f"{r['build_s']:>8.3f} {r['action_s']:>8.3f} {r['jobs']:>5.0f}"
        )
    return lines
