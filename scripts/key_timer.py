"""Isolated per-key timer for same-boot optimization A/Bs (r15 methodology,
carried from the r14 notes): one warm-up key first (absorbs the session's
JIT/C2 warm-up so the first measured key isn't taxed), then N fresh-plan
runs per key via the UNMEMOIZED fn (full plan build + execution, matching
bench.py's sweep estimator), reporting min and median-of-runs-2..N plus a
per-run hypervisor-steal%% stamp so a co-tenant burst is self-diagnosing.

Usage:
  python scripts/key_timer.py KEY [KEY ...] [--runs 6] [--sf /root/testdata/sf0.1]
         [--warm-key scan_parquet] [--json OUT.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _steal_now  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm-key", default="scan_parquet")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    from engine.registry import collect
    from engine.session import get_spark, tune

    spark = get_spark("key-timer")
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    queries, _ = collect()

    # Warm-up: one unrelated key so measured keys don't pay session C2 warm-up.
    warm = getattr(queries[args.warm_key], "__wrapped__", queries[args.warm_key])
    spark.sparkContext.setJobDescription(f"warmup:{args.warm_key}")
    warm(spark, args.sf).count()

    out: dict = {"sf": args.sf, "runs": args.runs, "keys": {}}
    for key in args.keys:
        fresh = getattr(queries[key], "__wrapped__", queries[key])
        times, steals = [], []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{key}:run{i}")
            s0 = _steal_now()
            t0 = time.perf_counter()
            fresh(spark, args.sf).count()
            dt = time.perf_counter() - t0
            s1 = _steal_now()
            times.append(round(dt, 4))
            steals.append(
                round(100.0 * (s1[0] - s0[0]) / (s1[1] - s0[1]), 2)
                if s0 and s1 and s1[1] > s0[1]
                else None
            )
        tail = sorted(times[1:]) if len(times) > 1 else sorted(times)
        rec = {
            "times": times,
            "steal_pct": steals,
            "min": min(times),
            "med_tail": tail[len(tail) // 2],
        }
        out["keys"][key] = rec
        print(f"{key}: min={rec['min']:.3f} med_tail={rec['med_tail']:.3f} "
              f"runs={times} steal={steals}", flush=True)
    try:
        la = os.getloadavg()
        out["loadavg"] = [round(x, 2) for x in la]
    except OSError:
        pass
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1)
    print(json.dumps({k: [v["min"], v["med_tail"]] for k, v in out["keys"].items()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
