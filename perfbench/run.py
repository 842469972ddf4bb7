"""Run one benchmark workload and print its metrics.

From the repository root:

    python3 perfbench/run.py --workload olap_batch --seed 1 --seconds 60 --trace 0

The first run in a checkout builds the inputs under ``.bench_build/perfbench``:
the sf0.1 corpus (``perfbench/corpus.py``) and every key's DuckDB oracle
answer. Each run then starts ``perfbench/job.py`` as a fresh process with
its own temporary root (its ``TMPDIR``, Spark local dirs and working
directory), which is removed when the run ends.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is a JSON context record (host stamp, per-pass steal and
load, effective Spark confs, failures); a traced run also prints its
per-layer table and writes its spans to ``.bench_build/perfbench/traces``.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The job must end well inside the 180 s a run may take.
JOB_TIMEOUT_S = 160


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def sources_digest() -> str:
    """Digest of the corpus generator, the workload key lists, the output
    check (``oracle.py`` and the ``scripts/driver_sim.py`` canonicalisation)
    and the engine sources. It keys the built inputs and stamps every run's
    output, also in a checkout that is not a git repository."""
    h = hashlib.sha256()
    paths = [os.path.join(HERE, f) for f in ("corpus.py", "oracle.py", "workloads.py")]
    paths.append(os.path.join(ROOT, "scripts", "driver_sim.py"))
    engine = os.path.join(ROOT, "engine")
    paths += sorted(os.path.join(engine, f) for f in os.listdir(engine) if f.endswith(".py"))
    for path in paths:
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(build_dir: str) -> tuple[str, str, str]:
    """Corpus and oracle answers for every workload, built once per checkout;
    returns their directories and the sources digest they were built from."""
    sf_dir = os.path.join(build_dir, "sf0.1")
    oracle_dir = os.path.join(build_dir, "oracle")
    stamp_path = os.path.join(build_dir, "built.txt")
    digest = sources_digest()
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            with open(stamp_path) as fh:
                if fh.read() == digest:
                    return sf_dir, oracle_dir, digest
        except OSError:
            pass
        from engine.registry import collect

        from perfbench import corpus, oracle
        from perfbench.workloads import WORKLOADS

        keys = sorted({k for w in WORKLOADS.values() for k in w["keys"]})
        _, oracles = collect()
        missing = [k for k in keys if k not in oracles]
        if missing:
            raise KeyError(f"workload keys without an oracle: {missing}")
        print("perfbench: building corpus and oracle answers", file=sys.stderr)
        for d in (sf_dir, oracle_dir):
            shutil.rmtree(d, ignore_errors=True)
        corpus.write(sf_dir)
        oracle.build(sf_dir, oracle_dir, oracles, keys)
        with open(stamp_path, "w") as fh:
            fh.write(digest)
    return sf_dir, oracle_dir, digest


def _stop_group(pgid: int) -> None:
    """Kill what is left of the job's process group and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _remove_stale_runs(runs_dir: str) -> None:
    """Remove run roots left by harness processes that no longer exist."""
    os.makedirs(runs_dir, exist_ok=True)
    for name in os.listdir(runs_dir):
        try:
            os.kill(int(name.split("-")[1]), 0)
        except (IndexError, ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(runs_dir, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by someone else


def run_job(spec: dict, run_root: str) -> dict:
    """Start the job process, wait for it, and return its record, with the
    set-up time from spawn to query-ready as ``setup_s``."""
    env = dict(os.environ)
    env.update(
        TMPDIR=spec["tmp_dir"],
        SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"),
        # Python workers import ``engine`` whatever the working directory.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        # Keep the JVM's temporary files (native libraries, perf data) in the run root.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={spec['tmp_dir']} -XX:-UsePerfData",
    )
    spec_path = os.path.join(run_root, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    t_spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "job.py"), spec_path],
        cwd=run_root, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=JOB_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if rc != 0:
        raise RuntimeError(
            f"job for {spec['workload']} "
            + ("timed out" if rc is None else f"exited with code {rc}")
        )
    with open(spec["out_path"]) as fh:
        out = json.load(fh)
    out["setup_s"] = out["t_ready"] - t_spawn
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its job and removes its temporary root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isfile(os.path.join(ROOT, "engine", "registry.py")):
        return _fail(f"no engine sources in {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench import hostproc, report
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    # Building imports the engine, which may create temporary files: keep
    # them inside the checkout too.
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(build_dir, "tmp")
    tempfile.tempdir = None
    sf_dir, oracle_dir, digest = ensure_built(build_dir)

    runs_dir = os.path.join(build_dir, "runs")
    _remove_stale_runs(runs_dir)
    run_root = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=runs_dir)
    try:
        spec = {
            "workload": args.workload,
            "keys": WORKLOADS[args.workload]["keys"],
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "sf_dir": sf_dir,
            "oracle_dir": oracle_dir,
            "tmp_dir": os.path.join(run_root, "tmp"),
            "out_path": os.path.join(run_root, "out.json"),
        }
        os.makedirs(spec["tmp_dir"])
        out = run_job(spec, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": hostproc.host_stamp(ROOT, digest),
        "cores": out["cores"],
        "passes": [
            {k: r[k] for k in ("pass", "traced", "wall_s", "steal_pct", "loadavg_1m")}
            for r in out["passes"]
        ],
        "failures": out["failures"],
        "tolerance_only": sorted(
            {s["key"] for s in out["samples"] if s["ok"] and not s["exact"]}
        ),
        "spark_confs": out["spark_confs"], "sql_confs": out["sql_confs"],
    }
    if args.trace:
        metrics, rows = report.per_layer(out)
        units = report.PER_LAYER
        for line in report.layer_table(args.workload, metrics, rows):
            print(line)
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"context": context, "spans": out["spans"],
                       "passes": out["passes"]}, fh)
    else:
        metrics, notes = report.end_to_end(out)
        units = report.END_TO_END
        context.update(notes)
    print(json.dumps(context))
    failed = len(out["failures"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": out["attempted"],
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
