"""One benchmark run: a fresh Spark application, like one spark-submit job.

``perfbench/run.py`` starts this process with a JSON spec and reads the JSON
result it writes; it is not meant to be started by hand. The process:

1. builds the session (``engine.session.get_spark``), imports the operator
   registry (``engine.registry.collect``) and runs one unmeasured warm-up
   key, which together are the set-up;
2. runs passes over the workload's keys in a closed loop with one client,
   each pass in its own seeded order: the cold pass, then
   ``WARM_PASSES`` warm passes; the measuring window only caps them, so
   no pass starts once it is spent. Each query is
   timed as the unmemoized operator call (the build, including any Spark
   jobs the operator runs eagerly) plus ``toPandas`` (the action);
3. checks every output against its oracle answer after each pass, outside
   the timed region;
4. in a traced run, alternates traced and untraced warm passes and reads
   Spark's status stores after each traced pass.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import hostproc  # noqa: E402
from perfbench.report import WARM_PASSES  # noqa: E402
from perfbench.stats import pass_orders  # noqa: E402
from perfbench.trace import Span, SparkStores, Tracer, self_times  # noqa: E402

# Warms the JVM's scan, codegen and collect paths before the first timed
# pass; it belongs to no workload.
WARMUP_KEY = "agg_count_distinct"


def _files_since(root: str, since_ns: int) -> tuple[int, int]:
    """Files under ``root`` written at or after ``since_ns``, and their bytes."""
    n = size = 0
    for d, _, names in os.walk(root):
        for name in names:
            try:
                st = os.stat(os.path.join(d, name))
            except OSError:
                continue  # removed while walking
            if st.st_mtime_ns >= since_ns:
                n += 1
                size += st.st_size
    return n, size


def stream_listener(events: list):
    """A StreamingQueryListener appending (arrival, trigger seconds, state
    rows) to ``events`` for each streaming progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append((
                time.perf_counter(),
                p.durationMs.get("triggerExecution", 0) / 1e3,
                sum(s.numRowsTotal for s in p.stateOperators),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


@dataclass
class Result:
    key: str
    qid: str
    span: Span
    output: object
    error: str | None
    marks: list[tuple[int, float]]


def run_pass(tracer: Tracer, p: int, order: list[str], build, action,
             modules: dict[str, str], mark=None) -> tuple[Span, list[Result]]:
    """One closed-loop pass: ``build(key)`` then ``action(df)`` per key, each
    phase in its own span. A query that raises is recorded with its error and
    the pass goes on. ``mark(qid, key)``, given in traced passes, notes where
    each phase starts and the query ends."""
    results = []
    with tracer.span(f"pass{p}", "pass", p=p, traced=mark is not None) as pspan:
        for i, key in enumerate(order):
            qid = f"{p}.{i}"
            marks: list[tuple[int, float]] = []
            err = out = None
            with tracer.span(key, "query", pspan, qid, module=modules[key]) as q:
                try:
                    if mark:
                        marks.append(mark(qid, key))
                    with tracer.span("build", "operators", q, qid):
                        df = build(key)
                    if mark:
                        marks.append(mark(qid, key))
                    with tracer.span("action", "spark", q, qid):
                        out = action(df)
                except Exception as ex:  # counted and reported; the run goes on
                    err = f"{type(ex).__name__}: {str(ex).splitlines()[0][:300] if str(ex) else ''}"
                if mark:
                    while len(marks) < 3:
                        marks.append(mark(qid, key))
            results.append(Result(key, qid, q, out, err, marks))
    return pspan, results


def verify_pass(p: int, results: list[Result], answers: dict, check) -> tuple[list, list]:
    """Check each output with ``check(output, answer)``, which returns (what
    differs or None, exact match); returns the pass's latency samples and its
    failures (raised or mismatched queries)."""
    samples, failures = [], []
    for r in results:
        err, exact = r.error, False
        if err is None:
            problem, exact = check(r.output, answers[r.key])
            err = f"mismatch: {problem}" if problem else None
        samples.append({"key": r.key, "pass": p, "qid": r.qid, "sid": r.span.sid,
                        "wall_s": r.span.dur, "ok": err is None, "exact": exact})
        if err is not None:
            failures.append({"key": r.key, "pass": p, "error": err})
            print(f"perfbench: {r.key} pass {p} FAILED: {err}", file=sys.stderr)
    return samples, failures


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    keys, sf_dir, trace = spec["keys"], spec["sf_dir"], spec["trace"]
    tracer = Tracer()

    with tracer.span("setup", "setup") as setup:
        with tracer.span("session.get_spark", "session", setup):
            from engine.session import get_spark

            spark = get_spark(f"perfbench-{spec['workload']}")
            spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("registry.collect", "registry", setup):
            from engine.registry import collect

            queries, _ = collect()
        from scripts.driver_sim import collect_pdf

        with tracer.span("registry.warmup", "registry", setup):
            # A failed warm-up fails the run: no silent change of method.
            collect_pdf(queries[WARMUP_KEY].__wrapped__(spark, sf_dir))
    t_ready = time.time()

    from perfbench import oracle

    answers = oracle.load(spec["oracle_dir"], keys)
    fns = {k: queries[k].__wrapped__ for k in keys}
    modules = {k: fns[k].__module__ for k in keys}
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    stores = SparkStores(spark) if trace else None
    stream_events: list = []
    if trace:
        listener = stream_listener(stream_events)
        spark.streams.addListener(listener)
        stores.settle()
        stores.new_sql()  # skip the set-up's executions

    def mark(qid: str, key: str) -> tuple[int, float]:
        sc.setJobGroup(f"perfbench:{qid}", key)
        return stores.next_job_id(), time.time()

    passes: list[dict] = []
    samples: list[dict] = []
    failures: list[dict] = []
    orders = pass_orders(keys, spec["seed"])
    p = 0
    measured = 0.0  # pass time so far; checks and reads between passes excluded
    # Passes 0-3 always run: a traced run needs traced and untraced warm passes.
    while p <= WARM_PASSES and (p < 4 or measured < spec["seconds"]):
        traced = trace and p % 2 == 0  # the cold pass, then warm passes 2, 4, ...
        cpu0 = hostproc.cpu_split(jvm_pid)
        jif0 = hostproc.cpu_jiffies()
        load0 = hostproc.loadavg_1m()
        wall_ns0 = time.time_ns()
        pspan, results = run_pass(
            tracer, p, next(orders), lambda k: fns[k](spark, sf_dir), collect_pdf,
            modules, mark if traced else None,
        )
        measured += pspan.dur
        cpu1 = hostproc.cpu_split(jvm_pid)
        files, nbytes = _files_since(spec["tmp_dir"], wall_ns0)
        rec = {
            "pass": p, "traced": traced, "wall_s": pspan.dur,
            "cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu1},
            "steal_pct": hostproc.steal_pct(jif0, hostproc.cpu_jiffies()),
            "loadavg_1m": [load0, hostproc.loadavg_1m()],
            "files_written": files, "bytes_written": nbytes,
            "start": pspan.start, "end": pspan.end,
        }
        # Outside the timed region: check every output.
        s, f = verify_pass(p, results, answers, oracle.check)
        samples += s
        failures += f
        if traced:
            rec["queries"] = _read_counters(stores, results)
        passes.append(rec)
        p += 1

    peak_rss_mb = {
        "jvm": hostproc.peak_rss_mb(jvm_pid),
        "pydriver": hostproc.peak_rss_mb(os.getpid()),
    }
    if trace:
        spark.streams.removeListener(listener)
        for rec in passes:
            rec["stream"] = _stream_counters(stream_events, rec, passes)

    out = {
        "t_ready": t_ready,
        "attempted": len(samples),
        "failures": failures,
        "passes": passes,
        "samples": samples,
        "modules": modules,
        "peak_rss_mb": peak_rss_mb,
        "spark_confs": dict(sc.getConf().getAll()),
        "sql_confs": {
            k: spark.conf.get(k) for k in (
                "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.execution.arrow.pyspark.enabled",
            )
        },
        "cores": sc.defaultParallelism,
    }
    if trace:
        selfs = self_times(tracer.spans)
        out["spans"] = [
            {**s.__dict__, "self_s": selfs[s.sid]} for s in tracer.spans
        ]
    with open(spec["out_path"], "w") as fh:
        json.dump(out, fh)
    spark.stop()
    return 0


def _read_counters(stores: SparkStores, results: list[Result]) -> dict[str, dict]:
    """Build and action counters of each query of one traced pass: the jobs
    each phase started, plus the SQL executions submitted within it."""
    stores.settle()
    execs = stores.new_sql()
    out = {}
    for r in results:
        (j0, t0), (j1, t1), (j2, t2) = r.marks
        phases = {}
        for phase, (ja, jb, ta, tb) in (("build", (j0, j1, t0, t1)),
                                        ("action", (j1, j2, t1, t2))):
            c = stores.jobs(ja, jb)
            for _, submitted, sql in execs:
                if ta <= submitted < tb:
                    for k, v in sql.items():
                        c[k] = c.get(k, 0.0) + v
            phases[phase] = dict(c)
        out[r.qid] = phases
    return out


def _stream_counters(events: list, rec: dict, passes: list[dict]) -> dict:
    """Progress events that arrived between this pass's start and the next's."""
    nxt = [r["start"] for r in passes if r["start"] > rec["start"]]
    end = min(nxt) if nxt else float("inf")
    evs = [e for e in events if rec["start"] <= e[0] < end]
    return {
        "microbatches": len(evs),
        "batch_s": sum(e[1] for e in evs),
        "state_rows": sum(e[2] for e in evs),
    }


if __name__ == "__main__":
    try:
        raise SystemExit(main(sys.argv[1]))
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        raise SystemExit(3)
