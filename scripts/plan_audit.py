"""Plan-shape audit over every registry key (r14 optimization round).

For each queries() key: build the DataFrame at sf_dir (prework included —
fixture writes / streaming replays run as they would in the sweep), capture
`.explain("formatted")` to plans/<outdir>/<key>.txt, and print one summary
line per key: Exchange count, join operators, Python-boundary nodes
(BatchEvalPython / ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas),
WholeStageCodegen span count, and whether any scan shows PushedFilters.

Usage: python scripts/plan_audit.py [sf_dir] [outdir] [key ...]
Defaults: sf0.1, plans/r14/audit. Key args restrict the audit.
"""

from __future__ import annotations

import io
import os
import re
import sys
import traceback
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUTDIR = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "plans/r14/audit")
ONLY = set(sys.argv[3:])


def main() -> int:
    os.makedirs(OUTDIR, exist_ok=True)
    from engine.registry import collect
    from engine.session import get_spark

    spark = get_spark("spark-graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = collect()

    rows = []
    for name in sorted(queries):
        if ONLY and name not in ONLY:
            continue
        fresh = getattr(queries[name], "__wrapped__", queries[name])
        try:
            spark.sparkContext.setJobDescription(f"plan-audit: {name}")
            df = fresh(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception:
            plan = "PLAN-ERROR\n" + traceback.format_exc()
        with open(os.path.join(OUTDIR, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        n_exch = len(re.findall(r"\bExchange\b", plan)) - len(
            re.findall(r"\bReusedExchange\b", plan)
        )
        n_reuse = len(re.findall(r"\bReusedExchange\b", plan))
        joins = sorted(
            set(re.findall(r"\b(\w*Join\w*)\b", plan))
            - {"Join"}
        )
        pybound = sorted(
            set(
                re.findall(
                    r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|"
                    r"FlatMapGroupsInPandas|MapInPandas|PythonMapInArrow|"
                    r"FlatMapGroupsInPandasWithState|BatchEvalPythonUDTF|"
                    r"ArrowEvalPythonUDTF)\b",
                    plan,
                )
            )
        )
        n_wsc = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
        # r15 ADVICE fix: the old first clause was a literal substring
        # test of regex source text (always False); only re.search works.
        pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
        n_sorts = len(re.findall(r"\bSort\b", plan))
        rows.append(
            f"{name}\texch={n_exch}+{n_reuse}r\twsc={n_wsc}\tsort={n_sorts}"
            f"\tpush={'Y' if pushed else '-'}"
            f"\tjoins={','.join(joins) or '-'}"
            f"\tpy={','.join(pybound) or '-'}"
            + ("\tPLAN-ERROR" if plan.startswith("PLAN-ERROR") else "")
        )
        print(rows[-1], flush=True)
    with open(os.path.join(OUTDIR, "_summary.tsv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
