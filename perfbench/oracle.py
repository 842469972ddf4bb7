"""Reference answers and the output check.

Each key's DuckDB ``oracle_sql`` runs once per corpus, when the benchmark is
built; the answers are pickled beside the corpus. Every timed output is then
checked against its answer outside the timed region, with the
canonicalisation of ``scripts/driver_sim.py``: exact on every non-float cell,
and within ``REL_TOL`` on float cells.
"""

from __future__ import annotations

import os
import pickle
import shutil

import numpy as np
import pandas as pd

from scripts.driver_sim import canon, float_flags, value_hash

# One tolerance for every key: float cells must agree to the 7 significant
# digits driver_sim hashes. The hash alone can still split two values that
# agree to 1e-15, when they sit on either side of a rounding tie; and two
# engines can round the same double differently when its shortest decimal
# form is a tie its binary value is not (Spark's round() rounds 40792.005,
# held as 40792.00499999999738, up; DuckDB's rounds it down). Such outputs
# pass, and are counted as matching only within tolerance.
REL_TOL = 1e-6
ABS_TOL = 1e-12


def build(sf_dir: str, out_dir: str, oracles: dict[str, str], keys: list[str]) -> None:
    """Run each key's oracle SQL on the corpus and pickle the answer."""
    import duckdb

    from perfbench.corpus import TABLES

    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{out_dir}.spill'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        df = con.sql(oracles[key]).df()
        with open(os.path.join(out_dir, f"{key}.pkl"), "wb") as fh:
            pickle.dump(df, fh)
    con.close()
    shutil.rmtree(f"{out_dir}.spill", ignore_errors=True)


def load(out_dir: str, keys: list[str]) -> dict[str, pd.DataFrame]:
    out = {}
    for key in keys:
        with open(os.path.join(out_dir, f"{key}.pkl"), "rb") as fh:
            out[key] = pickle.load(fh)
    return out


def _float_cols(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    return [
        c for c in sorted(a.columns)
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c])
    ]


def _ordered(raw: pd.DataFrame, can: pd.DataFrame, exact: list[str],
             floats: list[str]) -> pd.DataFrame:
    keys = [raw[c].to_numpy(dtype="float64") for c in reversed(floats)]
    keys += [can[c].to_numpy() for c in reversed(exact)]
    return can.iloc[np.lexsort(keys)] if keys else can


def check(got: pd.DataFrame, want: pd.DataFrame) -> tuple[str | None, bool]:
    """(what differs or None, whether driver_sim's value hash matched)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}", False
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}", False
    flags = float_flags(got, want)
    if value_hash(got, flags) == value_hash(want, flags):
        return None, True
    return _within_tolerance(got, want, flags), False


def _within_tolerance(got: pd.DataFrame, want: pd.DataFrame, flags: dict) -> str | None:
    floats = _float_cols(got, want)
    exact = [c for c in sorted(got.columns) if c not in floats]
    ga, wa = canon(got, flags), canon(want, flags)
    go = _ordered(got, ga, exact, floats)
    wo = _ordered(want, wa, exact, floats)
    for c in exact:
        if not np.array_equal(go[c].to_numpy(), wo[c].to_numpy()):
            i = int(np.argmax(go[c].to_numpy() != wo[c].to_numpy()))
            return f"column {c} row {i}: {go[c].iloc[i]!r} != {wo[c].iloc[i]!r}"
    for c in floats:
        x = got[c].to_numpy(dtype="float64")[go.index.to_numpy()]
        y = want[c].to_numpy(dtype="float64")[wo.index.to_numpy()]
        ok = np.isclose(x, y, rtol=REL_TOL, atol=ABS_TOL, equal_nan=True)
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {x[i]!r} != {y[i]!r} (rel tol {REL_TOL})"
    return None
