"""Output checks.  They run after timing and derive from what the generators
planted or, for the registry, from the oracle SQL in DuckDB.  Each check
returns a list of (name, ok, detail)."""
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd


def _read(path):
    return pd.read_parquet(path) if os.path.exists(path) else None


# -------------------------------------------------------------- registry

def registry(check_py, star_dir, result_dir, names):
    """Compares each query of ``names``, re-run to parquet under
    ``result_dir``, with its oracle SQL in DuckDB through the repo's own
    gate, ``tools/check.py``.  A query without an oracle fails."""
    summary = os.path.join(result_dir, "check.json")
    res = subprocess.run([sys.executable, check_py, star_dir, result_dir, "--json", summary],
                         capture_output=True, text=True)
    if not os.path.exists(summary):
        return [("oracle", False, (res.stdout + res.stderr)[-2000:])]
    failed = set(json.load(open(summary))["failed"])
    oracle = json.load(open(os.path.join(result_dir, "oracle_sql.json")))
    lines = {ln.split(" ", 2)[1].rstrip(":"): ln for ln in res.stdout.splitlines()
             if ln.startswith(("PASS ", "FAIL "))}
    return [(f"oracle.{n}", n in oracle and n not in failed, lines.get(n, "no oracle"))
            for n in sorted(names)]


# ----------------------------------------------------------------- panel

def panel(result_dir, planted, horizon, min_recovered=0.95):
    fc = _read(os.path.join(result_dir, "forecasts"))
    dec = _read(os.path.join(result_dir, "decisions"))
    if fc is None or dec is None:
        return [("panel.results", False, "results missing")]
    fut = fc[fc["is_future"]]
    vals = fut[["yhat", "lower", "upper"]].to_numpy(dtype=float)
    finite = bool(np.isfinite(vals).all())
    bracket = bool(((fut["lower"] <= fut["yhat"]) & (fut["yhat"] <= fut["upper"])).all())
    m = dict(zip(dec["series_id"], dec["m"]))
    hit = sum(1 for s, want in planted.items() if m.get(s) == want) / len(planted)
    return [
        ("panel.forecast_rows", len(fut) == len(planted) * horizon,
         f"{len(fut)} future rows for {len(planted)} series x {horizon}"),
        ("panel.decisions_rows", len(dec) == len(planted) and dec["series_id"].is_unique,
         f"{len(dec)} rows"),
        ("panel.finite", finite, "yhat/lower/upper finite on every future row"),
        ("panel.intervals_bracket", finite and bracket, "lower <= yhat <= upper"),
        ("panel.seasonal_recovered", hit >= min_recovered, f"{hit:.4f} of planted lengths"),
    ]
