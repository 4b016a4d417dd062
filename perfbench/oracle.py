"""Output checks: the loaded tables against the DuckDB oracles the program
declares (`SparkEntry.oracleSql`), replayed over the same generated events.

Each table is compared with its oracle on the columns both share: the same
row count, the same multiset of non-float values, and floats equal within
the sinks' adaptive rounding (never coarser than one decimal place, so
0.05 absolute).
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

FLOAT_TOL = 0.05

# (loaded table, oracle) pairs; Script_Data has no oracle and is checked
# against rco_co_agg's per-line CO counts instead.
PAIRS = [
    ("CO_Aggregated_Data", "rco_co_agg"),
    ("CO_Aggregated_Data", "rco_brandcode"),
    ("CO_Aggregated_Data", "rco_co_uptime"),
    ("CO_Event_Log", "rco_co_event_log"),
    ("First_Stop_after_CO_Data", "rco_first_stop"),
    ("Gantt_Data", "rco_gantt"),
    ("Event_Log_for_Gantt", "rco_gantt_events"),
    ("BRANDCODE_data", "rco_brandcode_master"),
    ("Runtime_per_Day_data", "rco_runtime_per_day"),
]


def _normalize(df):
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[ns]")
            out[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        else:
            out[c] = s.map(lambda v: None if v is None else str(v))
    return pd.DataFrame(out)


def _same(got, want, label):
    cols = sorted((set(got.columns) & set(want.columns)) - {"Server"})
    if not cols:
        return [f"{label}: no shared columns"]
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows loaded, oracle has {len(want)}"]
    got, want = _normalize(got[cols]), _normalize(want[cols])
    floats = [c for c in cols if got[c].dtype == np.float64]
    exact = [c for c in cols if c not in floats]
    order = exact + floats
    got = got.sort_values(order, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(order, kind="mergesort").reset_index(drop=True)
    problems = []
    for c in exact:
        if not got[c].equals(want[c]):
            problems.append(f"{label}: column {c} differs")
    for c in floats:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        both_nan = np.isnan(a) & np.isnan(b)
        close = np.abs(a - b) <= FLOAT_TOL * (1 + 1e-9) + 1e-9 * np.abs(b)
        if not np.all(both_nan | close):
            i = int(np.argmin(both_nan | close))
            problems.append(f"{label}: column {c} differs beyond {FLOAT_TOL} "
                            f"(row {i}: {a[i]} vs {b[i]})")
    return problems


def check(check_dir, oracles, events_path):
    """Problems found comparing the tables in `check_dir` (one parquet
    directory per table) with the oracles over `events_path`."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")

    def table(name):
        # the files a Spark reader would see: none under a `_` or `.` path
        files = [f for f in glob.glob(f"{check_dir}/{name}/**/*.parquet",
                                      recursive=True)
                 if not any(p[:1] in "_." for p in
                            os.path.relpath(f, check_dir).split(os.sep))]
        return con.execute("SELECT * FROM read_parquet(?, union_by_name = true)",
                           [files]).df().drop(columns=["graft_bucket"],
                                              errors="ignore")

    results = {name: con.execute(sql).df() for name, sql in oracles.items()}
    problems = []
    for tbl, orc in PAIRS:
        problems += _same(table(tbl), results[orc], f"{tbl} vs {orc}")
    script = table("Script_Data")
    per_line = results["rco_co_agg"].groupby("LINE").size()
    got = script.set_index("MES_Line_Name")["Number_of_COs"]
    if (len(script) != len(per_line) or
            not got.sort_index().astype("int64").equals(
                per_line.sort_index().astype("int64"))):
        problems.append("Script_Data: per-line CO counts differ from rco_co_agg")
    con.close()
    return problems
