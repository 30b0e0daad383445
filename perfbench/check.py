"""Output check, run after the timed region, in DuckDB.

Catalog workloads: every task of the newest catalog run is recomputed
from the raw field with the calculation's SQL twin (`Calc.compileSql`)
and the resample's SQL, and compared with

* the snapshot of what the task wrote, taken right after it returned
  (a mismatch fails the task), and
* the variable's final DRS directory after the whole run. A task whose
  slice is no longer there is a *lost slice*, which run.py counts as a
  failed task: `Sink.writeDrs` replaces a variable's directory on every
  slice it writes.

Query workloads: the parquet outputs of the newest timed pass are
compared with their `oracleSql` twins, where one exists, over the same
tables.

Floats compare exactly, else within a relative 1e-12 (a last-bit
difference between the two engines' libm).
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

REL = 1e-12


def mop(check, inputs):
    """Returns (failed operation names, lost slice names, notes). Tasks
    that threw are already failed and are skipped."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW field AS SELECT * FROM read_parquet('{inputs}/field/*.parquet')")
    failed, lost, notes = [], [], []

    def expected(t):
        where = f"epoch_us(time) >= {t['start_us']} AND epoch_us(time) < {t['end_us']}"
        if t["resample"]:
            bucket = "date_trunc('month', time - INTERVAL 1 MICROSECOND)"
            return (f"SELECT epoch_us({bucket} + INTERVAL 15 DAYS) AS t, cell, "
                    f"{t['value_sql']} AS v FROM field WHERE {where} GROUP BY {bucket}, cell")
        return f"SELECT epoch_us(time) AS t, cell, {t['value_sql']} AS v FROM field WHERE {where}"

    def matches(exp_sql, got_sql):
        """(expected rows, expected rows found with an equal value, got rows)."""
        return con.execute(f"""
            WITH e AS ({exp_sql}), g AS ({got_sql})
            SELECT (SELECT count(*) FROM e),
                   (SELECT count(*) FROM e JOIN g USING (t, cell)
                     WHERE e.v = g.v OR abs(e.v - g.v) <= {REL} * abs(e.v)),
                   (SELECT count(*) FROM g)""").fetchone()

    def got(d):
        return f"SELECT epoch_us(time) AS t, cell, value AS v FROM read_parquet('{d}/**/*.parquet')"

    for t in check["tasks"]:
        if t["error"] is not None:
            continue
        n_exp, n_ok, n_got = matches(expected(t), got(t["snap"]))
        if n_exp == 0 or n_ok != n_exp or n_got != n_exp:
            failed.append(t["id"])
            notes.append(f"{t['id']}: {n_ok}/{n_exp} expected rows match, {n_got} written")
            continue
        n_exp, n_ok, _ = matches(expected(t), got(t["dir"]))
        if n_ok != n_exp:
            lost.append(t["id"])
    ok_tasks = sum(1 for t in check["tasks"] if t["error"] is None)
    if check["status_rows"] != ok_tasks:
        failed.append("status_table")
        notes.append(f"status_table: {check['status_rows']} processed rows, {ok_tasks} tasks succeeded")
    return failed, lost, notes


def _frame_equal(got, exp):
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    cols = list(got.columns)
    got = got.sort_values(cols).reset_index(drop=True)
    exp = exp.sort_values(cols).reset_index(drop=True)
    for c in cols:
        a, b = got[c], exp[c]
        if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
            a = pd.to_datetime(a).astype("datetime64[us]")
            b = pd.to_datetime(b).astype("datetime64[us]")
        both_na = pd.isna(a).values & pd.isna(b).values
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_numeric_dtype(b):
            eq = np.isclose(a.values.astype(float), b.values.astype(float), rtol=REL, atol=0.0)
        else:
            eq = np.array([x == y for x, y in zip(a, b)], dtype=bool)
        if not (eq | both_na).all():
            i = int(np.argmin(eq | both_na))
            return f"column {c} differs at sorted row {i}: spark={a.iloc[i]!r} duckdb={b.iloc[i]!r}"
    return None


def queries(check, tables, names):
    """Returns (failed query names, notes) over the queries of the newest
    pass that did not throw."""
    con = duckdb.connect()
    for p in glob.glob(f"{tables}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    failed, notes = [], []
    for q in names:
        err = None
        if q not in check["errors"] and q in check["oracle"]:
            try:
                err = _frame_equal(pd.read_parquet(os.path.join(check["dir"], q)),
                                   con.sql(check["oracle"][q]).df())
            except Exception as e:  # a broken output or oracle is a failed check
                err = f"{type(e).__name__}: {e}"
        if err is not None:
            failed.append(q); notes.append(f"{q}: {err}")
    return failed, notes
