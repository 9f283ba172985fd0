"""Correctness gate of the graft benchmark: each batch query's output is
compared with DuckDB running the query's oracle SQL
(`SparkEntry.oracleSql`) over the same generated input.

The compare is row-order-sensitive whenever the SQL ends in ORDER BY;
otherwise rows are sorted first. Columns are matched by name. Values
must be equal, and float columns equal bit for bit (NaNs aside), since
a reordered or re-rounded result is a different result.
"""
import os
import re

import duckdb
import numpy as np
import pandas as pd

TABLES = ["events", "customer", "nation", "region", "documents", "embeddings"]


def ends_in_order_by(sql: str) -> bool:
    """True when the outermost SELECT has an ORDER BY (one outside every
    parenthesis, so not a window's, subquery's or CTE's)."""
    depth = 0
    for m in re.finditer(r"[()]|\border\s+by\b", sql.lower()):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return True
    return False


def connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    return con


def read_dump(path: str) -> pd.DataFrame:
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    frames = [pd.read_parquet(os.path.join(path, p)) for p in parts]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def compare(got: pd.DataFrame, want: pd.DataFrame, ordered: bool) -> tuple:
    """Returns (ok, detail)."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    cols = sorted(got.columns)
    got, want = got[cols], want[cols]
    if len(got) != len(want):
        return False, f"rows {len(got)} vs {len(want)}"
    if not ordered:
        got = got.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
        want = want.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    else:
        got, want = got.reset_index(drop=True), want.reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return False, " ".join(str(e).split())[:300]
    for c in cols:
        g, w = got[c], want[c]
        if g.dtype == np.float64 or w.dtype == np.float64 or g.dtype == np.float32:
            gf = g.astype(np.float64).to_numpy()
            wf = w.astype(np.float64).to_numpy()
            diff = (gf.view(np.int64) != wf.view(np.int64)) & ~(np.isnan(gf) & np.isnan(wf))
            if diff.any():
                return False, f"column {c}: {int(diff.sum())} values differ in their bits"
    return True, f"{len(got)} rows, {'ordered' if ordered else 'unordered'}"


def compare_all(input_dir: str, dumps: str, sqls: dict) -> dict:
    con = connect(input_dir)
    out = {}
    for name, sql in sorted(sqls.items()):
        if not sql:
            out[name] = (False, "no oracle SQL")
            continue
        path = os.path.join(dumps, name)
        if not os.path.isdir(path):
            out[name] = (False, "no output dump")
            continue
        try:
            want = con.execute(sql).df()
            got = read_dump(path)
            out[name] = compare(got, want, ends_in_order_by(sql))
        except Exception as e:  # noqa: BLE001
            out[name] = (False, f"{type(e).__name__}: {e}"[:300])
    return out


def self_check(input_dir: str, dumps: str, sqls: dict) -> tuple:
    """Feeds the gate a reordered and a perturbed copy of a real output;
    both must register as failures. Returns (ok, detail)."""
    con = connect(input_dir)
    for name, sql in sorted(sqls.items()):
        path = os.path.join(dumps, name)
        if not sql or not ends_in_order_by(sql) or not os.path.isdir(path):
            continue
        got = read_dump(path)
        if len(got) < 2 or len(got.drop_duplicates()) < 2:
            continue
        want = con.execute(sql).df()
        if not compare(got, want, True)[0]:
            continue
        reordered = got.iloc[::-1].reset_index(drop=True)
        perturbed = got.copy()
        c = perturbed.columns[-1]
        v = perturbed.at[0, c]
        if isinstance(v, (float, np.floating)):
            perturbed.at[0, c] = np.nextafter(v, np.inf)
        elif isinstance(v, (int, np.integer)):
            perturbed.at[0, c] = v + 1
        else:
            perturbed.at[0, c] = f"{v}~"
        r_ok = compare(reordered, want, True)[0]
        p_ok = compare(perturbed, want, True)[0]
        detail = f"on {name}: reordered {'passed' if r_ok else 'caught'}, " \
                 f"perturbed {'passed' if p_ok else 'caught'}"
        return (not r_ok and not p_ok), detail
    return False, "no ordered output to check with"
