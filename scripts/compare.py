#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: read Verify's
parquet dumps, run each oracle SQL in DuckDB over the same sf dir,
sort columns by name, and diff values exactly and with 1e-9 rtol.
Rows are compared in emitted order when the oracle SQL's outermost
SELECT ends in ORDER BY, as an order-sensitive hash of the output
bytes would; otherwise both sides are sorted first.
Float columns are additionally compared BITWISE (int64 view), because
the driver hashes bytes: value-equal but bit-different outputs
(e.g. -0.0 vs +0.0) fail there.
A dump with no oracle entry, and an oracle entry with no dump, FAIL
too: neither side is skipped. The last line counts the OKs over every
name on either side.

Usage: python3 scripts/compare.py <sfdir> <outdir>
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

# the benchmark's gate decides row order the same way
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
from oracle import ends_in_order_by  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame, ordered: bool) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if not ordered:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def main() -> int:
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracles = json.load(f)
    dumps = {d for d in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, d))}
    n_bad = n_ok = 0
    for name in sorted(dumps - oracles.keys()):
        print(f"FAIL {name}: dump has no oracle_sql.json entry")
        n_bad += 1
    for name, sql in sorted(oracles.items()):
        if name not in dumps:
            print(f"FAIL {name}: oracle has no dump")
            n_bad += 1
            continue
        try:
            got = pd.read_parquet(f"{outdir}/{name}")
            want = con.execute(sql).df()
            # HUGEINT guard: DuckDB sum(BIGINT) returns int128, which
            # pandas renders as float64/object — Spark can never emit
            # that type, so the driver's byte hash will mismatch even
            # when values agree. Force oracles to CAST(... AS BIGINT).
            desc = con.execute(
                "DESCRIBE SELECT * FROM ("
                + sql.rstrip().rstrip(";") + ") LIMIT 0").df()
            hug = [r["column_name"] for _, r in desc.iterrows()
                   if "HUGEINT" in str(r["column_type"])]
            if hug:
                print(f"FAIL {name}: oracle emits HUGEINT cols {hug} "
                      "(add CAST(... AS BIGINT))")
                n_bad += 1
                continue
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
            n_bad += 1
            continue
        ordered = ends_in_order_by(sql)
        got_n, want_n = normalize(got, ordered), normalize(want, ordered)
        if list(got_n.columns) != list(want_n.columns):
            print(f"FAIL {name}: columns {list(got_n.columns)} vs {list(want_n.columns)}")
            n_bad += 1
            continue
        if len(got_n) != len(want_n):
            print(f"FAIL {name}: rows {len(got_n)} vs {len(want_n)}")
            n_bad += 1
            continue
        try:
            pd.testing.assert_frame_equal(
                got_n, want_n, check_dtype=False, check_exact=True)
            bit_bad = []
            for c in got_n.columns:
                g, w = got_n[c], want_n[c]
                if g.dtype == np.float64 or w.dtype == np.float64:
                    gf = g.astype(np.float64).to_numpy()
                    wf = w.astype(np.float64).to_numpy()
                    gb = gf.view(np.int64)
                    wb = wf.view(np.int64)
                    # NaN payload bits are not a contract: value-equal
                    # NaNs (which assert_frame_equal already accepted)
                    # must not fail the bit view
                    both_nan = np.isnan(gf) & np.isnan(wf)
                    nd = int(((gb != wb) & ~both_nan).sum())
                    if nd:
                        bit_bad.append(f"{c}:{nd}")
            if bit_bad:
                print(f"FAIL {name}: value-exact but BIT-differ {','.join(bit_bad)}")
                n_bad += 1
            else:
                print(f"OK   {name} ({len(got_n)} rows, "
                      f"{'ordered' if ordered else 'unordered'}, bit-exact)")
                n_ok += 1
        except AssertionError:
            try:
                pd.testing.assert_frame_equal(
                    got_n, want_n, check_dtype=False, rtol=1e-9, atol=1e-9)
                print(f"WARN {name} ({len(got_n)} rows, matches only at 1e-9 tol)")
            except AssertionError as e:
                print(f"FAIL {name}: {str(e)[:400]}")
                n_bad += 1
    print(f"{n_ok} OK / {len(dumps | oracles.keys())}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
