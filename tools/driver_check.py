#!/usr/bin/env python3
"""Faithful mimic of the DRIVER's correctness gate (pandas-based).

The driver (per VERDICT r01) reads the Spark result parquet with pandas,
runs the oracle SQL in DuckDB into a pandas frame, sorts columns by name,
sorts rows by all columns (this is where array outputs crashed with
"unhashable type: numpy.ndarray"), and hash-compares the values. Unlike
tools/check.py it does NOT canonicalize Decimals — a Python Decimal object
column on one side vs float64 on the other, or Decimals whose str() forms
carry different trailing zeros, hash-mismatch even when numerically equal.

This script reproduces that behavior so gate fixes can be validated
locally against the comparator that actually counts.

Usage: python3 tools/driver_check.py <sfDir> <verifyOutDir>
"""
import glob, json, os, sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def frame_hash(df):
    # Sort columns by name, then rows by all columns, then hash values the
    # strict way: per-cell repr of the numpy value. float64 3.0 != int64 3,
    # Decimal('1.20') != Decimal('1.2') by str, ndarray cells raise in
    # sort_values exactly like the driver's traceback.
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    parts = []
    for c in df.columns:
        col = df[c]
        parts.append(f"{col.dtype}")
        parts.extend(repr(v) for v in col.tolist())
    import hashlib
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    results = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_hashfail = n_err = n_rowsonly = 0
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            got = pd.read_parquet(files[0]) if len(files) == 1 else \
                pd.concat([pd.read_parquet(f) for f in files])
            if name not in oracles:
                results[name] = f"rows-only: {len(got)}"
                n_rowsonly += 1
                continue
            exp = con.sql(oracles[name]).df()
            rows = len(got) == len(exp)
            schema = sorted(got.columns) == sorted(exp.columns)
            h = frame_hash(got) == frame_hash(exp) if rows and schema else False
            if rows and schema and h:
                results[name] = f"PASS ({len(got)} rows)"
                n_pass += 1
            else:
                n_hashfail += 1
                detail = ""
                if rows and schema and not h:
                    # show first differing cell for debugging
                    g = got[sorted(got.columns)].sort_values(
                        by=sorted(got.columns)).reset_index(drop=True)
                    e = exp[sorted(exp.columns)].sort_values(
                        by=sorted(exp.columns)).reset_index(drop=True)
                    for c in g.columns:
                        if g[c].dtype != e[c].dtype:
                            detail += f" dtype[{c}]: {g[c].dtype} vs {e[c].dtype};"
                    for i in range(min(len(g), 2000)):
                        for c in g.columns:
                            if repr(g[c].iloc[i]) != repr(e[c].iloc[i]):
                                detail += (f" first diff row {i} col {c}: "
                                           f"{repr(g[c].iloc[i])} vs {repr(e[c].iloc[i])}")
                                break
                        if "first diff" in detail:
                            break
                results[name] = (f"FAIL rows={rows} schema={schema} hash={h}"
                                 f"{detail}")
        except Exception as exc:
            results[name] = f"ERR {type(exc).__name__}: {exc}"
            n_err += 1

    for name, v in results.items():
        flag = "PASS" if v.startswith("PASS") or v.startswith("rows-only") else "FAIL"
        print(f"[{flag}] {name}: {v}")
    print(f"\npass={n_pass} rows-only={n_rowsonly} hash-fail={n_hashfail} err={n_err} total={len(results)}")
    if not results:
        print(f"no gate results under {out_dir}", file=sys.stderr)
    # an empty run checked nothing: it must not pass
    sys.exit(0 if results and n_hashfail + n_err == 0 else 1)


if __name__ == "__main__":
    main()
