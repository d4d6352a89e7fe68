#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads each parquet result written by graft.Verify, runs the matching
oracle SQL in DuckDB over the same sf-dir parquet tables, and compares:
columns sorted by name, rows sorted, values canonicalised. Strict by
default (exact equality, floats included) so that passing here makes
the driver's hash compare very likely to pass.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json, math, os, sys
from decimal import Decimal

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"f:{v!r}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def table_of(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    rows = rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    data = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return names, data


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
    for name in names:
        res_glob = os.path.join(out_dir, name, "*.parquet")
        try:
            got_cols, got = table_of(con, f"SELECT * FROM read_parquet('{res_glob}')")
        except Exception as e:
            results[name] = f"ERROR reading result: {e}"
            continue
        if name not in oracles:
            results[name] = f"rows-only: {len(got)} rows" + (" OK" if len(got) > 0 else " EMPTY!")
            continue
        try:
            exp_cols, exp = table_of(con, oracles[name])
        except Exception as e:
            results[name] = f"ERROR in oracle sql: {e}"
            continue
        if got_cols != exp_cols:
            results[name] = f"SCHEMA MISMATCH: got {got_cols} vs oracle {exp_cols}"
        elif len(got) != len(exp):
            results[name] = f"ROWCOUNT MISMATCH: got {len(got)} vs oracle {len(exp)}"
        elif got != exp:
            diffs = [(g, e) for g, e in zip(got, exp) if g != e][:3]
            results[name] = f"VALUE MISMATCH ({sum(1 for g, e in zip(got, exp) if g != e)} rows), e.g. {diffs[0]}"
        else:
            results[name] = f"OK ({len(got)} rows)"

    ok = sum(1 for v in results.values() if v.startswith("OK") or "rows-only" in v and "EMPTY" not in v)
    for name, v in sorted(results.items()):
        flag = "PASS" if v.startswith("OK") or (v.startswith("rows-only") and "EMPTY" not in v) else "FAIL"
        print(f"[{flag}] {name}: {v}")
    print(f"\n{ok}/{len(results)} pass")
    if not results:
        print(f"no gate results under {out_dir}", file=sys.stderr)
    # an empty run checked nothing: it must not pass
    sys.exit(0 if results and ok == len(results) else 1)


if __name__ == "__main__":
    main()
