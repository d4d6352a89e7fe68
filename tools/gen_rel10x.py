#!/usr/bin/env python3
"""Generate an Nx relational scaling set for BASELINE.md's
join/window/SCD2 sweeps: N deterministically key-shifted copies of the
sf0.1 orders + lineitem (N=10 -> 1.5 M orders / 6 M lineitems,
N=100 -> 15 M / 60 M), the other tables copied verbatim, written to
/tmp/graft_rel{N}x_dir so `SPARK_GRAFT_SF_DIR=/tmp/graft_rel10x_dir
SPARK_GRAFT_ONLY=q3_join_topk,... tools/run.sh Bench` reproduces the
scaled point against a COMPLETE table dir (the oracle side registers
every table).

Usage: gen_rel10x.py [factor]      (default 10)

Copy k shifts o_orderkey/l_orderkey by 1e6*k — customer/supplier/
nation/region keys are untouched, so the join graph stays valid (each
customer simply carries Nx orders, each order its original lineitems)
and per-key window history (q_winfuncs per custkey, q_scd2_apply per
orderkey % 997) deepens Nx, which is the scaling a warehouse actually
sees. o_orderdate keeps its value: window tie-break is
(o_orderdate, o_orderkey), deterministic across copies.

Driver-side tooling only (duckdb is not on the Spark classpath).
"""
import os
import shutil
import sys

import duckdb

FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT_DIR = f"/tmp/graft_rel{FACTOR}x_dir"
SRC = "/root/testdata/sf0.1"

os.makedirs(OUT_DIR, exist_ok=True)
con = duckdb.connect()
con.execute(f"""
COPY (
  SELECT o_orderkey + 1000000*k.k AS o_orderkey, o_custkey,
         o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM '{SRC}/orders.parquet'
  CROSS JOIN (SELECT UNNEST(range(0, {FACTOR})) AS k) k
) TO '{OUT_DIR}/orders.parquet' (FORMAT PARQUET)
""")
con.execute(f"""
COPY (
  SELECT l_orderkey + 1000000*k.k AS l_orderkey, * EXCLUDE (l_orderkey)
  FROM '{SRC}/lineitem.parquet'
  CROSS JOIN (SELECT UNNEST(range(0, {FACTOR})) AS k) k
) TO '{OUT_DIR}/lineitem.parquet' (FORMAT PARQUET)
""")
for t in ["region", "nation", "customer", "supplier", "part", "events",
          "documents", "embeddings"]:
    shutil.copyfile(f"{SRC}/{t}.parquet", f"{OUT_DIR}/{t}.parquet")
for t in ["orders", "lineitem"]:
    n = con.execute(f"SELECT count(*) FROM '{OUT_DIR}/{t}.parquet'").fetchone()[0]
    print(f"wrote {OUT_DIR}/{t}.parquet: {n} rows")
