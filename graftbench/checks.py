"""Output checks. Each returns (failed_ids, message): the operations whose
output differs from the independent reference, and a short diagnosis.

- stream: the generator's model of every (topic, partition) sequence, in
  commit-SCN order, against the contract sink's segments read in batch
  order. A mismatch fails every transaction from the first differing
  position of that partition on.
- backfill: per-transaction change count and digest, and their totals,
  against the same digest of the generator's model.
- curate: the pipe_curate manifest against the DuckDB oracle SQL, with
  rows canonicalised like `tools/check.py`.
"""
import json
import math
import os
import re
import struct
from decimal import Decimal

NULL_TOKEN = "\u0000"
SEGMENT = re.compile(r"^(?P<topic>.+)-(?P<part>\d+)\.jsonl\.b(?P<batch>\d+)$")


def read_segments(sink_dir):
    """{(topic, partition): [(key, value) ...]} with segments in batch order."""
    found = {}
    for name in os.listdir(sink_dir):
        m = SEGMENT.match(name)
        if m:
            found.setdefault((m["topic"], int(m["part"])), []).append(
                (int(m["batch"]), name))
    out = {}
    for tp, segs in found.items():
        lines = []
        for _, name in sorted(segs):
            with open(os.path.join(sink_dir, name), encoding="utf-8") as f:
                for line in f:
                    key, _, value = line.rstrip("\n").partition("\t")
                    lines.append((None if key == NULL_TOKEN else json.loads(key),
                                  None if value == NULL_TOKEN else json.loads(value)))
        out[tp] = lines
    return out


def check_stream(expected_file, sink_dir):
    expected = {}
    with open(expected_file, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            expected.setdefault((e["t"], e["p"]), []).append((e["k"], e["v"], e["x"]))
    got = read_segments(sink_dir)
    failed, notes = set(), []
    for tp in sorted(set(expected) | set(got)):
        want, have = expected.get(tp, []), got.get(tp, [])
        first = next((i for i, (w, h) in enumerate(zip(want, have))
                      if (w[0], w[1]) != h), min(len(want), len(have)))
        if first == len(want) == len(have):
            continue
        bad = {w[2] for w in want[first:]}
        failed |= bad if bad else {f"extra:{tp[0]}-{tp[1]}"}
        notes.append(f"{tp[0]}-{tp[1]}: first difference at line {first} "
                     f"(expected {len(want)} lines, delivered {len(have)})")
    return failed, "; ".join(notes[:5])


def check_backfill(expected_file, actual_file):
    with open(expected_file) as f:
        want = json.load(f)
    with open(actual_file) as f:
        have = json.load(f)
    wx, hx = want["xids"], have["xids"]
    failed = {x for x in set(wx) | set(hx) if wx.get(x) != hx.get(x)}
    if not failed and (want["count"], want["sum"]) != (have["count"], have["sum"]):
        failed = {"totals"}
    note = (f"{len(failed)} transactions differ; changes expected {want['count']}, "
            f"delivered {have['count']}") if failed else ""
    return failed, note


def canon(v):
    """Value canonicalisation of `tools/check.py`."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def _rows(cols, rows):
    """(sorted column names, {doc_id: canonical row}), like tools/check.py."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = cols.index("doc_id")
    return [cols[i] for i in order], {
        r[key]: "|".join(canon(r[i]) for i in order) for r in rows}


def oracle_rows(corpus_parquet, oracle_sql, threads):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET enable_progress_bar=false")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_parquet}')")
    rel = con.sql(oracle_sql)
    cols, rows = rel.columns, rel.fetchall()
    con.close()
    return cols, [list(r) for r in rows]


def manifest_rows(actual_file):
    cols = ["doc_id", "source", "n_tok", "q", "norm_len"]
    rows = []
    with open(actual_file, encoding="utf-8") as f:
        for line in f:
            r = json.loads(line)
            q = struct.unpack(">d", struct.pack(">q", r["q_bits"]))[0]
            rows.append([r["doc_id"], r["source"], r["n_tok"], q, r["norm_len"]])
    return cols, rows


def check_curate(expected, actual):
    """`expected`/`actual`: (columns, rows) pairs; fails per doc_id."""
    (ecols, erows), (acols, arows) = expected, actual
    ek, want = _rows(ecols, erows)
    ak, have = _rows(acols, arows)
    if ek != ak:
        return {"columns"}, f"columns differ: {ek} vs {ak}"
    dup = len(have) != len(arows)
    failed = {d for d in set(want) | set(have) if want.get(d) != have.get(d)}
    if dup:
        failed.add("duplicate-doc_id")
    note = (f"{len(failed)} manifest rows differ; expected {len(want)}, "
            f"delivered {len(arows)}") if failed else ""
    return failed, note
