#!/usr/bin/env python
"""Local mirror of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry and its DuckDB oracle on the
same parquet tables, then compares row count, column-name set, and
order-insensitive values (columns sorted by name, rows sorted) — the same
normalization QTestUtil applies to golden files
(itests/util/.../QTestUtil.java:967-971 sorted+hashed diff).

Usage: python scripts/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except Exception:
        pass
    return repr(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_val(vals[i]) for i in order))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from apache_hive_2_1_1_src_spark.session import build_session

    spark = build_session(shuffle_partitions=8)
    con = duckdb.connect()
    for tb in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {tb} AS SELECT * FROM '{sf_dir}/{tb}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = sdf.collect()
        except Exception:
            results[name] = ("SPARK-ERROR", traceback.format_exc(limit=4))
            print(f"FAIL {name}: SPARK ERROR")
            continue
        if name not in oracles:
            results[name] = ("ROWS-ONLY", f"{len(srows)} rows")
            print(f"ok?  {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            rel = con.execute(oracles[name])
            ocols = [c.lower() for c in [d[0] for d in rel.description]]
            orows = rel.fetchall()
        except Exception:
            results[name] = ("ORACLE-ERROR", traceback.format_exc(limit=4))
            print(f"FAIL {name}: ORACLE ERROR")
            continue
        msgs = []
        if len(srows) != len(orows):
            msgs.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            msgs.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not msgs:
            a, b = canon(srows, scols), canon(orows, ocols)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                msgs.append(f"values differ, first diffs: {diffs}")
        if msgs:
            results[name] = ("MISMATCH", "; ".join(msgs))
            print(f"FAIL {name}: {'; '.join(msgs)[:300]}")
        else:
            results[name] = ("PASS", "")
            print(f"PASS {name} ({len(srows)} rows)")

    n_pass = sum(1 for s, _ in results.values() if s == "PASS")
    n_ro = sum(1 for s, _ in results.values() if s == "ROWS-ONLY")
    n_fail = len(results) - n_pass - n_ro
    print(f"\n== {n_pass} pass, {n_ro} rows-only, {n_fail} fail, {len(results)} total ==")
    for name, (s, detail) in sorted(results.items()):
        if s not in ("PASS", "ROWS-ONLY"):
            print(f"--- {name} [{s}]\n{detail[:1500]}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
