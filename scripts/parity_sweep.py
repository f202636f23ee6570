#!/usr/bin/env python
"""Driver-style correctness pre-check: run every __spark_entry__
query AND its DuckDB oracle at sf0.01, compare row count, column set,
and a value hash over name-sorted columns — the same gate the grading
driver applies. Prints one JSON line per query plus a summary."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod

SF = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float):
        return f"{round(v, 6):.6f}"
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    return v


def _hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(repr(_norm(r[i])) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update("|".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    from graphiti_spark.session import get_spark

    spark = get_spark(app_name="parity_sweep",
                      cpus=int(os.environ.get("SWEEP_CPUS", "16")),
                      shuffle_partitions=16)
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    n_bad = 0
    only = sys.argv[1:]
    for name in sorted(qs):
        if only and name not in only:
            continue
        rec = {"q": name}
        try:
            sdf = qs[name](spark, SF)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(s_rows)
            cur = con.execute(sqls[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
            rec["oracle_rows"] = len(d_rows)
            rec["rows_match"] = len(s_rows) == len(d_rows)
            rec["schema_match"] = sorted(s_cols) == sorted(d_cols)
            rec["hash_match"] = (
                rec["rows_match"] and rec["schema_match"]
                and _hash(s_cols, s_rows) == _hash(d_cols, d_rows)
            )
            rec["ok"] = bool(rec["hash_match"])
        except Exception as exc:  # noqa: BLE001
            rec["ok"] = False
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        if not rec.get("ok"):
            n_bad += 1
        print(json.dumps(rec), flush=True)
    print(json.dumps({"summary": True, "n_bad": n_bad}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
