#!/usr/bin/env python3
"""Full-registry Spark-vs-DuckDB parity rehearsal at the driver's
correctness SF (default sf0.01), mirroring the driver's
canonicalization (sorted column order, order-insensitive row set,
floats rounded to 9 places). Prints one line per query and a final
summary; exits non-zero on any mismatch.

Usage: python scripts/rehearse_correctness.py [sf_dir] [only_prefix]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def main() -> int:
    import duckdb

    from pdf_to_xls_vision_spark.plans.queries import ORACLES, QUERIES
    from pdf_to_xls_vision_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark("rehearse", master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    names = sorted(n for n in QUERIES if n.startswith(prefix))
    fails = []
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            res = con.execute(ORACLES[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            if sorted(s_cols) != sorted(d_cols):
                status = f"SCHEMA MISMATCH {s_cols} vs {d_cols}"
                fails.append(name)
            elif _rowset(s_cols, s_rows) != _rowset(d_cols, d_rows):
                status = (
                    f"VALUE MISMATCH ({len(s_rows)} vs {len(d_rows)} rows)"
                )
                fails.append(name)
            else:
                status = f"ok ({len(s_rows)} rows)"
        except Exception as exc:  # surface, keep going
            status = f"ERROR {type(exc).__name__}: {exc}"
            fails.append(name)
        print(
            f"{name:40s} {status}  [{time.time() - t0:.1f}s]",
            flush=True,
        )
    print(f"\n{len(names) - len(fails)}/{len(names)} green at {sf_dir}")
    if fails:
        print("FAILED:", ", ".join(fails))
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
