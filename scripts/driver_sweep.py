#!/usr/bin/env python3
"""Driver-style correctness sweep: replay the round driver's
DuckDB-oracle comparison locally under a VANILLA SparkSession (no
engine confs pre-set) so a registry change can be verified end-to-end
before the real driver samples it.

For each selected query: run the Spark build and the oracle SQL on the
same parquet tables, then compare row count, sorted column names, and
order-insensitive normalized values (tests/oracle_utils.py — the same
canonicalization the per-round harness applies). Queries without an
oracle get a rows-only check, exactly like the driver.

Usage:
  python scripts/driver_sweep.py [sf_dir] [--out out.json] [name ...]
  python scripts/driver_sweep.py                         # all, sf0.01
  python scripts/driver_sweep.py /root/testdata/sf0.01 zipf_slope_tokens

Prints one summary JSON line: {"ok": N, "rows_only": N, "failed": N,
"wall_sec": S}; per-query detail (status + error text) goes to --out.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession  # noqa: E402

from oracle_utils import compare_spark_duck, duck_connection  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        if i + 1 >= len(args):
            print("usage: driver_sweep.py [sf_dir] [--out FILE] [name ...]",
                  file=sys.stderr)
            return 2
        out_path = args[i + 1]
        del args[i:i + 2]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    only = set(args)

    from etl_rj_spark.analytics import REGISTRY  # noqa: E402

    names = [n for n in REGISTRY if not only or n in only]
    missing = only - set(names)
    if missing:
        print(f"unknown query names: {sorted(missing)}", file=sys.stderr)
        return 2

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("driver-sweep")
        # the scaled LSH queries OOM a default-1g driver in a full sweep
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duck_connection(sf_dir)
    t0 = time.time()
    detail: dict[str, dict] = {}
    ok = rows_only = failed = 0
    for n in names:
        q = REGISTRY[n]
        t1 = time.time()
        try:
            df = q.build(spark, sf_dir)
            if q.oracle is None:
                cnt = df.count()
                rows_only += 1
                detail[n] = {"status": "rows_only", "rows": cnt}
            else:
                compare_spark_duck(df, con, q.oracle)
                ok += 1
                detail[n] = {"status": "ok"}
        except Exception as e:  # noqa: BLE001 — sweep must finish
            failed += 1
            detail[n] = {"status": "failed", "err": str(e)[:2000]}
            print(f"FAIL {n}: {str(e)[:500]}", file=sys.stderr)
        detail[n]["sec"] = round(time.time() - t1, 2)
    summary = {
        "ok": ok, "rows_only": rows_only, "failed": failed,
        "checked": len(names), "sf_dir": sf_dir,
        "wall_sec": round(time.time() - t0, 1),
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(summary))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
