"""Subprocess worker for test_concurrent_scratch: build + materialize
one registry query in a FRESH SparkSession/JVM, print its row count.

Run as ``python tests/concurrent_worker.py <query_name> <sf_dir>``.
Two of these running at once is the exact scenario VERDICT r13 §wrong
#1 reproduced (a plan audit alongside pytest): with fixed-name scratch
roots, one process's rmtree-on-entry deletes the other's LIVE
streaming checkpoint mid-run. With pid-suffixed roots they are
disjoint and both must succeed.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    name, sf_dir = sys.argv[1], sys.argv[2]
    from etl_rj_spark.analytics.suite import REGISTRY
    from etl_rj_spark.session import get_spark

    spark = get_spark(
        app_name=f"concurrent-worker-{os.getpid()}", cpus="4", shuffle_partitions=4
    )
    df = REGISTRY[name].build(spark, sf_dir)
    print(f"ROWS={df.count()}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
