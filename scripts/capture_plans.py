#!/usr/bin/env python3
"""Capture .explain("formatted") for bench-tagged queries into
<out_dir>/<name>_<suffix>.txt (suffix: first positional argument,
default "before").

For barrier queries (``localCheckpoint`` inside the build) the final
frame's plan is only the post-checkpoint stage: the subtree before the
barrier has already executed and hides behind a LogicalRDD scan. So
``DataFrame.localCheckpoint`` is patched for the duration of each
build, and every barrier input's plan is dumped as its own numbered
section BEFORE the checkpoint executes; the final plan follows as the
last section. The whole query's physical shape is countable from one
file: total Exchanges = sum over sections, join strategies per stage,
PushedFilters at the real scans.

Requested names are validated against the bench set up front (unknown
names are reported and skipped).

Usage: python scripts/capture_plans.py [--out DIR] [before|after] [name ...]
(no names → all bench queries; DIR defaults to plans/, which git
ignores; SPARK_GRAFT_SF_DIR picks the data, default sf0.1).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Spark 4: pyspark.sql.DataFrame is the abstract base; sessions build
# pyspark.sql.classic.dataframe.DataFrame instances whose OWN
# localCheckpoint would shadow a base-class patch — patch the concrete
# class (fall back to the base for older Sparks).
try:
    from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
except ImportError:  # pragma: no cover — Spark < 4
    from pyspark.sql import DataFrame  # noqa: E402

from etl_rj_spark.analytics.suite import REGISTRY  # noqa: E402
from etl_rj_spark.session import get_spark  # noqa: E402


def _explain(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    args = sys.argv[1:]
    out_dir = os.path.join(REPO, "plans")
    if "--out" in args:
        i = args.index("--out")
        out_dir = args[i + 1]
        del args[i:i + 2]
    suffix = args[0] if args else "before"
    names = args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    bench = {n: q for n, q in REGISTRY.items() if q.bench}
    unknown = [n for n in names if n not in bench]
    if unknown:
        print(
            f"unknown/not-bench-tagged names skipped: {unknown}\n"
            f"known bench names: {sorted(bench)}",
            file=sys.stderr,
        )
    targets = [n for n in names if n in bench] or sorted(bench)

    spark = get_spark(app_name="plan-capture")
    real_ckpt = DataFrame.localCheckpoint

    for name in targets:
        q = bench[name]
        build = q.bench_build or q.build
        sections: list[tuple[str, str]] = []

        def patched(self, eager=True, _sections=sections):
            _sections.append(
                (f"localCheckpoint input (eager={eager})", _explain(self))
            )
            return real_ckpt(self, eager)

        DataFrame.localCheckpoint = patched
        try:
            df = build(spark, sf_dir)
            sections.append(("final plan", _explain(df)))
        except Exception as ex:  # noqa: BLE001
            sections.append(
                ("final plan", f"PLAN CAPTURE ERROR: {type(ex).__name__}: {ex}")
            )
        finally:
            DataFrame.localCheckpoint = real_ckpt
        parts = [
            f"==== section {i + 1}/{len(sections)}: {title} ====\n{plan}"
            for i, (title, plan) in enumerate(sections)
        ]
        text = "\n\n".join(parts) + "\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(sections)} sections, {len(text)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
