#!/usr/bin/env python3
"""Capture .explain("formatted") for every headline bench lane into
plans/<dir>/<query>_<tag>.txt (tag = before/after, argv[1]), where
<dir> is the SPARK_GRAFT_PLAN_DIR environment variable (default r12).

Usage: python scripts/capture_plans.py <tag> [query ...]
With no query names, captures the whole bench HEADLINE list.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

from cc_mapreducer_spark import registry  # noqa: E402
from cc_mapreducer_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    out_dir = REPO / "plans" / os.environ.get("SPARK_GRAFT_PLAN_DIR", "r12")
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("cc-mapreducer-spark-plans")
    queries = registry.all_queries()
    for name in names:
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure, keep going
            plan = f"ERROR: {e}\n"
        build_s = time.perf_counter() - t0
        (out_dir / f"{name}_{tag}.txt").write_text(
            f"-- {name} ({tag}) sf_dir={SF_DIR} build={build_s:.2f}s\n{plan}"
        )
        print(f"{name}: {build_s:.1f}s", flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
