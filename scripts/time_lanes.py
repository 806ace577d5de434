#!/usr/bin/env python3
"""Time individual lanes with the bench's exact policy (bench.time_lane:
plan once, best-of-N noop reps, clearCache between lanes), without the
full bench.

Usage: python scripts/time_lanes.py <query> [query ...]
Prints one JSON line: {"queries": {name: best}, "reps": {...},
"build": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")

from bench import time_lane, warm_up  # noqa: E402
from cc_mapreducer_spark import registry  # noqa: E402
from cc_mapreducer_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("cc-mapreducer-spark-lane-ab")
    queries = registry.all_queries()
    warm_up(spark, queries)
    out: dict = {"queries": {}, "reps": {}, "build": {}}
    for name in sys.argv[1:]:
        out["build"][name], out["reps"][name] = time_lane(spark, queries, name)
        out["queries"][name] = min(out["reps"][name])
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
