#!/usr/bin/env python
"""Dump .explain('formatted') for headline queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python scripts/dump_plans.py <tag> <suffix> [query1,query2,...]
e.g. `python scripts/dump_plans.py r07 before`. The default query list is
bench.py's DEFAULT_BENCH. Uses $SPARK_GRAFT_SF_DIR (default sf0.1) and
bench.py's SPARK_GRAFT_INPUT_PARTITIONS default (64).
"""
from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import DEFAULT_BENCH  # noqa: E402
from osm_coverage_spark import registry  # noqa: E402
from osm_coverage_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else DEFAULT_BENCH
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_INPUT_PARTITIONS", "64")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan_dump")
    for name in names:
        fn = registry.QUERIES.get(name) or registry.RETIRED_QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        plan = plan.replace(sf_dir, "$SPARK_GRAFT_SF_DIR")  # host-independent dumps
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
