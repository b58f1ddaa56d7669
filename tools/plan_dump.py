#!/usr/bin/env python
"""Dump .explain('formatted') for headline (or named) queries to
plans/<subdir>/<query>_<tag>.txt — an optimization's evidence files.

Usage: python tools/plan_dump.py <subdir> <tag> [query ...]
  subdir   plans/ subdirectory to write, e.g. 'r16' (required)
  tag      'before' | 'after' (file suffix)
  query    names; default = bench.HEADLINE
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import new_data_pipeline_spark as engine
from new_data_pipeline_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    subdir, tag = sys.argv[1:3]
    import bench
    names = sys.argv[3:] or list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", subdir)
    os.makedirs(out_dir, exist_ok=True)
    engine.load_all()
    spark = get_spark(app_name=f"plan_dump_{tag}")
    for name in names:
        df = engine.QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
