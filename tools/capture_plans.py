"""Capture .explain("formatted") output for bench queries into
plans/r06/<query>_<tag>.txt (guide §1: record plan shape before/after).

Usage: PYTHONPATH=/root/repo python tools/capture_plans.py <tag> [name...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    tag = sys.argv[1]
    only = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    import __spark_entry__ as entrymod
    from duplicate_finder_spark.session import get_spark

    names = only or bench.HEADLINE
    spark = get_spark(app_name="capture-plans", master="local[8]",
                      shuffle_partitions=8)
    qs = entrymod.queries()
    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        entrymod._BPE_MERGES_CACHE.clear()
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        n_py = (plan.count("ArrowEvalPython")
                + plan.count("BatchEvalPython")
                + plan.count("MapInArrow")
                + plan.count("FlatMapGroupsInPandas"))
        print(f"{name}: exchanges={n_ex} python_nodes={n_py} -> {path}")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
