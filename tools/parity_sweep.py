#!/usr/bin/env python
"""Full local parity sweep: replicate the driver's correctness gate over
EVERY declared query (not just the 50-entry window) and write a
CORRECTNESS-style JSON artifact. The driver attests 50 queries per round;
this artifact attests the rest with the same comparison (row count, column
names, order-insensitive multiset of normalized values vs the DuckDB
oracle). Run from the repo root:

    python tools/parity_sweep.py [sf_dir] [out.json] [--only n1,n2,...]

Defaults: the sf0.01 fixture → parity.json

``--only`` restricts the sweep to a comma-separated subset — the
targeted-family use case (VERDICT r7 item 1: the sf0.1 sweep of the
iterative/fixed-point operators, where small-SF parity hid the k-core
24-round under-peel).

Both SFs (VERDICT r3 item 8):

    python tools/parity_sweep.py <testdata>/sf0.001 parity_sf0.001.json
    python tools/parity_sweep.py <testdata>/sf0.01  parity.json
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = list(sys.argv[1:])
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        if i + 1 >= len(argv):
            raise SystemExit("--only requires a comma-separated name list")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    out = argv[1] if len(argv) > 1 else "parity.json"

    from samba_spark.queries import ALL_QUERIES

    if only is not None:
        unknown = only - set(ALL_QUERIES)
        if unknown:
            raise SystemExit(f"--only names not in ALL_QUERIES: {sorted(unknown)}")
    from samba_spark.session import get_spark
    from tests.oracle_util import duckdb_conn, normalize_rows

    spark = get_spark(app_name="parity_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_conn(sf_dir)

    results: dict[str, dict] = {}
    t0 = time.time()
    for name, spec in ALL_QUERIES.items():
        if only is not None and name not in only:
            continue
        entry: dict = {}
        try:
            df = spec.fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
            entry["spark_rows"] = len(spark_rows)
            if spec.oracle is None:
                entry["mode"] = "rows_only"
                # Rows-only queries still need a hard assertion, not just
                # "did not raise": each must produce at least one row (both
                # by-design rows-only queries — q30 seeded sample, x14 IVF
                # top-k — are non-empty at every test SF; q24 graduated to
                # an external DuckDB oracle over its prov parquet in r5).
                entry["ok"] = len(spark_rows) >= 1
                if not entry["ok"]:
                    entry["err"] = "rows_only query returned 0 rows"
            else:
                res = con.execute(spec.oracle)
                duck_cols = [d[0] for d in res.description]
                duck_rows = res.fetchall()
                entry["oracle_rows"] = len(duck_rows)
                entry["rows_match"] = len(spark_rows) == len(duck_rows)
                entry["schema_match"] = sorted(spark_cols) == sorted(duck_cols)
                entry["hash_match"] = normalize_rows(
                    spark_rows, spark_cols
                ) == normalize_rows(duck_rows, duck_cols)
                entry["ok"] = (
                    entry["rows_match"]
                    and entry["schema_match"]
                    and entry["hash_match"]
                )
        except Exception:
            entry["ok"] = False
            entry["err"] = traceback.format_exc(limit=2)
        results[name] = entry
        flag = "ok" if entry.get("ok") else "FAIL"
        print(f"{name}: {flag}", file=sys.stderr)

    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_ok": sum(1 for e in results.values() if e.get("ok")),
        "n_rows_only": sum(
            1 for e in results.values() if e.get("mode") == "rows_only"
        ),
        "wall_s": round(time.time() - t0, 1),
        "results": results,
    }
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: summary[k] for k in
                      ("sf_dir", "n_queries", "n_ok", "n_rows_only", "wall_s")}))
    spark.stop()


if __name__ == "__main__":
    main()
