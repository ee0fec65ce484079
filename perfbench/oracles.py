"""Independent readers for the correctness gates: DuckDB over the parquet
the engine wrote, and plain filesystem walks. Nothing here goes through
Spark or samba_spark."""

from __future__ import annotations

import glob
import os

import duckdb


def lit(path: str) -> str:
    """A path as a DuckDB string literal."""
    return "'" + path.replace("'", "''") + "'"


def parquet(dir_path: str) -> str:
    return f"read_parquet({lit(os.path.join(dir_path, '*.parquet'))})"


def has_parquet(dir_path: str) -> bool:
    return bool(glob.glob(os.path.join(dir_path, "*.parquet")))


def count(con, dir_path: str) -> int:
    if not has_parquet(dir_path):
        return 0
    return con.execute(f"SELECT count(*) FROM {parquet(dir_path)}").fetchone()[0]


def store_stats(prov_dir: str) -> dict:
    """Row counts of the element/task tables and on-disk parquet bytes and
    files of a provenance store directory."""
    con = duckdb.connect()
    try:
        stats = {
            "elements": count(con, os.path.join(prov_dir, "elements")),
            "deps": count(con, os.path.join(prov_dir, "element_deps")),
            "tasks": count(con, os.path.join(prov_dir, "tasks")),
        }
    finally:
        con.close()
    files = size = 0
    for root, _dirs, names in os.walk(prov_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    stats.update({"bytes": size, "files": files})
    return stats
