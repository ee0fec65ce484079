"""Provenance store: parquet tables under one run directory.

Each kind of table has one write rule.

- Driver-side metadata (executions, tasks, task_deps,
  transformation_groups) is O(#operators). The store keeps every row it
  was given in memory for its whole life, and each flush rewrites one
  file per (table, run), ``<table>/<run_id>.parquet``, whole. So a
  later end time, rename (A12), ignore (A11) or schema change (A10)
  replaces the row on disk, as the reference's in-place Cassandra
  updates do (DataflowProvenance.scala:29-37, 95-103), and a run has
  exactly one ``executions`` row.
- The element-level tables (elements, element_deps) and the artifact
  store's ``filegroup_refs`` are *distributed* DataFrame appends, queued
  as plans and drained by one background thread: at 100 TB the element
  tables dwarf the data, so they must never pass through the driver.

``read_arrow`` is the read-only serving path: pyarrow scans of the flushed
files, with no Spark job and no flush.

Reference contrast: SAMbA issues one async Cassandra insert per record from
each executor (br/uff/spark/database/CassandraDBDao.scala:131-142); we write
columnar batches per partition instead.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from samba_spark.prov import model

# A run id names files (``<table>/<run_id>.parquet``) and, in the web API,
# manifest globs, so it must be a plain file-name token: no dot, slash or
# glob character can traverse or widen a path. Session run ids are uuid4
# strings. \Z, not $: Python's $ also matches before a trailing newline.
_RUN_ID_RE = re.compile(r"\A[A-Za-z0-9][A-Za-z0-9_-]{0,127}\Z")


def _arrow_schema(spark_schema: T.StructType):
    """Arrow equivalent of a (simple-typed) Spark schema. Driver-side
    metadata tables only use string/double/bool/long/array<string>."""
    import pyarrow as pa

    def conv(dt):
        if isinstance(dt, T.StringType):
            return pa.string()
        if isinstance(dt, T.DoubleType):
            return pa.float64()
        if isinstance(dt, T.BooleanType):
            return pa.bool_()
        if isinstance(dt, T.LongType):
            return pa.int64()
        if isinstance(dt, T.ArrayType):
            return pa.list_(conv(dt.elementType))
        raise TypeError(f"no arrow mapping for {dt}")

    return pa.schema(
        [pa.field(f.name, conv(f.dataType), f.nullable) for f in spark_schema.fields]
    )


def _write_rows_parquet(path: str, rows: list[tuple], spark_schema) -> None:
    """Write driver-side rows as the parquet file ``path`` WITHOUT a Spark
    job, replacing any file already there. A 1-row
    createDataFrame(...).coalesce(1).write costs ~5 s in local mode (32
    Python partitions funneled through one task, one Python-worker
    round-trip each); pyarrow does it in milliseconds, and Spark reads the
    file back with the same explicit schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _arrow_schema(spark_schema)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)]
    table = pa.Table.from_arrays(arrays, schema=schema)
    dir_path, name = os.path.split(path)
    os.makedirs(dir_path, exist_ok=True)
    # Readers do not wait for a flush, so they see the old file or the new
    # one, whole: it is written under a dot-prefixed name (Spark, pyarrow
    # and the ``*.parquet`` globs all skip it) and renamed into place.
    tmp = os.path.join(dir_path, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # only when the write or rename failed
            os.remove(tmp)


class ProvStore:
    def __init__(self, spark: SparkSession, prov_dir: str, enabled: bool = True):
        self.spark = spark
        self.prov_dir = prov_dir
        self.enabled = enabled
        self._lock = threading.Lock()
        # Every metadata row this store was given, kept past flush: a
        # flush rewrites each changed (table, run) file from these rows.
        self._buffers: dict[str, list[tuple]] = {
            "executions": [],
            "tasks": [],
            "task_deps": [],
            "transformation_groups": [],
        }
        self._dirty: set[tuple[str, str]] = set()  # (table, run_id)
        # Deferred distributed appends: each persist_elements() queues two
        # lazy DataFrames (elements + deps), each ArtifactStore.commit one
        # (filegroup_refs), and then calls schedule_flush(), so the writes
        # run on the flush worker during the caller's next foreground
        # action — the batch analogue of the reference's fire-and-forget
        # async inserts (CassandraDBDao.scala:39-57): visibility is
        # deferred, capture is not. Safe because persist_elements caches
        # its source first, and the refs plan reads manifest files listed
        # when it was built.
        self._pending_dfs: dict[str, list[DataFrame]] = {
            "elements": [],
            "element_deps": [],
            "filegroup_refs": [],
        }
        # The one thread that drains _pending_dfs. A single worker
        # serializes the drains, so two append jobs never target the same
        # parquet directory concurrently (a shared _temporary staging dir
        # would race); flush() queues a drain and joins the worker, so
        # reads through table() still see every append.
        self._flush_pool: "ThreadPoolExecutor | None" = None
        self._flush_futures: list = []
        if enabled:
            os.makedirs(prov_dir, exist_ok=True)

    # -- driver-side metadata ---------------------------------------------
    def _add(self, table: str, rows: Iterable[tuple]) -> None:
        """Buffer metadata rows (run_id first) and mark their files for
        the next flush. Caller holds the lock."""
        for row in rows:
            if not _RUN_ID_RE.match(row[0]):
                raise ValueError(f"run_id must be a plain file-name token: {row[0]!r}")
            self._buffers[table].append(row)
            self._dirty.add((table, row[0]))

    def _replace(self, table: str, run_id: str, update) -> None:
        """Pass each buffered row of ``run_id`` through ``update(row)``,
        which returns the new row, or None to drop it; mark the file for
        the next flush if anything changed. Caller holds the lock."""
        rows, changed = [], False
        for r in self._buffers[table]:
            if r[0] == run_id:
                new = update(r)
                changed |= new != r
                r = new
            if r is not None:
                rows.append(r)
        self._buffers[table] = rows
        if changed:
            self._dirty.add((table, run_id))

    def write_execution(self, run_id: str, name: str, start_time: float) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._add("executions", [(run_id, name, start_time, None)])

    def finish_execution(self, run_id: str, end_time: float) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._replace("executions", run_id, lambda r: r[:3] + (end_time,))

    def write_task(
        self,
        run_id: str,
        task_id: str,
        transformation_type: str,
        description: Optional[str],
        schema_fields: Optional[list[str]],
        dep_task_ids: Iterable[str],
        group_id: Optional[str] = None,
    ) -> None:
        """Buffer a task and its dep edges. Its ``ignored`` column is
        always False: an ignored task is removed (:meth:`remove_task`)."""
        if not self.enabled:
            return
        with self._lock:
            self._add("tasks", [
                (run_id, task_id, transformation_type, description,
                 list(schema_fields or []), group_id, False)
            ])
            self._add("task_deps", [(run_id, task_id, dep) for dep in dep_task_ids])

    def remove_task(self, run_id: str, task_id: str) -> None:
        """A11 ignore: drop the task row + its dep edges
        (reference: ignored tasks are never persisted, RDD.scala:238-241)."""
        if not self.enabled:
            return
        with self._lock:
            for table in ("tasks", "task_deps"):
                self._replace(table, run_id,
                              lambda r: None if r[1] == task_id else r)

    def rename_task(self, run_id: str, task_id: str, name: str) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._replace("tasks", run_id, lambda r: (
                r[:3] + (name,) + r[4:] if r[1] == task_id else r))

    def update_task_schema(
        self, run_id: str, task_id: str, schema_fields: Optional[list[str]]
    ) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._replace("tasks", run_id, lambda r: (
                r[:4] + (schema_fields,) + r[5:] if r[1] == task_id else r))

    def write_group(
        self, run_id, group_id, name, init_tasks, intermediary_tasks, finish_task
    ) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._add("transformation_groups", [
                (run_id, group_id, name, list(init_tasks),
                 list(intermediary_tasks), finish_task)
            ])

    # -- distributed element tables ---------------------------------------
    def _queue(self, name: str, df: DataFrame) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._pending_dfs[name].append(df)

    def append_elements(self, df: DataFrame) -> None:
        """Queue a DataFrame shaped like model.ELEMENTS for the next
        distributed batch write (see ``_pending_dfs`` in __init__)."""
        self._queue("elements", df)

    def append_element_deps(self, df: DataFrame) -> None:
        self._queue("element_deps", df)

    def schedule_flush(self) -> None:
        """Queue a drain of the deferred table writes on the flush worker,
        so they overlap the caller's next foreground action. The single
        worker serializes the drains (append jobs to one directory never
        run concurrently); flush() joins them, so nothing changes for
        readers — only WHEN the write jobs run."""
        if not self.enabled:
            return
        with self._lock:
            if not any(self._pending_dfs.values()):
                return
            if self._flush_pool is None:
                self._flush_pool = ThreadPoolExecutor(
                    max_workers=1, thread_name_prefix="prov-flush"
                )
            self._flush_futures.append(
                self._flush_pool.submit(self._flush_pending_dfs)
            )

    def _join_scheduled_flushes(self) -> None:
        """Wait for every queued drain, then raise the first failure: a
        failed drain must not let the caller return while later drains
        still write. A drain leaves the list only once it is over, so a
        second thread that joins meanwhile waits for it too."""
        with self._lock:
            futures = list(self._flush_futures)
        errors = [f.exception() for f in futures]  # waits for each
        with self._lock:
            done = set(futures)
            self._flush_futures = [f for f in self._flush_futures if f not in done]
        first = next((e for e in errors if e is not None), None)
        if first is not None:
            raise first

    def close(self) -> None:
        """Release the async-flush worker thread. Called by
        ProvSession.stop() after the final flush — a store that ever
        scheduled a flush would otherwise leak one idle thread (and its
        references) per session for the process lifetime. Idempotent;
        a closed store can still flush (schedule_flush lazily re-creates
        the pool if the store is reused)."""
        self._join_scheduled_flushes()
        with self._lock:
            pool, self._flush_pool = self._flush_pool, None
        if pool is not None:
            pool.shutdown(wait=True)

    def _flush_pending_dfs(self) -> None:
        """Flush-worker body: write all queued plans, one unioned Spark
        write job per table. The per-table jobs target independent
        directories, so they are submitted CONCURRENTLY (Spark schedules
        jobs from separate threads in parallel): drain wall-clock is
        max(tables), not sum — at small data the jobs are latency-bound,
        at scale they overlap I/O. Provenance parquet uses snappy: capture
        sits on the query's critical path, so cheap-CPU compression beats
        zstd's ratio here (snappy, not lz4 — DuckDB reads snappy parquet,
        and the q53/q59 oracles read the prov store directly)."""
        from functools import reduce

        with self._lock:
            batches = {
                name: dfs[:] for name, dfs in self._pending_dfs.items() if dfs
            }
            for name in batches:
                self._pending_dfs[name].clear()

        def _write(name, dfs):
            reduce(DataFrame.unionByName, dfs).write.mode("append").option(
                "compression", "snappy"
            ).parquet(os.path.join(self.prov_dir, name))

        with ThreadPoolExecutor(max_workers=max(1, len(batches))) as pool:
            list(pool.map(_write, batches, batches.values()))

    def append_filegroup_refs(self, df: DataFrame) -> None:
        """Queue a DataFrame shaped like model.FILEGROUP_REFS — O(#groups)
        refs — and start its write on the background worker, as
        persist_elements does for the element tables."""
        self._queue("filegroup_refs", df)
        self.schedule_flush()

    # -- element mutation (A17 parity) --------------------------------------
    # The reference DAO exposes update-element-value and delete-element
    # (CassandraDBDao.scala:150-170). Parquet is append-only, so mutations
    # are appended as versioned tombstone/override rows; readers resolve
    # latest-wins via read_elements_current().
    def _write_override(self, run_id, task_id, element_id, values, value_json):
        schema = T.StructType(
            list(model.ELEMENTS.fields) + [T.StructField("seq", T.LongType(), False)]
        )
        _write_rows_parquet(
            os.path.join(self.prov_dir, "element_overrides",
                         f"part-{uuid.uuid4().hex}.parquet"),
            [(run_id, task_id, element_id, values, value_json, time.time_ns())],
            schema,
        )

    def update_element_value(
        self, run_id: str, task_id: str, element_id: str, values, value_json=None
    ) -> None:
        if not self.enabled:
            return
        self._write_override(run_id, task_id, element_id, values, value_json)

    def delete_element(self, run_id: str, task_id: str, element_id: str) -> None:
        if not self.enabled:
            return
        self._write_override(run_id, task_id, element_id, None, "__deleted__")

    def read_elements_current(self, run_id: str) -> DataFrame:
        """elements with overrides applied: latest override wins; deleted
        elements are filtered out."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        base = self.table("elements").where(F.col("run_id") == run_id)
        path = os.path.join(self.prov_dir, "element_overrides")
        if not os.path.exists(path):
            return base
        w = Window.partitionBy("element_id").orderBy(F.desc("seq"))
        overrides = (
            self.spark.read.parquet(path)
            .where(F.col("run_id") == run_id)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)  # latest override wins
        )
        merged = base.join(
            overrides.select(
                "element_id",
                F.col("values").alias("_ov_values"),
                F.col("value_json").alias("_ov_json"),
            ),
            "element_id",
            "left",
        )
        return (
            merged.where(
                F.coalesce(F.col("_ov_json"), F.lit("")) != "__deleted__"
            )
            .select(
                "run_id",
                "task_id",
                "element_id",
                F.coalesce("_ov_values", "values").alias("values"),
                F.when(F.col("_ov_json").isNotNull(), F.col("_ov_json"))
                .otherwise(F.col("value_json"))
                .alias("value_json"),
            )
        )

    # -- flush / read ------------------------------------------------------
    def _run_file(self, table: str, run_id: str) -> str:
        return os.path.join(self.prov_dir, table, f"{run_id}.parquet")

    def flush(self) -> None:
        """Rewrite the metadata file of every changed (table, run), then
        drain the queued element writes on the flush worker and wait."""
        if not self.enabled:
            return
        with self._lock:
            for table, run_id in sorted(self._dirty):
                rows = [r for r in self._buffers[table] if r[0] == run_id]
                _write_rows_parquet(
                    self._run_file(table, run_id), rows, model.TABLES[table]
                )
                self._dirty.discard((table, run_id))
        self.schedule_flush()
        self._join_scheduled_flushes()

    def vacuum(
        self,
        keep_latest: "int | None" = None,
        keep_run_ids=None,
    ) -> dict:
        """Run-level retention: keep only the rows of the retained runs, and
        drop the rest. Retain either the ``keep_latest`` most recent
        executions (by start_time, run_id tiebreak) or an explicit
        ``keep_run_ids`` iterable.

        A dropped run's metadata files (``<table>/<run_id>.parquet``) are
        deleted, and its rows leave this store's memory so no later flush
        writes them back. The element tables hold runs interleaved across
        append files, so for them retention is a rewrite: each table is
        filtered and written to ``<table>.vacuum.tmp``, then swapped in
        (same two-rename discipline and stale-dir cleanup as
        plans/layout.compact_dataset — not atomic on a plain filesystem;
        the old data survives at ``.vacuum.old`` until the swap
        completes). At 100 TB the rewrite is a distributed filter-scan per
        table, O(surviving rows); run it from maintenance windows like any
        compaction. The reference has no retention story at all (Cassandra
        rows accumulate forever); this is north-star ops tooling.

        Returns ``{"kept_runs": [...], "dropped_runs": [...]}``.
        """
        import shutil

        self.flush()
        ex = self.table("executions")
        all_runs = [
            r["run_id"]
            for r in ex.select("run_id", "start_time")
            .orderBy(F.desc("start_time"), F.desc("run_id"))
            .collect()
        ]
        if keep_run_ids is not None:
            # Materialize ONCE: keep_run_ids may be a one-shot iterable
            # (generator) and rebuilding the set per element would both
            # exhaust it after the first run id (silently dropping runs
            # the caller asked to keep — a data-loss hazard in a
            # destructive tool) and cost O(n²).
            keep_set = set(keep_run_ids)
            keep = [r for r in all_runs if r in keep_set]
        elif keep_latest is not None:
            keep = all_runs[: max(0, keep_latest)]
        else:
            raise ValueError("vacuum needs keep_latest or keep_run_ids")
        keep_set = set(keep)
        dropped = [r for r in all_runs if r not in keep_set]
        if not dropped:
            return {"kept_runs": keep, "dropped_runs": []}

        gone = set(dropped)
        with self._lock:
            for table in self._buffers:
                self._buffers[table] = [
                    r for r in self._buffers[table] if r[0] not in gone
                ]
                for run_id in dropped:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(self._run_file(table, run_id))
            self._dirty = {k for k in self._dirty if k[1] not in gone}
        for name in ("elements", "element_deps", "filegroup_refs",
                     "element_overrides"):
            path = os.path.join(self.prov_dir, name)
            if not os.path.isdir(path):
                continue
            for stale in (path + ".vacuum.tmp", path + ".vacuum.old"):
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
            df = self.spark.read.parquet(path)
            kept_df = df.where(F.col("run_id").isin(keep))
            kept_df.write.mode("overwrite").parquet(path + ".vacuum.tmp")
            os.rename(path, path + ".vacuum.old")
            os.rename(path + ".vacuum.tmp", path)
            shutil.rmtree(path + ".vacuum.old")
        return {"kept_runs": keep, "dropped_runs": dropped}

    def table(self, name: str) -> DataFrame:
        """Read a provenance table, flushing first, so reads always see
        every write made through this store. The DataFrame lists its files
        when it is made, and a later flush rewrites a run's metadata file
        in place, so call ``table()`` again after a flush: Spark reads a
        rewritten file with the length it listed."""
        self.flush()
        path = os.path.join(self.prov_dir, name)
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema=model.TABLES[name])
        return self.spark.read.schema(model.TABLES[name]).parquet(path)

    def read_arrow(self, name: str, columns=None, **where):
        """Read-only view of a provenance table as a pyarrow Table, read
        straight from its parquet files: no Spark job and no flush, so it
        sees what has been flushed and nothing buffered. ``columns``
        projects; each ``where`` item is pushed down as ``column == value``
        (``isin`` for a list, set or tuple). A table with no directory yet
        reads as empty."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        schema = _arrow_schema(model.TABLES[name])
        path = os.path.join(self.prov_dir, name)
        if not os.path.isdir(path):
            return schema.empty_table().select(columns or schema.names)
        flt = None
        for col, val in where.items():
            if isinstance(val, (list, set, tuple)):
                e = ds.field(col).isin(pa.array(list(val), schema.field(col).type))
            else:
                e = ds.field(col) == val
            flt = e if flt is None else flt & e
        dataset = ds.dataset(path, schema=schema, format="parquet")
        return dataset.to_table(columns=columns, filter=flt)

    def export_graph_distributed(self, run_id: str, out_dir: str) -> None:
        """A16 at scale: stream the element graph as JSON-lines directories
        (``<out_dir>/nodes``, ``<out_dir>/links``) via distributed
        ``df.write.json`` — no driver collect. The single-file
        :meth:`export_graph` keeps the reference's exact {nodes, links}
        shape for fixture-scale graphs; past that, one JSON in driver
        memory is the bottleneck and this is the export to use."""
        elements = self.table("elements").where(F.col("run_id") == run_id)
        deps = self.table("element_deps").where(F.col("run_id") == run_id)
        elements.select(
            F.col("element_id").alias("id"),
            F.col("task_id").alias("task"),
            "values",
        ).write.mode("overwrite").json(os.path.join(out_dir, "nodes"))
        deps.select(
            F.col("dep_element_id").alias("source"),
            F.col("element_id").alias("target"),
            F.col("task_id").alias("task"),
        ).write.mode("overwrite").json(os.path.join(out_dir, "links"))

    def export_graph(self, run_id: str, path: str) -> dict:
        """A16: export the element graph as JSON {nodes, links}
        (reference br/uff/spark/DataflowProvenance.scala:106-132).
        Fixture-scale convenience — use :meth:`export_graph_distributed`
        when the graph exceeds driver memory."""
        elements = self.table("elements").where(F.col("run_id") == run_id)
        deps = self.table("element_deps").where(F.col("run_id") == run_id)
        nodes = [
            {"id": r["element_id"], "task": r["task_id"], "values": r["values"]}
            for r in elements.collect()
        ]
        links = [
            {"source": r["dep_element_id"], "target": r["element_id"],
             "task": r["task_id"]}
            for r in deps.collect()
        ]
        graph = {"nodes": nodes, "links": links}
        with open(path, "w") as f:
            json.dump(graph, f)
        return graph
