"""Provenance store: parquet tables under one run directory.

Driver-side metadata (executions, tasks, task_deps, transformation_groups)
is buffered in memory and flushed as small parquet files — these tables
are O(#operators), tiny. The element-level tables (elements, element_deps)
and the artifact store's ``filegroup_refs`` are *distributed* DataFrame
appends, queued as plans and written by one deferred writer: at 100 TB the
element tables dwarf the data, so they must never pass through the driver.
``read_arrow`` is the read-only serving path: pyarrow scans of the flushed
files, with no Spark job and no flush.

Reference contrast: SAMbA issues one async Cassandra insert per record from
each executor (br/uff/spark/database/CassandraDBDao.scala:131-142); we write
columnar batches per partition instead.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from samba_spark.prov import model


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


def _write_rows_parquet(dir_path: str, rows: list[tuple], spark_schema) -> None:
    """Write driver-side buffered rows as one parquet file WITHOUT a Spark
    job. A 1-row createDataFrame(...).coalesce(1).write costs ~5 s in local
    mode (32 Python partitions funneled through one task, one Python-worker
    round-trip each); pyarrow does it in milliseconds, and Spark reads the
    file back with the same explicit schema."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _arrow_schema(spark_schema)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)]
    table = pa.Table.from_arrays(arrays, schema=schema)
    os.makedirs(dir_path, exist_ok=True)
    # Readers do not wait for a flush, so the file appears whole or not at
    # all: it is written under a dot-prefixed name (Spark, pyarrow and the
    # ``*.parquet`` globs all skip it) and renamed into place.
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(dir_path, f".{name}.tmp")
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(dir_path, name))
    finally:
        if os.path.exists(tmp):  # only when the write or rename failed
            os.remove(tmp)


class ProvStore:
    def __init__(self, spark: SparkSession, prov_dir: str, enabled: bool = True):
        self.spark = spark
        self.prov_dir = prov_dir
        self.enabled = enabled
        self._lock = threading.Lock()
        self._buffers: dict[str, list[tuple]] = {
            "executions": [],
            "tasks": [],
            "task_deps": [],
            "transformation_groups": [],
        }
        # Deferred distributed appends: each persist_elements() contributes
        # two lazy DataFrames (elements + deps), each ArtifactStore.commit
        # one (filegroup_refs, over the manifest it has just written);
        # writing them eagerly costs one Spark write job each (~0.3-0.5 s
        # of scheduling + parquet commit overhead PER STAGE). Instead the
        # plans are buffered and union-written in ONE job per table at
        # flush — the batch analogue of the reference's fire-and-forget
        # async inserts (CassandraDBDao.scala:39-57): visibility is
        # deferred, capture is not. Safe because persist_elements caches its source first, so
        # the buffered plan re-reads the cache, not the input, and the refs
        # plan reads manifest files listed when it was built.
        self._pending_dfs: dict[str, list[DataFrame]] = {
            "elements": [],
            "element_deps": [],
            "filegroup_refs": [],
        }
        # Async flush worker: persist_elements() schedules the deferred
        # element/dep writes here so they OVERLAP the caller's foreground
        # action instead of adding two fixed write-job latencies after it
        # (the §6 ≤2× element-capture budget is dominated by exactly those
        # latencies on short pipelines). Single worker: scheduled flushes
        # serialize, so two append jobs never target the same parquet
        # directory concurrently (a shared _temporary staging dir would
        # race); WITHIN one flush the two tables still write concurrently
        # (independent directories). flush() joins outstanding work before
        # its own synchronous drain, so read-your-writes semantics and the
        # flush-inclusive overhead timer are unchanged.
        self._flush_pool: "ThreadPoolExecutor | None" = None
        self._flush_futures: list = []
        # Serializes whole-batch drains across ALL threads — the worker
        # pool only serializes drains submitted to it, but flush()/table()
        # also drain synchronously, and two HTTP-handler threads joining
        # disjoint future snapshots could otherwise drain concurrently and
        # race two append jobs on one directory's _temporary staging dir.
        self._drain_mutex = threading.Lock()
        # run_id → (name, start_time) for executions whose OPEN row may
        # already have been flushed; lets finish_execution append a
        # completed row instead of silently dropping the end_time
        self._open_execs: dict[str, tuple] = {}
        if enabled:
            os.makedirs(prov_dir, exist_ok=True)

    # -- driver-side metadata ---------------------------------------------
    def write_execution(self, run_id: str, name: str, start_time: float) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._buffers["executions"].append((run_id, name, start_time, None))
            # remembered past flush so finish_execution can still record
            # the end_time after the open row left the buffer (see below)
            self._open_execs[run_id] = (name, start_time)

    def finish_execution(self, run_id: str, end_time: float) -> None:
        if not self.enabled:
            return
        with self._lock:
            rows = self._buffers["executions"]
            for i, r in enumerate(rows):
                if r[0] == run_id:
                    rows[i] = (r[0], r[1], r[2], end_time)
                    self._open_execs.pop(run_id, None)
                    return
            # The open row was already flushed to parquet (any mid-run
            # flush() — including the implicit one every table() read
            # performs — used to make the later stop()'s end_time update
            # a silent no-op: the row left the buffer with end_time NULL
            # and nothing ever completed it). Append a COMPLETED row for
            # the same run instead; table("executions") dedupes per
            # run_id preferring the completed row, so DAO readers see
            # exactly one row per run. NOTE: readers that bypass the DAO
            # and scan the parquet directory raw (q75's oracle must —
            # DuckDB has no DAO) will see BOTH rows for a mid-run-flushed
            # run and must dedupe per run_id themselves; a run with the
            # normal open→stop lifecycle still writes exactly one row.
            meta = self._open_execs.pop(run_id, None)
            if meta is not None:
                rows.append((run_id, meta[0], meta[1], end_time))

    def write_task(
        self,
        run_id: str,
        task_id: str,
        transformation_type: str,
        description: Optional[str],
        schema_fields: Optional[list[str]],
        dep_task_ids: Iterable[str],
        group_id: Optional[str] = None,
        ignored: bool = False,
    ) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._buffers["tasks"].append(
                (run_id, task_id, transformation_type, description,
                 list(schema_fields or []), group_id, bool(ignored))
            )
            for dep in dep_task_ids:
                self._buffers["task_deps"].append((run_id, task_id, dep))

    def remove_task(self, run_id: str, task_id: str) -> None:
        """A11 ignore: drop the task row + its dep edges from the buffers
        (reference: ignored tasks are never persisted, RDD.scala:238-241)."""
        if not self.enabled:
            return
        with self._lock:
            self._buffers["tasks"] = [
                r for r in self._buffers["tasks"]
                if not (r[0] == run_id and r[1] == task_id)
            ]
            self._buffers["task_deps"] = [
                r for r in self._buffers["task_deps"]
                if not (r[0] == run_id and r[1] == task_id)
            ]

    def rename_task(self, run_id: str, task_id: str, name: str) -> None:
        if not self.enabled:
            return
        with self._lock:
            rows = self._buffers["tasks"]
            for i, r in enumerate(rows):
                if r[0] == run_id and r[1] == task_id:
                    rows[i] = (r[0], r[1], r[2], name, r[4], r[5], r[6])

    def update_task_schema(
        self, run_id: str, task_id: str, schema_fields: Optional[list[str]]
    ) -> None:
        if not self.enabled:
            return
        with self._lock:
            rows = self._buffers["tasks"]
            for i, r in enumerate(rows):
                if r[0] == run_id and r[1] == task_id:
                    rows[i] = (r[0], r[1], r[2], r[3], schema_fields, r[5], r[6])

    def write_group(
        self, run_id, group_id, name, init_tasks, intermediary_tasks, finish_task
    ) -> None:
        if not self.enabled:
            return
        with self._lock:
            self._buffers["transformation_groups"].append(
                (run_id, group_id, name, list(init_tasks),
                 list(intermediary_tasks), finish_task)
            )

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
        """Kick the deferred table writes off on the background
        worker so they overlap the caller's next foreground action. The
        single worker serializes whole-batch flushes (append jobs to one
        directory never run concurrently); flush() joins all scheduled
        work, so nothing changes for readers — only WHEN the write jobs
        run (during the foreground action, not after it)."""
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
        with self._lock:
            futures, self._flush_futures = self._flush_futures, []
        for f in futures:
            f.result()  # propagate any write failure to the caller

    def close(self) -> None:
        """Release the async-flush worker thread. Called by
        ProvSession.stop() after the final flush — a store that ever
        scheduled a flush would otherwise leak one idle thread (and its
        references) per session for the process lifetime. Idempotent;
        a closed store can still flush synchronously (schedule_flush
        lazily re-creates the pool if the store is reused)."""
        self._join_scheduled_flushes()
        with self._lock:
            pool, self._flush_pool = self._flush_pool, None
        if pool is not None:
            pool.shutdown(wait=True)

    def _flush_pending_dfs(self) -> None:
        """Write all queued plans — one unioned Spark write job
        per table instead of one per persist_elements call. The per-table
        jobs target independent directories, so they are submitted
        CONCURRENTLY (Spark schedules jobs from separate threads in
        parallel): flush wall-clock is max(tables), not sum — at small
        data the jobs are latency-bound, at scale they overlap I/O.
        Provenance parquet uses snappy: capture sits on the query's
        critical path, so cheap-CPU compression beats zstd's ratio here
        (snappy, not lz4 — DuckDB reads snappy parquet, and the q53/q59
        oracles read the prov store directly)."""
        from concurrent.futures import ThreadPoolExecutor
        from functools import reduce

        with self._drain_mutex:
            with self._lock:
                batches = {
                    name: dfs[:]
                    for name, dfs in self._pending_dfs.items()
                    if dfs
                }
                for name in batches:
                    self._pending_dfs[name].clear()
            if not batches:
                return

            def _write(item):
                name, dfs = item
                out = (
                    dfs[0]
                    if len(dfs) == 1
                    else reduce(lambda a, b: a.unionByName(b), dfs)
                )
                out.write.mode("append").option(
                    "compression", "snappy"
                ).parquet(os.path.join(self.prov_dir, name))

            if len(batches) == 1:
                _write(next(iter(batches.items())))
            else:
                with ThreadPoolExecutor(max_workers=len(batches)) as pool:
                    list(pool.map(_write, batches.items()))

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
            os.path.join(self.prov_dir, "element_overrides"),
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
    def flush(self) -> None:
        if not self.enabled:
            return
        self._join_scheduled_flushes()
        with self._lock:
            for name, rows in self._buffers.items():
                if not rows:
                    continue
                _write_rows_parquet(
                    os.path.join(self.prov_dir, name), rows, model.TABLES[name]
                )
                rows.clear()
        self._flush_pending_dfs()

    def vacuum(
        self,
        keep_latest: "int | None" = None,
        keep_run_ids=None,
    ) -> dict:
        """Run-level retention: rewrite every provenance table keeping only
        rows of the retained runs, and drop the rest. Retain either the
        ``keep_latest`` most recent executions (by start_time, run_id
        tiebreak) or an explicit ``keep_run_ids`` iterable.

        The store is append-only parquet with runs interleaved across
        files, so retention is a rewrite, not a file delete: each table is
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

        table_names = list(model.TABLES) + ["element_overrides"]
        for name in table_names:
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
        """Read a provenance table (flushing pending driver-side rows and
        queued element batches first, so reads always see every append)."""
        if name in self._buffers:
            self.flush()
        if name in self._pending_dfs:
            # join any flush scheduled on the background worker first —
            # read-your-writes must hold whether the batch is still
            # queued here or already in flight on the async path
            self._join_scheduled_flushes()
            if self._pending_dfs[name]:
                self._flush_pending_dfs()
        path = os.path.join(self.prov_dir, name)
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema=model.TABLES[name])
        df = self.spark.read.schema(model.TABLES[name]).parquet(path)
        if name == "executions":
            # one row per run: a run whose open (end_time NULL) row was
            # flushed mid-run gets a second, COMPLETED row at stop()
            # (finish_execution above) — prefer it. No-op for the normal
            # single-row-per-run lifecycle.
            from pyspark.sql import Window

            w = Window.partitionBy("run_id").orderBy(
                F.col("end_time").desc_nulls_last()
            )
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        return df

    def read_arrow(self, name: str, columns=None, **where):
        """Read-only view of a provenance table as a pyarrow Table, read
        straight from its parquet files: no Spark job and no flush, so it
        sees what has been flushed and nothing buffered. ``columns``
        projects; each ``where`` item is pushed down as ``column == value``
        (``isin`` for a list, set or tuple). A table with no directory yet
        reads as empty. ``executions`` keeps :meth:`table`'s rule: one row
        per run, the completed row winning over an open one."""
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
        if name != "executions":
            return dataset.to_table(columns=columns, filter=flt)
        # completed rows sort first (nulls last), then the first row per run
        t = dataset.to_table(filter=flt).sort_by([("end_time", "descending")])
        first = {}
        for i, run_id in enumerate(t["run_id"].to_pylist()):
            first.setdefault(run_id, i)
        keep = pa.array(list(first.values()), pa.int64())
        return t.take(keep).select(columns or schema.names)

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
