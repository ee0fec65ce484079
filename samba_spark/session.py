"""Session management.

``ProvSession`` is the engine's entry point: it wraps a ``SparkSession``,
registers one *execution* (run) row per lifetime, hands out
provenance-wrapped DataFrames, and flushes run/task metadata on ``stop()``.

Reference parity: SAMbA hooks SparkContext construction to open the
provenance store and insert the Execution row
(reference core/src/main/scala/org/apache/spark/SparkContext.scala:382-391,
br/uff/spark/DataflowProvenance.scala:29-37) and stamps EndTime on stop
(DataflowProvenance.scala:95-103). Our provenance store is a directory of
parquet tables (see samba_spark/prov/model.py) instead of Cassandra — writes
are per-partition batched, never per-record RPC.
"""

from __future__ import annotations

import atexit
import getpass
import os
import tempfile
import time
import uuid
from typing import Optional

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Tuned-for-local-mode defaults. On a real cluster these come from
# spark-submit; everything here is also sane at 1000 executors (AQE
# coalesces the 2x-overprovisioned shuffle partitions back down).
_SESSION_CONF = {
    # AQE: runtime re-planning — partition coalescing, skew-join splitting,
    # dynamic broadcast conversion. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / mapInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Timestamps in fixtures are timezone-naive; pin session TZ so
    # Spark agrees with DuckDB byte-for-byte.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    # events.parquet carries TIMESTAMP(NANOS) which Spark refuses by
    # default; read as long and convert in sources.tables.load_tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Don't let tiny fixture files produce one-partition plans that hide
    # distribution bugs; at 100 TB the default 128m is right.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    # Local mode runs everything (scheduler, shuffle, broadcasts, all 32
    # executor threads) inside the DRIVER JVM, whose stock heap is 1g —
    # broadcast builds OOM at ~10× the bench SF and the 172-query bench
    # session runs GC-bound. 16g is ~1/8 of the container's RAM; ignored
    # when an existing session is reused (getOrCreate) and overridable via
    # extra_conf. On a real cluster set executor/driver memory in submit
    # conf as usual — this default only matters for the local JVM.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def get_spark(
    app_name: str = "samba_spark",
    master: Optional[str] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's tuned defaults."""
    # Executor Python workers must be able to import this package: closures
    # (black-box runner, pandas UDFs) reference samba_spark.* by module path.
    # Local mode: export via PYTHONPATH before the JVM forks workers. On a
    # real cluster ship the package with --py-files / pip instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + current if current else "")
        )
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    for k, v in _SESSION_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class ProvSession:
    """Engine session = SparkSession + provenance run registry.

    Parameters mirror the reference's SparkConf toggles
    (core/src/main/scala/org/apache/spark/SparkConf.scala:636-657):

    - ``provenance``  ↔ ``spark.sciSpark.enableProvenance`` (A1)
    - ``script_dir``  ↔ ``spark.sciSpark.internalScriptDir`` (A3)

    ``spark.sciSpark.versionControl`` (A2) has no toggle: a run versions
    its outputs by calling ``ArtifactStore.commit`` (or
    ``GitArtifactBackend``) explicitly.
    """

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        *,
        name: str = "samba_run",
        provenance: bool = True,
        prov_dir: Optional[str] = None,
        script_dir: Optional[str] = None,
    ):
        self.spark = spark or get_spark(app_name=name)
        self.name = name
        self.provenance_enabled = provenance
        self.script_dir = script_dir
        self.run_id = str(uuid.uuid4())
        self.start_time = time.time()
        self.end_time: Optional[float] = None
        # Default prov root is PER-USER under the system temp dir. This
        # avoids benign cross-user collisions on a shared host; it does
        # NOT defeat a hostile local user (the name is still predictable
        # inside a sticky-bit world-writable dir, so an attacker can
        # pre-create or symlink it before the first run) — on hostile
        # multi-user hosts pass prov_dir / SAMBA_PROV_DIR pointing at a
        # directory you own. Computed LAZILY: callers who provide either
        # override never evaluate getpass.getuser(), which can raise for
        # UIDs with no passwd entry (containers); uid is the fallback.
        if prov_dir:
            self.prov_dir = prov_dir
        else:
            root = os.environ.get("SAMBA_PROV_DIR")
            if root is None:
                try:
                    who = getpass.getuser()
                except Exception:  # no passwd entry / env (K8s arbitrary UID)
                    who = str(os.getuid()) if hasattr(os, "getuid") else "u"
                root = os.path.join(
                    tempfile.gettempdir(), f"samba_prov_{who}"
                )
            self.prov_dir = os.path.join(root, self.run_id)
        self._stopped = False
        # Late imports to keep session import-light.
        from samba_spark.prov.store import ProvStore

        self.store = ProvStore(self.spark, self.prov_dir, enabled=provenance)
        if provenance:
            self.store.write_execution(self.run_id, self.name, self.start_time)
        from samba_spark.groups import GroupManager

        self.groups = GroupManager(self)
        atexit.register(self._atexit)

    # -- data ingress ------------------------------------------------------
    def read_parquet(self, path: str, name: Optional[str] = None):
        from samba_spark.operators.wrapper import ProvDataFrame

        df = self.spark.read.parquet(path)
        return ProvDataFrame._source(self, df, op="read_parquet", desc=name or path)

    def sql(self, query: str, name: Optional[str] = None):
        """Spark SQL entry point with task-grain provenance: the query
        text is the task description, the result is a wrapped
        ProvDataFrame so downstream operators keep recording lineage
        (and column_lineage() resolves THROUGH the SQL — the analyzed
        plan doesn't care how the plan was authored). The reference has
        no SQL surface at all (SURVEY §0: Catalyst is in-tree but
        uninstrumented); here it is a first-class provenance source."""
        from samba_spark.operators.wrapper import ProvDataFrame

        df = self.spark.sql(query)
        return ProvDataFrame._source(
            self, df, op="sql", desc=name or query.strip()[:200]
        )

    def read_text(self, path: str, wholetext: bool = False):
        from samba_spark.operators.wrapper import ProvDataFrame
        from samba_spark.sources import readers

        df = readers.read_text(self.spark, path, wholetext=wholetext)
        return ProvDataFrame._source(
            self, df, op="wholeTextFiles" if wholetext else "textFile", desc=path
        )

    def read_csv(self, path: str, **kw):
        from samba_spark.operators.wrapper import ProvDataFrame
        from samba_spark.sources import readers

        return ProvDataFrame._source(
            self, readers.read_csv(self.spark, path, **kw), op="hadoopFile", desc=path
        )

    def read_json(self, path: str, **kw):
        from samba_spark.operators.wrapper import ProvDataFrame
        from samba_spark.sources import readers

        return ProvDataFrame._source(
            self, readers.read_json(self.spark, path, **kw), op="hadoopFile", desc=path
        )

    def read_binary(self, path: str):
        from samba_spark.operators.wrapper import ProvDataFrame
        from samba_spark.sources import readers

        return ProvDataFrame._source(
            self, readers.read_binary(self.spark, path), op="binaryFiles", desc=path
        )

    def create_dataframe(self, data, schema=None, name: str = "parallelize"):
        from samba_spark.operators.wrapper import ProvDataFrame

        df = self.spark.createDataFrame(data, schema)
        return ProvDataFrame._source(self, df, op="parallelize", desc=name)

    def file_groups(self, *templates, name: Optional[str] = None):
        """A4: load file-group templates into one row per group
        (reference core/.../SparkContext.scala:1339-1358)."""
        from samba_spark.sources.filegroup import read_file_groups

        return read_file_groups(self, templates, name=name)

    # -- scopes ------------------------------------------------------------
    def group(self, group_name: str):
        """A13 transformation-group scope
        (reference br/uff/spark/TransformationGroup.scala:6-33)."""
        return self.groups.scope(group_name)

    # -- lifecycle ---------------------------------------------------------
    def stop(self) -> None:
        if self._stopped:
            return
        self._stopped = True
        self.end_time = time.time()
        if self.provenance_enabled:
            self.store.finish_execution(self.run_id, self.end_time)
            self.store.flush()
            self.store.close()  # release the async-flush worker thread

    def _atexit(self) -> None:
        try:
            self.stop()
        except Exception:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.stop()
        return False
