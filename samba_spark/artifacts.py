"""Artifact store — automatic version control for FileGroups (A9/A18).

Reference design (core/.../versioncontrol/VersionControl.scala:46-157,
GitServerManager.scala): every produced FileGroup is committed to a
per-execution branch on an embedded Gitblit server; executors clone, commit
and push; a driver-side service merges branches.

Ours is Spark-native and infrastructure-free: a content-addressed blob
directory (sha256, two-level fan-out — the same dedup a git object store
gives) plus a per-run parquet *manifest* (the "commit"). Blobs are written
executor-side straight from the DataFrame by :func:`put_blob` — no driver
round-trip, no git server; identical content across versions is stored
once. ``put_blob`` is the engine's one blob writer: FileGroup and media
column spills (``spill_contents``, ``multimodal.spill_binary_column``) use
it too. ``filegroup_refs`` rows are queued on the provenance store's
deferred writer so lineage queries can resolve an element to its artifact
folder (reference fileGroupReference CQL table). ``file_tree`` reads a
run's manifests with pyarrow, with no Spark job.

At 100 TB the blob root would be an object store (S3/HDFS) path; the layout
and manifest schema are unchanged.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from typing import Iterable, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from samba_spark.prov.model import PROV_ID
from samba_spark.sources.filegroup import resolve_file_content

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("group_name", T.StringType()),
        T.StructField("element_id", T.StringType()),
        T.StructField("file_name", T.StringType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("modified", T.BooleanType()),
        T.StructField("sha256", T.StringType()),
    ]
)


def put_blob(blob_dir: str, content: bytes) -> tuple[str, str]:
    """Store ``content`` under its sha256 in ``blob_dir`` (two-level
    fan-out) and return ``(sha, path)``; equal content is stored once.
    Each writer uses a temp name of its own, so two workers landing the
    same sha never interleave into one file, and ``os.replace`` publishes
    it whole (content is identical for an equal sha, so last-wins is
    safe)."""
    sha = hashlib.sha256(content).hexdigest()
    sub = os.path.join(blob_dir, sha[:2])
    path = os.path.join(sub, sha)
    if not os.path.exists(path):
        os.makedirs(sub, exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(content)
        os.replace(tmp, path)
    return sha, path


class ArtifactStore:
    def __init__(self, root: str):
        self.root = root
        self.blob_dir = os.path.join(root, "blobs")
        os.makedirs(self.blob_dir, exist_ok=True)

    def blob_path(self, sha: str) -> str:
        return os.path.join(self.blob_dir, sha[:2], sha)

    def commit(self, pdf, task_desc: Optional[str] = None) -> DataFrame:
        """A9: persist every file of every group (reference
        rdd/RDD.scala:206-230 persistFileGroupInGit). Executor-side blob
        writes + a manifest parquet under <root>/runs/<run_id>/; returns the
        manifest DataFrame."""
        session = pdf.session
        run_id = session.run_id
        blob_dir = self.blob_dir
        src = pdf.raw
        has_elem = pdf.elements_enabled and PROV_ID in src.columns
        elem_col = F.col(PROV_ID) if has_elem else F.lit(None).cast("string")

        exploded = src.select(
            F.col("group_name"),
            elem_col.alias("element_id"),
            F.explode("files").alias("f"),
        )

        def _write(batches: Iterable[pd.DataFrame]):
            for batch in batches:
                out = []
                for _, row in batch.iterrows():
                    f = row["f"]
                    sha, _ = put_blob(blob_dir, resolve_file_content(f))
                    out.append(
                        {
                            "group_name": row["group_name"],
                            "element_id": row["element_id"],
                            "file_name": f["name"],
                            "file_path": f["path"],
                            "size": int(f["size"] or 0),
                            "modified": bool(f["modified"]),
                            "sha256": sha,
                        }
                    )
                if out:
                    yield pd.DataFrame(out)

        manifest = exploded.mapInPandas(_write, MANIFEST_SCHEMA)
        # One commit dir per producing task (reference commit tree is
        # task.description/fileGroup.name/, VersionControl.scala:85-129).
        run_dir = os.path.join(self.root, "runs", run_id, pdf.task_id)
        manifest.write.mode("append").parquet(run_dir)
        # An explicit schema: inferring it would start a footer-reading job.
        written = session.spark.read.schema(MANIFEST_SCHEMA).parquet(run_dir)
        # provenance link: element → artifact folder (fileGroupReference).
        # A plan over the manifest just written, queued on the store's
        # deferred writer like the element tables: no foreground job here.
        refs = written.select("group_name", "element_id").distinct().select(
            F.lit(run_id).alias("run_id"),
            F.lit(pdf.task_id).alias("task_id"),
            F.col("element_id"),
            F.concat(
                F.lit(run_dir + os.sep), F.col("group_name")
            ).alias("folder_path"),
        )
        session.store.append_filegroup_refs(refs)
        return written

    def read_blob(self, sha: str) -> bytes:
        with open(self.blob_path(sha), "rb") as fh:
            return fh.read()

    def file_tree(self, run_id: str):
        """File-tree listing for a run (reference web API
        DataElementAPICtrl.kt:235-314 resolves trees via JGit TreeWalk):
        the run's manifests read with pyarrow as one Table, with no Spark
        job. A run with no commit raises FileNotFoundError."""
        import pyarrow.dataset as ds

        from samba_spark.prov.store import _arrow_schema

        run_dir = os.path.join(self.root, "runs", run_id)
        if not os.path.isdir(run_dir):
            raise FileNotFoundError(f"no manifest for run {run_id}")
        dataset = ds.dataset(
            run_dir, schema=_arrow_schema(MANIFEST_SCHEMA), format="parquet"
        )
        return dataset.to_table(
            columns=["group_name", "file_name", "size", "modified", "sha256"]
        )
