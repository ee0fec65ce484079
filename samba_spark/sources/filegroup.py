"""FileGroup source (A4) — named sets of in-memory files as DataFrame rows.

Reference model (core/src/main/java/br/uff/spark/advancedpipe/
FileGroup.java:20-39, FileElement.java:13-49): a FileGroup is a named set of
in-memory files plus an extraInfo map; ``sc.fileGroup(templates…)`` loads
each template's files via binaryFiles into one group per template
(SparkContext.scala:1339-1358).

Ours is one DataFrame row per group::

    group_name string,
    extra_info map<string,string>,
    files array<struct<path string, name string, size bigint,
                       modified boolean, content binary, content_ref string>>

built on ``spark.read.format("binaryFile")`` — distributed read, no
in-driver file materialization. At 100 TB file content past a size
threshold lives in a content-addressed blob store as a ``content_ref``
instead of inline bytes (SURVEY.md §4.2 hard spot (c)): see
:func:`spill_contents` / :func:`hydrate_contents`; every consumer resolves
refs via :func:`resolve_file_content`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILE_STRUCT = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("modified", T.BooleanType()),
        T.StructField("content", T.BinaryType()),
        # SURVEY.md §4.2 hard spot (c): past a size threshold the bytes
        # live in a content-addressed blob store and ``content`` is NULL;
        # ``content_ref`` holds the blob path. See spill_contents().
        T.StructField("content_ref", T.StringType()),
    ]
)

FILE_GROUP_SCHEMA = T.StructType(
    [
        T.StructField("group_name", T.StringType()),
        T.StructField("extra_info", T.MapType(T.StringType(), T.StringType())),
        T.StructField("files", T.ArrayType(FILE_STRUCT)),
    ]
)


@dataclass
class FileGroupTemplate:
    """Declarative loader spec (reference advancedpipe/
    FileGroupTemplate.scala:17-84: ofFile / ofFiles / ofDirectory(WithFilter)
    / explicit baseDir+files; optional name)."""

    paths: list[str]
    name: Optional[str] = None
    extra_info: dict[str, str] = field(default_factory=dict)

    @classmethod
    def of_file(cls, path: str, name: Optional[str] = None, **extra) -> "FileGroupTemplate":
        return cls([path], name=name, extra_info={k: str(v) for k, v in extra.items()})

    @classmethod
    def of_files(cls, paths: list[str], name: Optional[str] = None, **extra) -> "FileGroupTemplate":
        return cls(list(paths), name=name, extra_info={k: str(v) for k, v in extra.items()})

    @classmethod
    def of_directory(
        cls,
        directory: str,
        name: Optional[str] = None,
        file_filter: Optional[Callable[[str], bool]] = None,
        **extra,
    ) -> "FileGroupTemplate":
        files = sorted(
            os.path.join(directory, f)
            for f in os.listdir(directory)
            if os.path.isfile(os.path.join(directory, f))
            and (file_filter is None or file_filter(f))
        )
        return cls(files, name=name, extra_info={k: str(v) for k, v in extra.items()})

    @property
    def resolved_name(self) -> str:
        """Default name = sorted joined file names (reference
        FileGroup.java:30-39)."""
        if self.name:
            return self.name
        return ",".join(sorted(os.path.basename(p) for p in self.paths))


def _file_row(i, t: FileGroupTemplate, path, name, size, content):
    """The columns ``read_file_groups`` unions for one file of template
    ``i``: its group key, extra info and file struct."""
    kvs = [F.lit(x) for kv in sorted(t.extra_info.items()) for x in kv]
    return (
        F.lit(i).alias("_template"),
        F.lit(t.resolved_name).alias("group_name"),
        F.create_map(*kvs).cast("map<string,string>").alias("extra_info"),
        F.struct(
            path.alias("path"),
            name.alias("name"),
            size.cast("long").alias("size"),
            F.lit(False).alias("modified"),
            content.alias("content"),
            F.lit(None).cast("string").alias("content_ref"),
        ).alias("file"),
    )


def read_file_groups(session, templates, name: Optional[str] = None):
    """A4: one FileGroup row per template. All templates' files are read
    with the distributed binaryFile source and collected into each group's
    ``files`` array by one group-by (small per-group file sets by
    construction — the reference materializes them in executor memory
    too). Its one shuffle, ``repartitionById`` on the template index, puts
    template i in partition i mod min(#templates, defaultParallelism): jobs
    per read stay flat in the template count, and up to that many groups
    get a partition each, so their black-box stages run in parallel (a
    range exchange packs groups with few files together; a plain group-by
    lets AQE coalesce them into one partition). Groups are keyed by
    (template index, name): two templates with one name stay two groups.
    Spark's binaryFile scan makes no split for a zero-byte file, so the
    template's zero-byte files join the union as driver-built rows (size
    0, content ``b""``), and a template of only empty files still yields
    its group, as the reference's FileGroup does.
    """
    from functools import reduce

    from samba_spark.operators.wrapper import ProvDataFrame

    templates = list(templates)
    if not templates:
        raise ValueError("read_file_groups needs at least one template")
    spark: SparkSession = session.spark
    scans: list[DataFrame] = []
    empty_rows = []
    for i, t in enumerate(templates):
        scan = spark.read.format("binaryFile").load(t.paths)
        scans.append(scan.select(*_file_row(
            i, t, F.col("path"), F.element_at(F.split(F.col("path"), "/"), -1),
            F.col("length"), F.col("content"),
        )))
        empty_rows += [
            F.struct(*_file_row(i, t, F.lit("file:" + os.path.abspath(p)),
                                F.lit(os.path.basename(p)), F.lit(0),
                                F.lit(bytearray())))
            for p in t.paths
            if os.path.isfile(p) and os.path.getsize(p) == 0
        ]
    if empty_rows:  # literal rows in one partition: no Python worker, no job
        scans.append(spark.range(0, 1, 1, 1).select(F.inline(F.array(*empty_rows))))
    n = min(len(templates), spark.sparkContext.defaultParallelism)
    df = (
        reduce(DataFrame.unionByName, scans)
        .repartitionById(n, "_template")
        .groupBy("_template", "group_name")
        .agg(
            F.first("extra_info").alias("extra_info"),
            F.array_sort(F.collect_list("file")).alias("files"),
        )
        .drop("_template")
    )
    return ProvDataFrame._source(
        session, df, op="fileGroup", desc=name or f"fileGroup[{len(templates)}]"
    )


def resolve_file_content(f) -> bytes:
    """Bytes of one file struct, following ``content_ref`` when the bytes
    were spilled to the blob store. Works on Row, dict, or pandas struct."""
    content = f["content"]
    if content is not None:
        return bytes(content)
    try:
        ref = f["content_ref"]
    except (KeyError, ValueError, IndexError):
        ref = None
    if ref:
        with open(ref, "rb") as fh:
            return fh.read()
    return b""


def _file_as_dict(f) -> dict:
    keys = ("path", "name", "size", "modified", "content", "content_ref")
    out = {}
    for k in keys:
        try:
            out[k] = f[k]
        except (KeyError, ValueError, IndexError):
            out[k] = None
    return out


def _map_files(pdf, fn: Callable[[dict], dict], desc: str):
    """Rewrite every file of every group with ``fn(file dict) -> file
    dict`` in one ``mapInPandas`` pass. A value-preserving physical
    rewrite: provenance ids and deps pass through unchanged."""
    from samba_spark.operators.wrapper import ProvDataFrame

    src = pdf.raw

    def _rewrite(batches):
        for batch in batches:
            batch = batch.copy()
            batch["files"] = [
                [fn(_file_as_dict(f)) for f in files] for files in batch["files"]
            ]
            yield batch

    return ProvDataFrame(
        pdf.session,
        src.mapInPandas(_rewrite, src.schema),
        op="map",
        desc=desc,
        parents=[pdf],
        elements_enabled=pdf.elements_enabled,
    )


def spill_contents(pdf, blob_root: str, threshold: int = 1 << 20):
    """Move file contents ≥ ``threshold`` bytes out of the DataFrame into
    the content-addressed blob directory ``<blob_root>/blobs`` (written by
    :func:`samba_spark.artifacts.put_blob`, the ArtifactStore's writer),
    leaving ``content = NULL`` and ``content_ref = <blob path>`` in the
    row.

    This is the 100 TB contract for FileGroups (SURVEY.md §4.2 hard spot
    (c)): a shuffle or Arrow batch must never carry multi-GB payloads
    inline. After spilling, a FileGroup row costs O(#files × ref) bytes on
    the wire regardless of content size; every consumer (run_command,
    save_files_at, ArtifactStore.commit) resolves refs transparently via
    :func:`resolve_file_content`. ``blob_root`` must be storage every
    executor can reach — a shared filesystem locally, an object-store
    mount at cluster scale (same requirement the artifact store already
    has). Writes are executor-side, content-addressed and atomic, so
    duplicate content across groups stores once and concurrent writers of
    equal blobs are safe."""
    from samba_spark.artifacts import put_blob

    blob_dir = os.path.join(blob_root, "blobs")
    os.makedirs(blob_dir, exist_ok=True)

    def _spill(d):
        content = d["content"]
        if content is not None and len(content) >= threshold:
            _, d["content_ref"] = put_blob(blob_dir, bytes(content))
            d["content"] = None
        return d

    return _map_files(pdf, _spill, f"spillContents(>={threshold}B)")


def hydrate_contents(pdf):
    """Inverse of :func:`spill_contents`: read every ``content_ref`` back
    into inline ``content`` bytes (e.g. before handing groups to a consumer
    outside the engine). Executor-side reads; refs must be reachable from
    every executor."""

    def _hydrate(d):
        if d["content"] is None and d["content_ref"]:
            d["content"] = resolve_file_content(d)
            d["content_ref"] = None
        return d

    return _map_files(pdf, _hydrate, "hydrateContents")
