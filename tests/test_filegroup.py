"""A4 file-group reads: one shuffle for every template, one partition per
group while groups fit the cores, and the per-template semantics of the
reference's ``sc.fileGroup(templates…)`` (SparkContext.scala:1339-1358).
Plus the ``filegroup_refs`` rows that ``ArtifactStore.commit`` queues on
the provenance store's deferred writer."""

import os
import uuid
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from samba_spark.artifacts import ArtifactStore
from samba_spark.prov.model import PROV_ID
from samba_spark.sources.filegroup import FileGroupTemplate, read_file_groups


@pytest.fixture()
def files(tmp_path):
    """40 small files f00.txt … f39.txt with distinct contents."""
    d = tmp_path / "in"
    d.mkdir()
    for i in range(40):
        (d / f"f{i:02d}.txt").write_text(f"file {i}\n")
    return lambda *idx: [str(d / f"f{i:02d}.txt") for i in idx]


def _jobs(spark, call):
    sc = spark.sparkContext
    group = f"fg-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_jobs_per_read_flat_in_template_count(engine, spark, files):
    def read(k):
        ts = [FileGroupTemplate.of_file(files(i)[0], name=f"g{i}") for i in range(k)]
        return _jobs(spark, lambda: engine.file_groups(*ts).raw.collect())

    rows3, jobs3 = read(3)
    rows32, jobs32 = read(32)
    assert len(rows3) == 3 and len(rows32) == 32
    assert jobs3 and len(jobs3) == len(jobs32)


@pytest.mark.parametrize("capture", [False, True])
def test_groups_land_in_distinct_partitions(engine, spark, files, capture):
    """Up to defaultParallelism groups get a partition each, so their
    black-box stages run in parallel — also when file counts differ, which
    a sampled range exchange would pack into one partition."""
    cores = spark.sparkContext.defaultParallelism
    k = min(3, cores)
    counts = [1, 1, 8][:k]
    start = [sum(counts[:i]) for i in range(k)]
    ts = [
        FileGroupTemplate.of_files(files(*range(s, s + c)), name=f"g{i}")
        for i, (s, c) in enumerate(zip(start, counts))
    ]
    pdf = engine.file_groups(*ts)
    if capture:
        pdf = pdf.with_elements()
        pdf.persist_elements()
    rows = pdf.raw.select("group_name", F.spark_partition_id().alias("pid")).collect()
    assert sorted(r.group_name for r in rows) == [f"g{i}" for i in range(k)]
    assert len({r.pid for r in rows}) == k


def test_more_groups_than_cores_fill_every_partition(engine, spark, files):
    cores = spark.sparkContext.defaultParallelism
    k = min(cores + 2, 40)
    ts = [FileGroupTemplate.of_file(files(i)[0], name=f"g{i}") for i in range(k)]
    rows = (
        engine.file_groups(*ts)
        .raw.select("group_name", F.spark_partition_id().alias("pid"))
        .collect()
    )
    assert len(rows) == k
    assert {r.pid for r in rows} == set(range(min(k, cores)))


def test_per_template_parity(engine, files):
    """Two templates with one name stay two rows, a file in two templates
    is in both groups, each template keeps its extra_info, and files are
    sorted by path within a group."""
    ts = [
        FileGroupTemplate.of_files(files(3, 1, 2), name="same", K="a"),
        FileGroupTemplate.of_files(files(2, 5), name="same", K="b"),
        FileGroupTemplate.of_file(files(7)[0], name="other"),
    ]
    rows = engine.file_groups(*ts).collect()
    got = sorted(
        ((r.group_name, r.extra_info, [f.name for f in r.files]) for r in rows),
        key=lambda g: (g[0], sorted(g[1].items())),
    )
    assert got == [
        ("other", {}, ["f07.txt"]),
        ("same", {"K": "a"}, ["f01.txt", "f02.txt", "f03.txt"]),
        ("same", {"K": "b"}, ["f02.txt", "f05.txt"]),
    ]
    for r in rows:
        for f in r.files:
            assert bytes(f.content) == Path(f.path.removeprefix("file:")).read_bytes()


def test_zero_byte_files_stay_in_their_groups(engine, spark, files, tmp_path):
    """Spark's binaryFile scan makes no split for an empty file; the read
    still lists it with size 0 and empty content, a template of only empty
    files still yields its group, and the read starts as many jobs as one
    without empty files."""
    d = tmp_path / "empty"
    d.mkdir()
    empty, only = d / "empty.txt", d / "only_empty.txt"
    empty.touch()
    only.touch()
    one, two = files(1)[0], files(2)[0]
    ts = [
        FileGroupTemplate.of_files([str(empty), one], name="mixed", K="v"),
        FileGroupTemplate.of_file(str(only), name="only_empty"),
    ]
    rows, jobs = _jobs(spark, lambda: engine.file_groups(*ts).raw.collect())
    got = {
        r.group_name: (r.extra_info, [
            (f.path, f.name, f.size, bytes(f.content)) for f in r.files
        ])
        for r in rows
    }
    assert got == {
        "mixed": ({"K": "v"}, [
            (f"file:{empty}", "empty.txt", 0, b""),
            (f"file:{one}", "f01.txt", 7, b"file 1\n"),
        ]),
        "only_empty": ({}, [(f"file:{only}", "only_empty.txt", 0, b"")]),
    }
    plain = [FileGroupTemplate.of_file(one, name="a"),
             FileGroupTemplate.of_file(two, name="b")]
    _, plain_jobs = _jobs(spark, lambda: engine.file_groups(*plain).raw.collect())
    assert len(jobs) == len(plain_jobs)


def test_no_templates_is_a_value_error(engine):
    with pytest.raises(ValueError, match="at least one template"):
        read_file_groups(engine, [])
    with pytest.raises(ValueError, match="at least one template"):
        engine.file_groups()


def test_template_generator_is_read_once(engine, files):
    ts = (FileGroupTemplate.of_file(files(i)[0], name=f"g{i}") for i in range(3))
    pdf = read_file_groups(engine, ts)
    assert pdf.desc == "fileGroup[3]"
    assert sorted(r.group_name for r in pdf.collect()) == ["g0", "g1", "g2"]


def test_commit_refs_go_through_the_deferred_writer(engine, spark, files, tmp_path):
    """commit queues its filegroup_refs on the store's deferred writer:
    queuing starts no Spark job, store.table() sees the refs, and after
    stop() the parquet holds one row per committed group."""
    ts = [FileGroupTemplate.of_files(files(2 * i, 2 * i + 1), name=f"g{i}") for i in range(3)]
    pdf = engine.file_groups(*ts).with_elements()
    pdf.persist_elements()
    store = ArtifactStore(str(tmp_path / "artifacts"))
    manifest = store.commit(pdf)

    refs = manifest.select("group_name", "element_id").distinct().select(
        F.lit(engine.run_id).alias("run_id"),
        F.lit("extra-task").alias("task_id"),
        "element_id",
        F.col("group_name").alias("folder_path"),
    )
    _, jobs = _jobs(spark, lambda: engine.store.append_filegroup_refs(refs))
    assert jobs == []

    run_dir = os.path.join(store.root, "runs", engine.run_id, pdf.task_id)
    element_of = {r.group_name: r[PROV_ID] for r in pdf.raw.collect()}
    want = {
        (engine.run_id, pdf.task_id, element_of[g], os.path.join(run_dir, g))
        for g in ("g0", "g1", "g2")
    }
    seen = {
        tuple(r) for r in engine.store.table("filegroup_refs")
        .where(F.col("task_id") == pdf.task_id).collect()
    }
    assert seen == want

    engine.stop()
    on_disk = pq.read_table(
        os.path.join(engine.store.prov_dir, "filegroup_refs")
    ).to_pylist()
    assert {
        (r["run_id"], r["task_id"], r["element_id"], r["folder_path"])
        for r in on_disk if r["task_id"] == pdf.task_id
    } == want
    assert sum(r["task_id"] == "extra-task" for r in on_disk) == 3
