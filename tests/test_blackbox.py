"""M3: FileGroups + black-box execution + artifact store — the FIXTURES.md
black-box fixture (SciPhy-pattern with POSIX tools)."""

import os
import re

import pytest
from pyspark.sql import functions as F

from samba_spark.artifacts import ArtifactStore
from samba_spark.blackbox import (
    ExecutionPlanning,
    run_command,
    run_scientific_application,
    save_files_at,
)
from samba_spark.sources.filegroup import FileGroupTemplate


@pytest.fixture()
def input_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "input.txt").write_text("alpha\nbeta\ngamma\n")
    (d / "other.txt").write_text("untouched\n")
    return str(d)


def test_file_groups_source(engine, input_dir):
    t = FileGroupTemplate.of_directory(input_dir, name="g1", NAME="demo")
    pdf = engine.file_groups(t)
    rows = pdf.collect()
    assert len(rows) == 1
    g = rows[0]
    assert g.group_name == "g1"
    assert g.extra_info == {"NAME": "demo"}
    names = sorted(f.name for f in g.files)
    assert names == ["input.txt", "other.txt"]
    assert all(not f.modified for f in g.files)
    content = {f.name: bytes(f.content) for f in g.files}
    assert content["input.txt"] == b"alpha\nbeta\ngamma\n"


def test_run_command_round_trip(engine, input_dir, tmp_path):
    """FIXTURES.md fixture: `wc -l input.txt > stats.txt` → new group has
    stats.txt modified=true, original unmodified, provenance edge
    input-group → output-group, artifact store holds both versions."""
    t = FileGroupTemplate.of_file(os.path.join(input_dir, "input.txt"), name="g")
    src = engine.file_groups(t).with_elements()
    src.persist_elements()
    out = run_command(src, "wc -l input.txt > stats.txt")
    out.persist_elements()
    rows = out.collect()
    assert len(rows) == 1
    g = rows[0]
    assert g.exit_code == 0
    by_name = {f.name: f for f in g.files}
    assert set(by_name) == {"input.txt", "stats.txt"}
    assert by_name["stats.txt"].modified is True
    assert bytes(by_name["stats.txt"].content).decode().split() == ["3", "input.txt"]
    assert by_name["input.txt"].modified is False

    # provenance edge: output group element depends on input group element
    in_ids = {
        r.element_id
        for r in engine.store.table("elements")
        .where(F.col("task_id") == src.task_id)
        .collect()
    }
    out_deps = {
        r.dep_element_id
        for r in engine.store.table("element_deps")
        .where(F.col("task_id") == out.task_id)
        .collect()
    }
    assert out_deps and out_deps <= in_ids

    # artifact store: both versions present (input blob + stats blob)
    store = ArtifactStore(str(tmp_path / "artifacts"))
    manifest_in = store.commit(src)
    manifest_out = store.commit(out)
    assert manifest_in.count() == 1
    assert manifest_out.count() == 2
    shas = {r.sha256 for r in manifest_out.collect()}
    for sha in shas:
        assert os.path.exists(store.blob_path(sha))
    # input.txt content identical in both commits → deduplicated blob
    sha_in = manifest_in.collect()[0].sha256
    assert sha_in in shas
    refs = engine.store.table("filegroup_refs").collect()
    assert len(refs) >= 2


def test_run_scientific_application_template(engine, input_dir):
    """A6: {{VAR}} rendering from extra_info (reference Jtwig templating,
    FileGroupRDDFunctions.scala:18-29)."""
    t = FileGroupTemplate.of_file(
        os.path.join(input_dir, "input.txt"), name="g", TARGET="copied.txt"
    )
    src = engine.file_groups(t)
    out = run_scientific_application(src, "cp input.txt {{TARGET}}")
    g = out.collect()[0]
    names = {f.name for f in g.files}
    assert "copied.txt" in names


def test_run_scientific_application_missing_var(engine, input_dir):
    t = FileGroupTemplate.of_file(os.path.join(input_dir, "input.txt"), name="g")
    src = engine.file_groups(t)
    out = run_scientific_application(src, "cp input.txt {{NOPE}}")
    with pytest.raises(Exception, match="NOPE"):
        out.collect()


def test_run_command_failure_raises(engine, input_dir):
    t = FileGroupTemplate.of_file(os.path.join(input_dir, "input.txt"), name="g")
    src = engine.file_groups(t)
    out = run_command(src, "exit 7")
    with pytest.raises(Exception, match="exit 7|failed"):
        out.collect()


def test_execution_planning_filter_and_env(engine, input_dir):
    t = FileGroupTemplate.of_file(os.path.join(input_dir, "input.txt"), name="g")
    src = engine.file_groups(t)
    plan = ExecutionPlanning(
        command='echo "$GREETING" > hello.txt; touch junk.tmp',
        env={"GREETING": "hi"},
        keep_file=lambda rel: not rel.endswith(".tmp"),
    )
    g = run_command(src, plan).collect()[0]
    names = {f.name for f in g.files}
    assert "hello.txt" in names and "junk.tmp" not in names
    by_name = {f.name: f for f in g.files}
    assert bytes(by_name["hello.txt"].content) == b"hi\n"


def test_save_files_at(engine, input_dir, tmp_path):
    """A8 sink (reference FileGroupRDDFunctions.scala:73-87)."""
    t = FileGroupTemplate.of_directory(input_dir, name="gx")
    src = engine.file_groups(t)
    out_dir = str(tmp_path / "saved")
    save_files_at(src, out_dir)
    assert sorted(os.listdir(os.path.join(out_dir, "gx"))) == [
        "input.txt",
        "other.txt",
    ]
    assert (
        open(os.path.join(out_dir, "gx", "input.txt")).read()
        == "alpha\nbeta\ngamma\n"
    )


@pytest.mark.parametrize("key", ["..", "."])
def test_save_files_at_rejects_escaping_group_key(engine, input_dir, tmp_path, key):
    """A group key of ``..`` would write into the parent of ``directory``
    and ``.`` into ``directory`` itself: the save raises ValueError naming
    the group and writes no file outside a group's own subdirectory."""
    t = FileGroupTemplate.of_file(os.path.join(input_dir, "input.txt"), name=key)
    parent = tmp_path / "parent"
    out_dir = parent / "saved"
    with pytest.raises(ValueError, match=f"'{re.escape(key)}'"):
        save_files_at(engine.file_groups(t), str(out_dir))
    assert os.listdir(parent) == ["saved"]
    assert os.listdir(out_dir) == []


def test_sciphy_style_chain(engine, input_dir, tmp_path):
    """The reference's canonical pattern (examples/sciphy/Source Code/
    Main.scala:34-47): chained black-box stages, each consuming the prior
    stage's FileGroup, ending in save_files_at."""
    t = FileGroupTemplate.of_file(os.path.join(input_dir, "input.txt"), name="chain")
    s0 = engine.file_groups(t)
    s1 = run_command(s0, "tr a-z A-Z < input.txt > upper.txt")
    s2 = run_command(s1, "rev upper.txt > rev.txt")
    out_dir = str(tmp_path / "chain_out")
    save_files_at(s2, out_dir)
    files = sorted(os.listdir(os.path.join(out_dir, "chain")))
    assert files == ["input.txt", "rev.txt", "upper.txt"]
    assert open(os.path.join(out_dir, "chain", "upper.txt")).read() == "ALPHA\nBETA\nGAMMA\n"
    assert open(os.path.join(out_dir, "chain", "rev.txt")).read() == "AHPLA\nATEB\nAMMAG\n"


def test_save_files_at_async(engine, input_dir, tmp_path):
    """A8 async variant (reference FileGroupRDDFunctions.scala:80-87):
    returns a Future; files land when it resolves."""
    from samba_spark.blackbox import save_files_at_async

    t = FileGroupTemplate.of_directory(input_dir, name="g1")
    pdf = engine.file_groups(t)
    out_dir = str(tmp_path / "async_out")
    fut = save_files_at_async(pdf, out_dir)
    assert fut.result(timeout=120) == out_dir
    assert sorted(os.listdir(os.path.join(out_dir, "g1"))) == [
        "input.txt",
        "other.txt",
    ]


def test_spill_and_hydrate_contents(engine, input_dir, tmp_path):
    """spill_contents moves >=threshold payloads to the content-addressed
    blob dir (content NULL, content_ref set); hydrate_contents restores
    them byte-exact; identical content stores one blob."""
    from samba_spark.sources.filegroup import hydrate_contents, spill_contents

    t = FileGroupTemplate.of_directory(input_dir, name="g1")
    pdf = engine.file_groups(t)
    blob_root = str(tmp_path / "spill")
    # input.txt (17 B) crosses a 10-byte threshold, other.txt (10 B) not
    spilled = spill_contents(pdf, blob_root, threshold=11)
    g = spilled.collect()[0]
    by_name = {f.name: f for f in g.files}
    assert by_name["input.txt"].content is None
    assert by_name["input.txt"].content_ref is not None
    assert os.path.exists(by_name["input.txt"].content_ref)
    assert by_name["other.txt"].content is not None
    assert by_name["other.txt"].content_ref is None

    hydrated = hydrate_contents(spilled)
    h = {f.name: f for f in hydrated.collect()[0].files}
    assert bytes(h["input.txt"].content) == b"alpha\nbeta\ngamma\n"
    assert h["input.txt"].content_ref is None


def test_run_command_on_spilled_group(engine, input_dir, tmp_path):
    """The black-box executor resolves content_refs transparently: a
    spilled group runs the same command with the same result as inline."""
    from samba_spark.sources.filegroup import spill_contents

    t = FileGroupTemplate.of_directory(input_dir, name="g1")
    pdf = engine.file_groups(t)
    spilled = spill_contents(pdf, str(tmp_path / "spill"), threshold=1)
    out = run_command(spilled, "wc -l < input.txt > stats.txt")
    g = out.collect()[0]
    by_name = {f.name: f for f in g.files}
    assert bytes(by_name["stats.txt"].content).strip() == b"3"
    assert by_name["stats.txt"].modified
    # outputs come back inline (refs are an input-side optimization)
    assert all(f.content_ref is None for f in g.files)


def test_artifact_commit_on_spilled_group(engine, input_dir, tmp_path):
    """ArtifactStore.commit reads through refs: manifest sha equals the
    sha of the original bytes."""
    import hashlib

    from samba_spark.sources.filegroup import spill_contents

    t = FileGroupTemplate.of_directory(input_dir, name="g1")
    pdf = engine.file_groups(t)
    spilled = spill_contents(pdf, str(tmp_path / "spill"), threshold=1)
    store = ArtifactStore(str(tmp_path / "artifacts"))
    manifest = store.commit(spilled)
    rows = {r.file_name: r for r in manifest.collect()}
    want = hashlib.sha256(b"alpha\nbeta\ngamma\n").hexdigest()
    assert rows["input.txt"].sha256 == want
    assert store.read_blob(want) == b"alpha\nbeta\ngamma\n"
