#!/usr/bin/env python
"""SciPhy-shaped workflow on samba_spark — the reference's flagship demo
re-expressed on this engine (reference: examples/sciphy/Source Code/
Main.scala:34-47 chains fileGroup → runScientificApplication×4 with
{{NAME}} templating → saveFilesAt, with per-stage names/schemas and
provenance recorded throughout).

This demo uses POSIX text tools as the "scientific applications" so it
runs anywhere; the shape is identical: a file-group source, a chain of
templated black-box stages each registering a provenance task, results
saved to a directory, artifacts version-controlled, and the dataflow
queried back from the provenance store at the end.

Run:  python examples/sciphy_like.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from samba_spark.artifacts import ArtifactStore
from samba_spark.blackbox import run_scientific_application, save_files_at
from samba_spark.session import ProvSession, get_spark
from samba_spark.sources.filegroup import FileGroupTemplate


def main() -> None:
    workspace = tempfile.mkdtemp(prefix="sciphy_like_")
    # -- input "sequences": one file group per sample, like parserInputFile
    inputs = []
    for i, seq in enumerate(["ACGTACGT", "TTGGCCAA", "ACACACAC"]):
        d = os.path.join(workspace, f"sample{i}")
        os.makedirs(d)
        with open(os.path.join(d, "input.fasta"), "w") as f:
            f.write(f">sample{i}\n{seq}\n")
        inputs.append(
            FileGroupTemplate.of_file(
                os.path.join(d, "input.fasta"), name=f"sample{i}", NAME=f"sample{i}"
            )
        )

    spark = get_spark(app_name="sciphy_like")
    engine = ProvSession(
        spark,
        name="sciphy_like",
        prov_dir=os.path.join(workspace, "prov"),
    )

    # -- the 4-stage chain (align → convert → model → tree in the
    #    reference; here: lowercase → linecount → checksum → report)
    groups = engine.file_groups(*inputs)
    aligned = run_scientific_application(
        groups, "tr 'ACGT' 'acgt' < input.fasta > {{NAME}}.aligned",
        name="Align",
    )
    converted = run_scientific_application(
        aligned, "wc -c < {{NAME}}.aligned > {{NAME}}.stats", name="Convert"
    )
    modeled = run_scientific_application(
        converted, "cksum {{NAME}}.aligned > {{NAME}}.model", name="Model"
    )
    report = run_scientific_application(
        modeled,
        "cat {{NAME}}.stats {{NAME}}.model > {{NAME}}.report",
        name="Report",
    )

    # A2 (the reference's spark.sciSpark.versionControl): an explicit commit
    ArtifactStore(os.path.join(workspace, "artifacts")).commit(report)
    out_dir = os.path.join(workspace, "output")
    save_files_at(report, out_dir)

    produced = sorted(
        f for _, _, files in os.walk(out_dir) for f in files
    )
    print("produced files:", produced)

    # -- query the recorded dataflow back (reference WebApplication's
    #    executions/task-DAG endpoints, DataElementAPICtrl.kt)
    tasks = engine.store.table("tasks").select(
        "task_id", "transformation_type", "description"
    )
    print("task rows:", tasks.count())
    tasks.show(truncate=False)

    engine.stop()
    print("provenance at:", engine.prov_dir)


if __name__ == "__main__":
    main()
